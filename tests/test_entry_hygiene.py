"""Entry-file hygiene: duplicate names silently clobber earlier oracles.

Two shadowing incidents this round (SQL_BENFORD constant, vocab_growth
dict key) motivated making the invariants a hard check: module-level
SQL constants must be unique, the queries()/oracle_sql() dict LITERALS
must not repeat a key (Python keeps only the last), and both dicts must
cover exactly the same names.
"""

from __future__ import annotations

import ast
import glob
import os
import re

ENTRY = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "__spark_entry__.py",
)


def _dict_literal_keys(func_name: str) -> list[str]:
    tree = ast.parse(open(ENTRY).read())
    for node in ast.walk(tree):
        if isinstance(node, ast.FunctionDef) and node.name == func_name:
            for n in ast.walk(node):
                if isinstance(n, ast.Dict):
                    return [
                        k.value for k in n.keys if isinstance(k, ast.Constant)
                    ]
    raise AssertionError(f"no dict literal found in {func_name}")


def test_sql_constants_unique():
    names = re.findall(r"^(SQL_[A-Z0-9_]+) = ", open(ENTRY).read(), re.M)
    dupes = sorted({n for n in names if names.count(n) > 1})
    assert not dupes, f"duplicate SQL constants shadow earlier oracles: {dupes}"


def test_query_dict_keys_unique_and_aligned():
    qk = _dict_literal_keys("queries")
    ok = _dict_literal_keys("oracle_sql")
    qd = sorted({k for k in qk if qk.count(k) > 1})
    od = sorted({k for k in ok if ok.count(k) > 1})
    assert not qd, f"duplicate queries() keys (last wins silently): {qd}"
    assert not od, f"duplicate oracle_sql() keys (last wins silently): {od}"
    assert set(qk) == set(ok), f"query/oracle mismatch: {set(qk) ^ set(ok)}"


# The driver's correctness gate checks the FIRST 50 queries() entries.
# This window was curated in round 4 to span every operator family; the
# round-3 incident class was SILENT REORDERING (a new query inserted
# before position 50 pushed a curated row out of the gate without any
# test noticing). Frozen by literal list — edit deliberately or append
# new queries after position 50.
GATE_WINDOW = [
    "rollup_hourly", "rollup_daily_cascade", "sequences_ladder",
    "retention_ladder", "tier_match_check", "token_histogram_cascade",
    "kmv_ladder", "encode_roundtrip_audit", "gapfill_hourly_linear",
    "zorder_skip_audit", "mask_min_obs", "mask_complete_profile",
    "mask_consecutive_gap", "metrics_series", "seasonal_mk_stats",
    "stl_stats", "stl_robust", "x11_stats", "x11_adaptive",
    "x11_yearly_amplitude", "decompose_components",
    "eof_reconstruction_audit", "scale_eof_modes", "eot_deterministic",
    "dineof_audit", "streaming_batch_parity", "stateful_tracker",
    "pipeline_publish_audit", "snapshot_time_travel",
    "asof_tier_checkpoint", "bloom_incremental_dedup", "minhash_lsh",
    "snapshot_wap", "dedup_clusters", "snapshot_merge", "ann_cosine_lsh",
    "ann_cosine_ivf", "semantic_dedup", "text_quality", "bpe_vocab_learn",
    "corpus_build", "curation_funnel", "token_budget_pack",
    "contamination_check", "media_features", "media_decode",
    "sessionize_events", "m4_downsample", "holt_winters",
    "distribution_drift",
]


def test_gate_window_frozen():
    got = _dict_literal_keys("queries")[:50]
    assert got == GATE_WINDOW, (
        "the first 50 queries() keys are the driver's correctness-gate "
        "window — a silent reorder just changed it. Diff: "
        f"{[(i, a, b) for i, (a, b) in enumerate(zip(got, GATE_WINDOW)) if a != b]}"
    )


def test_parity_appendix_covers_every_query():
    """PARITY.md's generated appendix lists every queries() key exactly
    once, in the same order (VERDICT r4 #6: every key in exactly one
    PARITY row). Regenerate with tools/gen_parity_appendix.py."""
    import re as _re

    text = open(os.path.join(os.path.dirname(ENTRY), "PARITY.md")).read()
    m = _re.search(
        r"BEGIN QUERY APPENDIX.*?END QUERY APPENDIX", text, _re.S
    )
    assert m, "PARITY.md lost its generated query appendix"
    listed = _re.findall(r"^\| `([a-z0-9_]+)` \|", m.group(0), _re.M)
    keys = _dict_literal_keys("queries")
    assert listed == keys, (
        "PARITY appendix out of sync with queries() — run "
        "tools/gen_parity_appendix.py. Diff: "
        f"{sorted(set(listed) ^ set(keys))[:10]}"
    )


def test_parity_generator_paths_are_this_checkout():
    """tools/gen_parity_appendix.py reads the entry file of, and writes the
    PARITY.md of, the checkout it sits in: run from a second clone it must
    never rewrite another checkout's appendix."""
    import importlib.util

    tool = os.path.join(os.path.dirname(ENTRY), "tools", "gen_parity_appendix.py")
    spec = importlib.util.spec_from_file_location("gen_parity_appendix", tool)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    assert os.path.samefile(mod.ENTRY, ENTRY)
    assert os.path.samefile(mod.PARITY, os.path.join(os.path.dirname(ENTRY), "PARITY.md"))


def test_query_functions_unique():
    src = open(ENTRY).read()
    names = re.findall(r"^def (q_\w+)\(", src, re.M)
    dupes = sorted({n for n in names if names.count(n) > 1})
    assert not dupes, f"duplicate query functions shadow earlier ones: {dupes}"


def _query_functions():
    tree = ast.parse(open(ENTRY).read())
    return [
        n for n in tree.body
        if isinstance(n, ast.FunctionDef) and n.name.startswith("q_")
    ]


def test_scratch_dirs_only_through_harness():
    """A q_* body that makes its own temp dir can leak it (six streaming
    queries once left their input, checkpoints and output behind on every
    run); ``_scratch`` is the one path, and ``_detach`` the one way a
    result outlives it. A hand-written createDataFrame schema is a second
    copy of the result's schema, free to drift from it: take it from the
    frame (``df.schema``)."""
    bad = []
    for fn in _query_functions():
        for n in ast.walk(fn):
            if not isinstance(n, ast.Call):
                continue
            name = getattr(n.func, "attr", getattr(n.func, "id", None))
            if name in ("mkdtemp", "rmtree"):
                bad.append(f"{fn.name}: {name}")
            elif name == "createDataFrame":
                schema = n.args[1:] + [
                    k.value for k in n.keywords if k.arg == "schema"
                ]
                if any(
                    not (isinstance(a, ast.Attribute) and a.attr == "schema")
                    for a in schema
                ):
                    bad.append(f"{fn.name}: hand-written createDataFrame schema")
    assert not bad, bad


def test_streaming_dedup_leaves_no_scratch_dir(spark):
    import tempfile

    import __spark_entry__ as E

    sf = "/root/testdata/sf0.001"
    prefix = "rtsa_stream_dedup_"
    before = {
        d for d in os.listdir(tempfile.gettempdir()) if d.startswith(prefix)
    }
    got = E.queries()["streaming_dedup"](spark, sf).collect()
    after = {
        d for d in os.listdir(tempfile.gettempdir()) if d.startswith(prefix)
    }
    assert after <= before, f"scratch dir left behind: {after - before}"
    # SQL_STREAMING_DEDUP: one 'c<doc_id % 37>' per residue in the input
    residues = {
        r["m"]
        for r in E._derived_sequences(spark, sf)
        .selectExpr("doc_id % 37 AS m")
        .distinct()
        .collect()
    }
    contents = [r["content"] for r in got]
    assert sorted(contents) == sorted(f"c{m}" for m in residues)


def _py_files(root: str, package: str) -> list[str]:
    return glob.glob(os.path.join(root, package, "**", "*.py"), recursive=True)


def _public_library_defs(root: str) -> set[str]:
    """Public top-level defs under rtsa_spark/, plus ``TierPipeline.<m>``
    for each public TierPipeline method."""
    names = set()
    for path in _py_files(root, "rtsa_spark"):
        for node in ast.parse(open(path).read()).body:
            if not isinstance(node, (ast.FunctionDef, ast.ClassDef)):
                continue
            if not node.name.startswith("_"):
                names.add(node.name)
            if node.name == "TierPipeline":
                names |= {
                    f"TierPipeline.{m.name}" for m in node.body
                    if isinstance(m, ast.FunctionDef)
                    and not m.name.startswith("_")
                }
    return names


def _referenced_outside_tests(root: str) -> set[str]:
    """Every name an AST outside tests/ mentions: a Name, an attribute, or
    an imported name, in the library, the entry file, the benchmarks and
    the tools. Docstrings, comments and ``__all__`` strings are not
    references."""
    paths = (
        _py_files(root, "rtsa_spark")
        + [ENTRY]
        + glob.glob(os.path.join(root, "bench*.py"))
        + _py_files(root, "perfbench")
        + _py_files(root, "tools")
    )
    refs = set()
    for path in paths:
        for n in ast.walk(ast.parse(open(path).read())):
            if isinstance(n, ast.Name):
                refs.add(n.id)
            elif isinstance(n, ast.Attribute):
                refs.add(n.attr)
            elif isinstance(n, ast.alias):
                refs.add(n.name.rsplit(".", 1)[-1])
    return refs


def test_library_surface_has_callers():
    """Library code that only its own tests call is surface nobody uses:
    every public def under rtsa_spark/ (and every public TierPipeline
    method) needs a caller outside tests/, or a line in the README's
    "Library-only surface" list saying why it stays. The list must name
    exactly the defs without such a caller, so it cannot go stale."""
    root = os.path.dirname(ENTRY)
    refs = _referenced_outside_tests(root)
    test_only = {
        d for d in _public_library_defs(root)
        if d.rsplit(".", 1)[-1] not in refs
    }
    readme = open(os.path.join(root, "README.md")).read()
    m = re.search(
        r"^## Library-only surface\n(.*?)(?=^## |\Z)", readme, re.M | re.S
    )
    assert m, "README.md lost its Library-only surface list"
    listed = set(re.findall(r"^- `([\w.]+)`", m.group(1), re.M))
    missing = sorted(test_only - listed)
    assert not missing, (
        "public defs only tests call — delete them, or list them under "
        f"README 'Library-only surface' with a reason: {missing}"
    )
    assert not listed - test_only, (
        "README 'Library-only surface' names defs that are gone or now "
        f"have a caller: {sorted(listed - test_only)}"
    )
