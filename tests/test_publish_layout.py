"""Publish layout: month-rebalanced sorted publish
(``write.distribution-mode=hash``) of tier files.

The pipeline's writes emulate Iceberg's ``write.distribution-mode=hash``
+ sort order (rtsa_spark/storage.py::cluster_for_publish): without it, a
month-partitioned write sprays every shuffle partition into every month
dir (shuffle_partitions x months files) and parquet row groups carry
useless (source, bucket_start) min/max stats. These tests pin both
effects at tiny scale: file counts bounded by partitions + months (not
their product), and every data file internally sorted so row-group
pruning stays tight at 100 TB.
"""

from __future__ import annotations

import os

import pyspark.sql.functions as F

from rtsa_spark.pipeline import TierPipeline
from tests.fragment import split_parquet_dir


def _parquet_files(root):
    out = []
    for dirpath, _dirs, files in os.walk(root):
        out.extend(
            os.path.join(dirpath, f) for f in files if f.endswith(".parquet")
        )
    return out


def _assert_sorted_files(files, keys):
    import pyarrow.parquet as pq

    assert files
    for path in files:
        t = pq.read_table(path, columns=keys).to_pandas()
        if len(t) < 2:
            continue
        ordered = t.sort_values(keys, kind="mergesort").reset_index(drop=True)
        assert t.reset_index(drop=True).equals(ordered), (
            f"rows not sorted by {keys} in {path}"
        )


def test_publish_is_clustered_and_sorted(spark, tiny_sequences, tmp_path):
    """run(): every tier data file is sorted by (source, bucket_start) and
    the file count is bounded by shuffle_partitions + months, not their
    product (the unclustered spray)."""
    base = str(tmp_path / "layout")
    p = TierPipeline(spark, base, gapfill_tiers=(), metrics_tiers=())
    p.run(tiny_sequences)

    n_shuffle = int(spark.conf.get("spark.sql.shuffle.partitions"))
    months = (
        tiny_sequences.select(
            F.date_format("ts", "yyyy-MM").alias("m")
        )
        .distinct()
        .count()
    )
    for tier in ("raw", "hourly", "daily"):
        files = _parquet_files(f"{base}/rollup_{tier}")
        assert len(files) <= n_shuffle + months, (
            tier,
            len(files),
            n_shuffle,
            months,
        )
        _assert_sorted_files(files, ["source", "bucket_start"])


def test_refresh_writes_clustered_partitions(spark, tiny_sequences, tmp_path):
    """refresh_months(): the rewritten month's files are also sorted (the
    dynamic-overwrite path must not regress to the unclustered layout)."""
    base = str(tmp_path / "layout_r")
    p = TierPipeline(spark, base, gapfill_tiers=(), metrics_tiers=())
    p.run(tiny_sequences)

    feb = F.date_format(F.col("ts"), "yyyy-MM") == "2024-02"
    corrected = tiny_sequences.withColumn(
        "n_tok", F.when(feb, F.col("n_tok") * 2).otherwise(F.col("n_tok"))
    )
    p.refresh_months(corrected, ["2024-02"])
    files = _parquet_files(f"{base}/rollup_hourly/p_month=2024-02")
    _assert_sorted_files(files, ["source", "bucket_start"])


def test_snapshot_publish_is_sorted(spark, tiny_sequences, tmp_path):
    """Snapshot-store versions carry the same sorted layout."""
    base = str(tmp_path / "layout_s")
    p = TierPipeline(
        spark,
        base,
        gapfill_tiers=(),
        metrics_tiers=(),
        snapshot_tiers=("hourly",),
    )
    p.run(tiny_sequences)
    files = _parquet_files(f"{base}/rollup_hourly")
    _assert_sorted_files(files, ["source", "bucket_start"])


def _scan_lines(df, marker):
    import contextlib
    import io

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return [ln for ln in buf.getvalue().splitlines() if marker in ln]


def test_read_stage_time_range_prunes_and_matches(
    spark, tiny_sequences, tmp_path
):
    """read_stage(start, end, sources): content equals the manually
    filtered full read (half-open [start, end)), the p_month range lands
    as a PARTITION filter (directory pruning), and the row predicates are
    pushed to the parquet scan (where the sorted layout makes row-group
    stats tight)."""
    base = str(tmp_path / "pruned")
    p = TierPipeline(spark, base, gapfill_tiers=(), metrics_tiers=())
    p.run(tiny_sequences)

    start, end = "2024-02-10T00:00:00", "2024-03-05T00:00:00"
    got = p.read_stage(
        "rollup_hourly", start=start, end=end, sources=["s001", "s003"]
    )
    full = p.read_stage("rollup_hourly")
    want = full.where(
        (F.col("bucket_start") >= start)
        & (F.col("bucket_start") < end)
        & F.col("source").isin("s001", "s003")
    )
    assert got.exceptAll(want).count() == 0
    assert want.exceptAll(got).count() == 0
    assert got.count() > 0

    # half-open: a bucket exactly at `end` is excluded, at `start` included
    assert (
        got.where(F.col("bucket_start") == F.lit(end).cast("timestamp")).count()
        == 0
    )

    part = _scan_lines(got, "PartitionFilters")
    assert part and "p_month" in part[0], part
    pushed = _scan_lines(got, "PushedFilters")
    assert pushed and "bucket_start" in pushed[0] and "source" in pushed[0], (
        pushed
    )


def test_read_stage_snapshot_manifest_prunes_months(
    spark, tiny_sequences, tmp_path
):
    """Snapshot-backed stage: the time range prunes the MANIFEST listing —
    only in-range month dirs are ever handed to the reader."""
    base = str(tmp_path / "pruned_s")
    p = TierPipeline(
        spark,
        base,
        gapfill_tiers=(),
        metrics_tiers=(),
        snapshot_tiers=("daily",),
    )
    p.run(tiny_sequences)

    got = p.read_stage(
        "rollup_daily", start="2024-02-01T00:00:00", end="2024-03-01T00:00:00"
    )
    months = {f.split("p_month=")[1].split("/")[0] for f in got.inputFiles()}
    assert months == {"2024-02"}
    want = p.read_stage("rollup_daily").where(
        F.date_format("bucket_start", "yyyy-MM") == "2024-02"
    )
    assert got.exceptAll(want).count() == 0
    assert want.exceptAll(got).count() == 0


def test_read_stage_rejects_time_args_on_timeless_stage(
    spark, tiny_sequences, tmp_path
):
    """metrics stages have no time column: start/end must refuse loudly,
    not silently return the unfiltered table."""
    import pytest

    base = str(tmp_path / "pruned_m")
    p = TierPipeline(
        spark, base, gapfill_tiers=(), metrics_tiers=("daily",)
    )
    p.run(tiny_sequences)
    with pytest.raises(ValueError, match="no time column"):
        p.read_stage("metrics_daily", start="2024-02-01T00:00:00")


def test_compact_stage_preserves_content_and_shrinks_files(
    spark, tiny_sequences, tmp_path
):
    """compact_stage: months with >=2 sub-target files collapse to one
    file each, content is bit-identical, files stay sorted (row-group
    stats preserved), the partition manifest records COMPACT rows, and a
    second run is a no-op."""
    base = str(tmp_path / "compact")
    p = TierPipeline(spark, base, gapfill_tiers=(), metrics_tiers=())
    p.run(tiny_sequences)

    stage_dir = f"{base}/rollup_hourly"
    # the clustered publish already writes ~1 file per month at tiny
    # scale — FRAGMENT the tier first (6 unsorted files per month, the
    # layout a long run of tiny late-data refreshes would accrete):
    # materialize each month's splits to a side dir, then swap the files
    # at the os level (writing a dir while reading it races the scan)
    import shutil

    for d in list(os.listdir(stage_dir)):
        if not d.startswith("p_month="):
            continue
        mpath = os.path.join(stage_dir, d)
        side = mpath + "_fragtmp"
        spark.read.parquet(mpath).repartition(6).write.mode(
            "overwrite"
        ).parquet(side)
        for f in _parquet_files(mpath):
            os.remove(f)
        for i, f in enumerate(sorted(os.listdir(side))):
            if f.endswith(".parquet"):
                os.rename(
                    os.path.join(side, f),
                    os.path.join(mpath, f"frag-{i}.parquet"),
                )
        shutil.rmtree(side)
    df_before = spark.read.parquet(stage_dir).drop("p_month")
    before = df_before.select(
        F.count(F.lit(1)).alias("n"),
        F.expr("bit_xor(xxhash64(source, bucket_start, n_tok_sum))").alias("x"),
    ).first()
    per_month_before = {}
    for d in os.listdir(stage_dir):
        if d.startswith("p_month="):
            per_month_before[d] = len(
                _parquet_files(os.path.join(stage_dir, d))
            )
    assert all(n >= 2 for n in per_month_before.values()), per_month_before

    res = p.compact_stage("rollup_hourly", target_rows=10**9)
    assert res, "expected at least one compacted month"
    for m, acc in res.items():
        assert acc["files_after"] == 1 and acc["files_before"] >= 2, (m, acc)

    df_after = spark.read.parquet(stage_dir).drop("p_month")
    after = df_after.select(
        F.count(F.lit(1)).alias("n"),
        F.expr("bit_xor(xxhash64(source, bucket_start, n_tok_sum))").alias("x"),
    ).first()
    assert before == after  # content bit-identical

    _assert_sorted_files(_parquet_files(stage_dir), ["source", "bucket_start"])

    # manifest records the compaction per month
    import json

    with open(p._partition_ledger_path) as f:
        compacts = [
            r
            for line in f
            if line.strip()
            for r in [json.loads(line)]
            if r["status"] == "COMPACT" and r["stage"] == "rollup_hourly"
        ]
    assert {r["p_month"] for r in compacts} == set(res)

    # idempotent: everything is one file per month now, nothing to group
    assert p.compact_stage("rollup_hourly", target_rows=10**9) == {}

    # pruned read still works over the compacted layout
    got = p.read_stage(
        "rollup_hourly",
        start="2024-02-01T00:00:00",
        end="2024-03-01T00:00:00",
    )
    want = (
        spark.read.parquet(stage_dir)
        .drop("p_month")
        .where(F.date_format("bucket_start", "yyyy-MM") == "2024-02")
    )
    assert got.exceptAll(want).count() == 0
    assert want.exceptAll(got).count() == 0


def _fragment_snapshot_months(spark, store, months=None):
    """Test fixture: split each current-version month dir into 4 unsorted
    files (simulating fragmented historical writes) by os-level swap."""
    for month, ver in store.months().items():
        if months is None or month in months:
            split_parquet_dir(spark, store.version_dir(month, ver), 4)


def test_compact_stage_snapshot_rewrite(spark, tiny_sequences, tmp_path):
    """Snapshot-backed stages compact through the snapshot log: a whole-
    table rewrite commit (all months on one fresh clustered version),
    content bit-identical, time travel to the fragmented snapshot intact,
    COMPACT manifest rows carry the new snapshot_id, and re-running is a
    no-op (no empty commits)."""
    import json

    base = str(tmp_path / "compact_s")
    p = TierPipeline(
        spark,
        base,
        gapfill_tiers=(),
        metrics_tiers=(),
        snapshot_tiers=("hourly",),
    )
    p.run(tiny_sequences)
    store = p._store("rollup_hourly")
    _fragment_snapshot_months(spark, store)
    digest = lambda df: df.select(  # noqa: E731
        F.count(F.lit(1)).alias("n"),
        F.expr("bit_xor(xxhash64(source, bucket_start, n_tok_sum))").alias("x"),
    ).first()
    before = digest(p.read_stage("rollup_hourly"))
    pre = store.current_snapshot()

    res = p.compact_stage("rollup_hourly", target_rows=10**9)
    assert res and all(
        a["files_before"] >= 2 and a["files_after"] < a["files_before"]
        for a in res.values()
    ), res
    assert digest(p.read_stage("rollup_hourly")) == before
    assert len(set(store.months().values())) == 1  # one version everywhere
    # time travel to the fragmented snapshot still reads its exact files
    assert digest(store.read(asof=pre)) == before
    # sorted clustered files after the rewrite
    cur_files = [
        f
        for m, v in store.months().items()
        for f in _parquet_files(store.version_dir(m, v))
    ]
    _assert_sorted_files(cur_files, ["source", "bucket_start"])
    # manifest: COMPACT rows with the committing snapshot id
    with open(p._partition_ledger_path) as f:
        compacts = [
            r
            for line in f
            if line.strip()
            for r in [json.loads(line)]
            if r["status"] == "COMPACT" and r["stage"] == "rollup_hourly"
        ]
    assert {r["p_month"] for r in compacts} == set(res)
    assert all(r["snapshot_id"] == pre + 1 for r in compacts)
    # idempotent: fresh clustered version has nothing to compact
    assert p.compact_stage("rollup_hourly", target_rows=10**9) == {}
    assert store.current_snapshot() == pre + 1  # no empty commit

    # month-scoped: only the requested fragmented month gets a new
    # version; the others keep theirs
    _fragment_snapshot_months(spark, store, months=["2024-02"])
    keep = {m: v for m, v in store.months().items() if m != "2024-02"}
    res2 = p.compact_stage(
        "rollup_hourly", target_rows=10**9, months=["2024-02"]
    )
    assert set(res2) == {"2024-02"}
    after_map = store.months()
    assert {m: v for m, v in after_map.items() if m != "2024-02"} == keep
    assert after_map["2024-02"] not in keep.values()
    assert digest(p.read_stage("rollup_hourly")) == before


def test_vacuum_removes_crash_orphans_only(spark, tiny_sequences, tmp_path):
    """vacuum(): orphan ._tmp_/._compact_/._old_ leftovers from dead runs
    are removed; live data, ledgers, and the CURRENT run's own in-flight
    dirs survive."""
    base = str(tmp_path / "vac")
    p = TierPipeline(spark, base, gapfill_tiers=(), metrics_tiers=())
    p.run(tiny_sequences)

    # fabricate crash debris from a "dead" run
    dead = [
        f"{base}/rollup_daily._tmp_deadbeef0000",
        f"{base}/rollup_hourly/p_month=2024-02._compact_deadbeef0000",
        f"{base}/rollup_hourly/p_month=2024-02._old_deadbeef0000",
    ]
    for d in dead:
        os.makedirs(d)
        open(os.path.join(d, "part-0.parquet"), "w").write("junk")
    live_own = f"{base}/rollup_daily._tmp_{p.run_id}"
    os.makedirs(live_own)

    before = spark.read.parquet(f"{base}/rollup_daily").count()
    removed = p.vacuum()
    assert sorted(removed) == sorted(dead)
    for d in dead:
        assert not os.path.exists(d)
    assert os.path.exists(live_own)  # current run's in-flight build kept
    os.rmdir(live_own)

    # tables and ledgers untouched
    assert spark.read.parquet(f"{base}/rollup_daily").count() == before
    assert os.path.exists(p._ledger_path)
    assert p.vacuum() == []


def test_vacuum_heals_interrupted_compaction_swap(
    spark, tiny_sequences, tmp_path
):
    """A crash inside compact_stage's two-rename swap leaves the month's
    ONLY copy under p_month=M._old_<dead-run>; vacuum must RESTORE it,
    never reap it (that would be silent month loss the fingerprint skip
    would then propagate forever)."""
    base = str(tmp_path / "heal")
    p = TierPipeline(spark, base, gapfill_tiers=(), metrics_tiers=())
    p.run(tiny_sequences)

    mdir = f"{base}/rollup_hourly/p_month=2024-02"
    before = spark.read.parquet(f"{base}/rollup_hourly").count()
    # simulate the crash window: live dir moved aside, replacement missing
    os.rename(mdir, mdir + "._old_deadbeef0000")
    removed = p.vacuum()
    # healed, not deleted: the live path is back and reads are whole again
    assert os.path.exists(mdir)
    assert not os.path.exists(mdir + "._old_deadbeef0000")
    assert mdir + "._old_deadbeef0000" not in removed
    assert spark.read.parquet(f"{base}/rollup_hourly").count() == before
    # an ._old_ whose live dir EXISTS is still ordinary debris
    os.makedirs(mdir + "._old_deadbeef0001")
    assert mdir + "._old_deadbeef0001" in p.vacuum()
