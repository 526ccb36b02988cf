"""Physical-plan audit: print/inspect the plans of the engine's core
operators and assert the properties that matter at 100 TB:

- parquet scans are column-pruned (ReadSchema excludes `tokens` for the
  ladder) and filter-pushed (PushedFilters non-empty where a filter exists);
- aggregations are partial/final hash aggs (map-side combine present);
- the ladder's stages sit inside WholeStageCodegen spans;
- the mask semi-join broadcasts the key set;
- gap-fill is window exchange + projection (no UDF).

Usage: python tools/explain_audit.py  (prints a PASS/FAIL line per check)
"""

from __future__ import annotations

import contextlib
import io
import os
import re
import shutil
import sys
import tempfile

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def plan_of(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def check(name: str, ok: bool, detail: str = "") -> bool:
    print(f"{'PASS' if ok else 'FAIL'} {name}" + (f"  [{detail}]" if detail else ""))
    return ok


def main() -> int:
    """Run every check with its files under one fresh scratch dir, which
    is removed however the run ends."""
    tmp = tempfile.mkdtemp(prefix="rtsa_audit_")
    try:
        return _audit(tmp)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def _audit(tmp: str) -> int:
    from rtsa_spark.operators.gapfill import gapfill_linear
    from rtsa_spark.operators.masks import apply_mask, mask_min_observations
    from rtsa_spark.operators.rollup import rollup_next, rollup_raw
    from rtsa_spark.session import get_spark
    from rtsa_spark.synth import synth_sequences

    spark = get_spark(
        app_name="explain_audit", cores=4, shuffle_partitions=4,
        # AQE wraps plans in AdaptiveSparkPlan pre-execution, hiding codegen
        # markers from static explain; disable it for static-structure audit
        extra_conf={"spark.sql.adaptive.enabled": "false"},
    )
    seq_path = os.path.join(tmp, "seq")
    synth_sequences(spark, 5000, n_sources=4).write.mode("overwrite").parquet(seq_path)
    seq = spark.read.parquet(seq_path)

    ok = True

    # 1. ladder scan prunes tokens + keeps whole-stage codegen
    raw_plan = plan_of(rollup_raw(seq))
    ok &= check(
        "ladder scan prunes tokens column",
        "tokens" not in raw_plan.split("ReadSchema")[1].split("\n")[0],
        "ReadSchema excludes tokens",
    )
    ok &= check("raw tier partial agg (map-side combine)",
                "partial_count" in raw_plan and "partial_sum" in raw_plan)
    # codegen stages show as *(n) in the simple physical plan string
    simple = rollup_raw(seq)._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("simple")
    )
    ok &= check("raw tier in WholeStageCodegen", "*(" in simple)

    # 2. filter pushdown reaches the scan
    filtered_plan = plan_of(seq.where("source = 's001'").select("source", "n_tok"))
    pushed = "PushedFilters: [" in filtered_plan and "IsNotNull(source)" in filtered_plan
    ok &= check("filter pushed to parquet scan", pushed)

    # 3. cascade reads only tier columns (no re-scan of sequences)
    hourly_plan = plan_of(rollup_next(rollup_raw(seq), "hourly"))
    # formatted mode prints each scan twice (tree + details): one scan == 2
    ok &= check("cascade has no second sequences scan",
                hourly_plan.count("Scan parquet") == 2)

    # 4. mask semi-join broadcasts
    hr = rollup_next(rollup_raw(seq), "hourly")
    mask = mask_min_observations(hr, 2)
    masked_plan = plan_of(apply_mask(seq, mask))
    ok &= check("mask applies as broadcast semi-join",
                "BroadcastHashJoin" in masked_plan and "LeftSemi" in masked_plan)

    # 5. gap-fill is pure window algebra (no python UDF in plan)
    gap_plan = plan_of(gapfill_linear(hr, "hourly"))
    ok &= check("gap-fill has no Python/Arrow eval node",
                "ArrowEvalPython" not in gap_plan and "BatchEvalPython" not in gap_plan)
    ok &= check("gap-fill uses window exchange", "Window" in gap_plan)

    # 6. minhash: the text is split once (projected), not once per shingle
    #    word/signature — count split() occurrences in the plan details
    from rtsa_spark.operators.dedup import minhash_lsh_buckets, ngram_jaccard_lsh

    docs = spark.createDataFrame(
        [(i, "alpha beta gamma delta epsilon zeta " * 3) for i in range(4)],
        "doc_id long, text string",
    )
    mh_plan = plan_of(minhash_lsh_buckets(docs))
    ok &= check(
        "minhash splits text once per doc",
        mh_plan.count("split(text") <= 2,  # formatted prints expr ~twice
        f"split occurrences: {mh_plan.count('split(text')}",
    )
    ok &= check("minhash partial-aggregates signatures map-side",
                "partial_min" in mh_plan)

    # 7. LSH-fed jaccard: candidate join is a bounded equi-join, never a
    #    nested-loop/cartesian pair enumeration
    jac_plan = plan_of(ngram_jaccard_lsh(docs, min_jaccard_e4=0))
    ok &= check(
        "jaccard LSH candidates use equi-join (no cartesian)",
        "CartesianProduct" not in jac_plan
        and "BroadcastNestedLoopJoin" not in jac_plan,
    )

    # 7b. duplicate-spans: linear fingerprint index, never a pairwise
    #     doc join — equi-join on fingerprint + map-side combined counts
    from rtsa_spark.operators.dedup import duplicate_spans

    ds_plan = plan_of(duplicate_spans(docs))
    ok &= check(
        "duplicate_spans joins on fingerprint only (no cartesian)",
        "CartesianProduct" not in ds_plan
        and "BroadcastNestedLoopJoin" not in ds_plan,
    )
    ok &= check("duplicate_spans carrier count combines map-side",
                "partial_count" in ds_plan)

    # 7c. line dedup: duplicate index is a hash-only groupBy (map-side
    #     combined), kill positions come back via equi-joins — never a
    #     cartesian, never Python
    from rtsa_spark.operators.dedup import line_dedup

    ld_plan = plan_of(line_dedup(docs))
    ok &= check(
        "line_dedup equi-joins only (no cartesian/BNLJ)",
        "CartesianProduct" not in ld_plan
        and "BroadcastNestedLoopJoin" not in ld_plan,
    )
    ok &= check("line_dedup duplicate index combines map-side",
                "partial_count" in ld_plan and "partial_min" in ld_plan)
    ok &= check("line_dedup stays JVM-side (no Python eval)",
                "EvalPython" not in ld_plan and "InPandas" not in ld_plan)

    # 7d. PII redaction is a pure projection: no shuffle, no Python —
    #     runs at scan speed inside whole-stage codegen
    from rtsa_spark.functions.text import redact_pii

    rp_plan = plan_of(redact_pii(docs))
    ok &= check("redact_pii has no shuffle", "Exchange" not in rp_plan)
    ok &= check("redact_pii stays JVM-side (no Python eval)",
                "EvalPython" not in rp_plan and "InPandas" not in rp_plan)
    ok &= check("redact_pii whole-stage codegen",
                "[codegen id :" in rp_plan)

    # 7e. hashed-linear quality classifier is likewise a pure projection:
    #     split once, weights folded inside the row (no explode/shuffle)
    from rtsa_spark.functions.text import quality_classifier

    qc_plan = plan_of(quality_classifier(docs))
    ok &= check("quality_classifier has no shuffle", "Exchange" not in qc_plan)
    ok &= check("quality_classifier has no explode", "Generate" not in qc_plan)
    ok &= check("quality_classifier stays JVM-side (no Python eval)",
                "EvalPython" not in qc_plan and "InPandas" not in qc_plan)
    # (split appears twice in the Project text — size() + transform() —
    # but runtime subexpression elimination CSEs it inside the codegen'd
    # stage, so assert codegen rather than a textual split count)
    ok &= check("quality_classifier whole-stage codegen",
                "[codegen id :" in qc_plan)

    # 7f. unigram surprisal: triple counts combine map-side, the unigram
    #     model re-enters via an equi-join (the only nested-loop join is
    #     the deliberate single-row N broadcast), and nothing evaluates
    #     in Python
    from rtsa_spark.operators.rollup import unigram_surprisal

    seq8 = synth_sequences(spark, 4000, n_sources=4)
    us_plan = plan_of(unigram_surprisal(seq8))
    ok &= check("unigram_surprisal has no cartesian product",
                "CartesianProduct" not in us_plan)
    ok &= check("unigram_surprisal counts combine map-side",
                "partial_count" in us_plan or "partial_sum" in us_plan)
    ok &= check("unigram_surprisal stays JVM-side (no Python eval)",
                "EvalPython" not in us_plan and "InPandas" not in us_plan)
    # formatted explain prints each node twice (tree line + detail
    # section), so ONE nested-loop node == two textual occurrences
    ok &= check(
        "unigram_surprisal nested-loop join only for the 1-row total",
        us_plan.count("BroadcastNestedLoopJoin") <= 2,
    )
    ok &= check(
        "unigram_surprisal model joins back as a broadcast hash equi-join",
        "BroadcastHashJoin" in us_plan or "SortMergeJoin" in us_plan,
    )

    # 7g. token-level decontamination: the benchmark gram set is the
    #     BROADCAST side, the corpus side joins map-side — no cartesian,
    #     no Python, counts combine map-side
    from rtsa_spark.operators.dedup import token_ngram_contamination

    tc_plan = plan_of(
        token_ngram_contamination(seq8, seq8.where("source = 's000'"))
    )
    ok &= check("token_contamination has no cartesian product",
                "CartesianProduct" not in tc_plan
                and "BroadcastNestedLoopJoin" not in tc_plan)
    ok &= check("token_contamination benchmark grams broadcast",
                "BroadcastHashJoin" in tc_plan)
    ok &= check("token_contamination counts combine map-side",
                "partial_count" in tc_plan)
    ok &= check("token_contamination stays JVM-side (no Python eval)",
                "EvalPython" not in tc_plan and "InPandas" not in tc_plan)

    # 8. analytics bucket vectors shuffle on the BUCKET, not the source —
    #    dominant sources cannot skew the Gramian exchange
    from rtsa_spark.operators.eof import bucket_vectors, source_index

    hr2 = hr.select("source", "bucket_start", "n_tok_mean")
    srcs = source_index(hr2)
    bv_plan = plan_of(bucket_vectors(hr2, srcs))
    ok &= check(
        "bucket vectors partition by bucket_start",
        "hashpartitioning(bucket_start" in bv_plan,
    )

    # 9. embedding near-dup: LSH candidate generation is an equi-join too
    from rtsa_spark.operators.similarity import embedding_near_dup_pairs

    emb = spark.createDataFrame(
        [(i, [float(i + d) for d in range(8)]) for i in range(4)],
        "vec_id long, embedding array<float>",
    )
    nd_plan = plan_of(
        embedding_near_dup_pairs(emb, min_cos_e6=0, n_planes=2, n_tables=2, dim=8)
    )
    ok &= check(
        "embedding near-dup candidates use equi-join (no cartesian)",
        "CartesianProduct" not in nd_plan
        and "BroadcastNestedLoopJoin" not in nd_plan,
    )

    # 9a. BPE vocabulary learning: the per-round pair count must partial-
    #     aggregate map-side (it runs n_merges times), and the encode fold
    #     must be a pure codegen projection (no Python, no shuffle)
    from rtsa_spark.operators.bpe import (
        _initial_state,
        _pair_counts,
        bpe_encode_counts,
        word_frequencies,
    )

    docs_txt = spark.createDataFrame(
        [(1, "s1", "aa ab aa"), (2, "s2", "aa b")],
        "doc_id long, source string, text string",
    )
    pc_plan = plan_of(_pair_counts(_initial_state(word_frequencies(docs_txt))))
    ok &= check(
        "bpe pair count partial-aggregates map-side",
        "partial_sum" in pc_plan and "CartesianProduct" not in pc_plan,
    )
    enc_plan = plan_of(bpe_encode_counts(docs_txt, [("a", "a"), ("a", "b")]))
    ok &= check(
        "bpe encode fold has no Python/Arrow eval node",
        "BatchEvalPython" not in enc_plan and "ArrowEvalPython" not in enc_plan,
    )

    # 9d. perplexity partition: model and thresholds broadcast, never a
    #     per-language doc sort (no Sort above the scored-doc exchange
    #     other than inside the bounded histogram window)
    from rtsa_spark.operators.sampling import perplexity_partition

    pp_in = spark.createDataFrame(
        [(i, "a b c", "en") for i in range(6)],
        "doc_id long, text string, lang string",
    )
    pp_plan = plan_of(perplexity_partition(pp_in, ref_mod=2))
    ok &= check(
        "perplexity_partition broadcasts model + thresholds",
        pp_plan.count("BroadcastExchange") >= 2
        and "CartesianProduct" not in pp_plan
        and "BatchEvalPython" not in pp_plan,
    )

    # 9c. matrix profile: exactly one shuffle (hash on the key into the
    #     Arrow kernel), no join at all
    from pyspark.sql import functions as F

    from rtsa_spark.operators.motif import matrix_profile

    mp_in = spark.createDataFrame(
        [("a", i, i % 3) for i in range(20)], "source string, b long, x long"
    ).select("source", F.timestamp_seconds(F.col("b") * 86400).alias("b"), "x")
    mp_plan = plan_of(matrix_profile(mp_in, "source", "b", "x", m=3))
    # formatted mode prints each node twice (tree + details): one == 2
    ok &= check(
        "matrix_profile: one key shuffle, no join",
        mp_plan.count("Exchange") == 2
        and "hashpartitioning(k" in mp_plan
        and "Join" not in mp_plan,
    )

    # 9b. semantic dedup: within-cluster pairs come from a cid equi-join
    #     (the SemDeDup design point — never all-pairs across clusters)
    from rtsa_spark.operators.similarity import semantic_dedup

    sd_plan = plan_of(semantic_dedup(emb, min_cos_e6=0, n_centroids=2, n_iter=1))
    ok &= check(
        "semantic_dedup pairs via cid equi-join (no cartesian)",
        "CartesianProduct" not in sd_plan
        and "BroadcastNestedLoopJoin" not in sd_plan,
    )

    # 10. distribution/sketch family (round 3): still pure Catalyst
    from rtsa_spark.operators.distribution import ks_two_sample, spearman_corr
    from rtsa_spark.operators.rollup import trailing_window
    from rtsa_spark.operators.sketch import kmv_distinct, value_histogram

    tier = hr.select(
        "source", "bucket_start",
        hr["n_tok_sum"].cast("bigint").alias("x"),
    )
    sp_plan = plan_of(spearman_corr(tier, "source", "bucket_start", "x"))
    ok &= check(
        "spearman pair join is an equi-join; stats broadcast back",
        "CartesianProduct" not in sp_plan
        and "BroadcastHashJoin" in sp_plan,
    )
    ks_plan = plan_of(ks_two_sample(tier, "source", "x"))
    ok &= check(
        "ks tags rows via broadcast of the tiny pair set",
        "BroadcastHashJoin" in ks_plan and "CartesianProduct" not in ks_plan,
    )
    tw_plan = plan_of(
        trailing_window(tier, 24, 3600, ["source"], "x")
    )
    ok &= check(
        "trailing window is one window pass, no join, no UDF",
        "Join" not in tw_plan and "EvalPython" not in tw_plan
        and tw_plan.count("Window") >= 1,
    )
    words = docs.select("doc_id", F_split_word())
    kmv_plan = plan_of(kmv_distinct(words, "doc_id", "word", k=8))
    ok &= check(
        "kmv dedups map-side before the shuffle (partial distinct)",
        "partial" in kmv_plan.lower() or "HashAggregate" in kmv_plan,
    )
    ok &= check("kmv has no Python eval node", "EvalPython" not in kmv_plan)
    vh_plan = plan_of(value_histogram(tier, "source", "x", 50))
    ok &= check(
        "value histogram partial-aggregates map-side",
        "partial_count" in vh_plan,
    )

    # 11. anomaly family: per-key stats broadcast back onto the tier —
    #     a codegen'd flag projection, never a window over the fact rows
    from rtsa_spark.operators.anomaly import iqr_outliers, zscore_outliers
    from rtsa_spark.operators.distribution import distribution_drift

    zs_plan = plan_of(zscore_outliers(tier, "source", "bucket_start", "x"))
    ok &= check(
        "zscore flags via broadcast of per-key moments (no window/UDF)",
        "BroadcastHashJoin" in zs_plan
        and "EvalPython" not in zs_plan
        and "partial_sum" in zs_plan,
    )
    iqr_plan = plan_of(iqr_outliers(tier, "source", "bucket_start", "x"))
    ok &= check(
        "iqr flags via broadcast of per-key quartiles (no UDF)",
        "BroadcastHashJoin" in iqr_plan and "EvalPython" not in iqr_plan,
    )
    dd_plan = plan_of(
        distribution_drift(tier, "source", "bucket_start", "x")
    )
    ok &= check(
        "distribution drift joins are equi-joins with map-side combine",
        "CartesianProduct" not in dd_plan
        and "BroadcastNestedLoopJoin" not in dd_plan
        and "EvalPython" not in dd_plan
        and "partial_count" in dd_plan,
    )

    # 12. text/cohort family (late round 3)
    from rtsa_spark.functions.text import term_lift_topk, word_bigram_topk
    from rtsa_spark.operators.counters import cohort_retention
    from rtsa_spark.operators.sessionize import phase_profile

    bg_plan = plan_of(word_bigram_topk(docs, "doc_id", "text", 5))
    ok &= check(
        "bigrams zip in codegen (no UDF), counts combine map-side",
        "EvalPython" not in bg_plan and "partial_count" in bg_plan,
    )
    tl_plan = plan_of(term_lift_topk(docs, "doc_id", "text", 5, 1))
    ok &= check(
        "term lift: vocab join is an equi-join, totals broadcast",
        "CartesianProduct" not in tl_plan
        and "BroadcastNestedLoopJoin" in tl_plan  # the 1-row grand total
        and "BroadcastHashJoin" in tl_plan,
    )
    ev = spark.createDataFrame(
        [(i % 3, i * 3600) for i in range(48)], "user_id long, ts long"
    ).select("user_id", F_ts("ts"))
    cr_plan = plan_of(cohort_retention(ev, "user_id", "ts"))
    ok &= check(
        "cohort retention: distinct-day collapse before the join, "
        "cohort sizes broadcast",
        "BroadcastHashJoin" in cr_plan and "EvalPython" not in cr_plan,
    )
    pp_plan = plan_of(
        phase_profile(tier, "source", "bucket_start", "x", "hour")
    )
    ok &= check(
        "phase profile is one composite-key agg, no join, no UDF",
        "Join" not in pp_plan and "EvalPython" not in pp_plan,
    )

    # 13. monitor family: spine joins stay equi; top_movers never ranks
    #     the whole tier in one partition (per-key prefilter window first)
    from rtsa_spark.operators.monitor import missing_ranges, top_movers

    mr_plan = plan_of(
        missing_ranges(tier.select("source", "bucket_start"), "hourly")
    )
    ok &= check(
        "missing ranges: spine anti-join is an equi-join, no UDF",
        "CartesianProduct" not in mr_plan and "EvalPython" not in mr_plan,
    )
    tm_plan = plan_of(top_movers(tier, "source", "bucket_start", "x", 5))
    ok &= check(
        "top movers: per-key prefilter window precedes the global rank",
        tm_plan.count("Window") >= 2 and "EvalPython" not in tm_plan,
    )

    # 14. bucketed KMV: distinct combines map-side BEFORE the per-bucket
    #     window; the sketch array materializes only after the k-cap
    from rtsa_spark.operators.sketch import kmv_bucket_sketch

    kb_plan = plan_of(
        kmv_bucket_sketch(
            tier.select("source", "bucket_start", "x"),
            ["source"], "bucket_start", "x", k=8,
        )
    )
    ok &= check(
        "kmv bucket sketch: map-side partial agg, no Python eval",
        ("partial" in kb_plan.lower() or "HashAggregate" in kb_plan)
        and "EvalPython" not in kb_plan,
    )

    # 15. token analytics: the exploded triple shuffle partial-aggregates
    #     map-side (the property that bounds wire volume by distinct
    #     triples, not total tokens) and stays UDF-free
    from rtsa_spark.operators.rollup import token_diversity, vocab_growth

    td_plan = plan_of(token_diversity(seq, "daily"))
    ok &= check(
        "token diversity: map-side partial agg on triples, no Python eval",
        ("partial" in td_plan.lower() or "HashAggregate" in td_plan)
        and "EvalPython" not in td_plan,
    )
    vg_plan = plan_of(vocab_growth(seq, "daily"))
    ok &= check(
        "vocab growth: combinable min-bucket agg + window, no Python eval",
        "HashAggregate" in vg_plan
        and "Window" in vg_plan
        and "EvalPython" not in vg_plan,
    )

    # 16. vocab overlap: the pair join is a token-keyed EQUI-join (never
    #     cartesian), vocabulary sizes re-enter via broadcast, no UDF
    from rtsa_spark.operators.rollup import vocab_overlap

    vo_plan = plan_of(vocab_overlap(seq, "monthly"))
    ok &= check(
        "vocab overlap: equi pair join + broadcast sizes, no cartesian/UDF",
        "BroadcastHashJoin" in vo_plan
        and "Cartesian" not in vo_plan
        and "EvalPython" not in vo_plan,
    )

    # 17. component strength: one map-side-combinable agg over the
    #     component table (key-count output rows), no extra shuffle layers
    from rtsa_spark.operators.components import (
        component_strength,
        decompose_components_deterministic,
    )

    from rtsa_spark.operators.rollup import rollup_next as _rn

    comp = decompose_components_deterministic(
        _rn(hr, "daily"), "daily", value_col="n_tok_sum", period=7
    )
    cs_plan = plan_of(component_strength(comp))
    ok &= check(
        "component strength: single hash agg over components, no join",
        "HashAggregate" in cs_plan and "Join" not in cs_plan,
    )

    # 18. seasonal-ESD composition (decompose -> k-sigma on remainders):
    #     per-key moments re-enter via broadcast, nothing Python-side
    from pyspark.sql import functions as F

    from rtsa_spark.operators.anomaly import zscore_outliers

    rem = comp.select(
        "source", "bucket_start",
        F.expr("remainder_e4 div 10000").alias("r0"),
    )
    esd_plan = plan_of(
        zscore_outliers(rem, "source", "bucket_start", "r0", k_num=3, k_den=1)
    )
    ok &= check(
        "seasonal-ESD: moment join broadcasts, no cartesian/Python eval",
        "BroadcastHashJoin" in esd_plan
        and "Cartesian" not in esd_plan
        and "EvalPython" not in esd_plan,
    )

    # 19. exact trailing quantiles: one range-frame window pass over the
    #     TIER table — no join, no shuffle beyond the window exchange,
    #     no Python eval (the sort-in-frame is a codegen array expr)
    from rtsa_spark.operators.rollup import trailing_quantile

    tq_plan = plan_of(
        trailing_quantile(hr, 24, 3600, ["source"], "n_tok_sum")
    )
    ok &= check(
        "trailing quantiles: single window pass, no join/Python eval",
        "Window" in tq_plan
        and "Join" not in tq_plan
        and "EvalPython" not in tq_plan,
    )

    # 20. pruned encoded read: the [bucket_lo, bucket_hi] envelope filter
    #     is pushed into the parquet scan of the block table (row-group
    #     min/max stats skip whole blocks before any bitstream is read)
    from rtsa_spark.operators.encode import encode_tier, read_points

    blocks_path = os.path.join(tmp, "encoded_blocks")
    encode_tier(hr, value_col="n_tok_sum").write.mode("overwrite").parquet(
        blocks_path
    )
    pr_plan = plan_of(
        read_points(
            spark.read.parquet(blocks_path),
            start="2024-02-01 00:00:00",
            end="2024-03-01 00:00:00",
        )
    )
    ok &= check(
        "pruned encoded read: envelope filter pushed to the block scan",
        "PushedFilters: [" in pr_plan and "bucket_hi" in pr_plan,
    )

    # 21. same-tier merge (the continuous-aggregate fold): one shuffle
    #     with map-side partial aggregation, no join, no Python eval —
    #     the delta-sized cost the streaming snapshot sink depends on
    from rtsa_spark.operators.rollup import merge_rollup

    hr_path = os.path.join(tmp, "hr_tier")
    hr.write.mode("overwrite").parquet(hr_path)
    hr_a = spark.read.parquet(hr_path)
    mg_plan = plan_of(merge_rollup(hr_a, hr_a))
    ok &= check(
        "merge_rollup: partial-agg union fold, one shuffle, no join/Python eval",
        "partial_sum" in mg_plan
        and "Join" not in mg_plan
        and "EvalPython" not in mg_plan
        and mg_plan.count("hashpartitioning") == 1,
    )

    # 22. snapshot-store read: the manifest-driven listing scans ONLY the
    #     mapped version dirs (no recursive scan over retained versions)
    from rtsa_spark.snapshot import SnapshotStore

    _st = SnapshotStore(spark, os.path.join(tmp, "snap"))
    _st.publish(hr)
    _st.refresh_months(
        hr.where(F.date_format("bucket_start", "yyyy-MM") == "2024-02"),
        ["2024-02"],
    )
    mapping = _st.months()
    files = _st.read().inputFiles()
    ok &= check(
        "snapshot read: lists exactly the current snapshot's version dirs",
        bool(files)
        and all(
            mapping[f.split("p_month=")[1].split("/")[0]]
            == f.split("v=")[1].split("/")[0]
            for f in files
        ),
    )

    # 22b. changelog read: the incremental diff scans ONLY the changed
    #      month's version dirs (both sides), and the plan is except/union
    #      aggregation — no join, no cartesian, no Python eval
    ch = _st.read_changes(1, 2)
    ch_files = ch.inputFiles()
    ch_plan = plan_of(ch)
    ok &= check(
        "changelog read: changed-month dirs only, no join/cartesian/Python",
        bool(ch_files)
        and all(
            f.split("p_month=")[1].split("/")[0] == "2024-02"
            for f in ch_files
        )
        and "Cartesian" not in ch_plan
        and "EvalPython" not in ch_plan,
    )

    # 22c. merge upsert: the existing-side read is manifest-pruned to the
    #      delta's months only, and the fold is an equi anti-join + union
    #      — no cartesian, no Python eval
    delta = hr.where(
        F.date_format("bucket_start", "yyyy-MM") == "2024-02"
    ).withColumn("n_tok_sum", F.col("n_tok_sum") + 1)
    head = _st.current_snapshot()
    mg_read = _st.read(asof=head, months=["2024-02"])
    mg_up = mg_read.join(
        delta.select("source", "bucket_start").distinct(),
        ["source", "bucket_start"],
        "left_anti",
    ).unionByName(delta)
    up_files = mg_read.inputFiles()
    up_plan = plan_of(mg_up)
    ok &= check(
        "merge upsert: delta-month dirs only, equi anti-join, no cartesian",
        bool(up_files)
        and all(
            f.split("p_month=")[1].split("/")[0] == "2024-02"
            for f in up_files
        )
        and "Cartesian" not in up_plan
        and "LeftAnti" in up_plan
        and "EvalPython" not in up_plan,
    )

    # 23. publish clustering: the pre-write frame is hash-rebalanced on
    #     the month with an in-partition (month, source, bucket_start)
    #     sort, and the write's fingerprint observation sits above that
    #     sort — the Iceberg write.distribution-mode=hash shape that bounds
    #     files per month, gives tight row-group stats and runs no
    #     range-sampling job (storage.py)
    from rtsa_spark.storage import cluster_for_publish, observe_fingerprint

    # (the rebalance hint needs AQE, which the pipeline's sessions run
    # with; this audit's session turns it off)
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    try:
        pub, _obs = observe_fingerprint(
            cluster_for_publish(
                hr_a.withColumn(
                    "p_month", F.date_format("bucket_start", "yyyy-MM")
                ),
                ("source", "bucket_start"),
            ),
            hr_a.columns,
        )
        pub_plan = plan_of(pub)
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", "false")
    tree = pub_plan.split("\n\n")[0]
    ok &= check(
        "publish clustering: month rebalance + local sort under the "
        "fingerprint observation, no range exchange, no global sort",
        pub_plan.count("REBALANCE_PARTITIONS_BY_COL") == 1
        and "hashpartitioning(p_month" in pub_plan
        and "rangepartitioning" not in pub_plan
        # formatted explain: a LOCAL sort's args end ", false, 0"; a
        # global sort would print ", true, 0"
        and ", false, 0" in pub_plan
        and ", true, 0" not in pub_plan
        # tree lines: CollectMetrics directly above the Sort
        and re.search(r"CollectMetrics[^\n]*\n\s*\+- (\* )?Sort", tree)
        is not None,
    )

    # 24. DSIR (r6 shape): ONE feature explode total (the model pass);
    #     scoring is a narrow fold over a broadcast dense-array model row
    #     (BroadcastNestedLoopJoin Cross against 1-row dims is the
    #     intended scalar attach) — no Python, no per-feature join probe
    from rtsa_spark.operators.sampling import dsir_select

    dsir_plan = plan_of(dsir_select(docs, ref_mod=2, m=64))
    ok &= check(
        "dsir: single model explode + broadcast scalar model, no Python",
        dsir_plan.count("Generate") <= 2  # formatted prints tree+details
        and "CartesianProduct" not in dsir_plan
        and "SortMergeJoin" not in dsir_plan
        and "EvalPython" not in dsir_plan,
        f"Generate={dsir_plan.count('Generate')}",
    )

    # 25. BM25 (r6 shape): NO token explode at all — dl and per-term tf
    #     are in-row array counts; stats attach as a broadcast scalar
    #     row; top-k plans as TakeOrderedAndProject (distributed partial
    #     top-k), never a global sort of all matched docs
    from rtsa_spark.operators.retrieval import bm25_topk

    bm_plan = plan_of(bm25_topk(docs, ["alpha", "beta"], k=3))
    ok &= check(
        "bm25: explode-free tf/dl + TakeOrderedAndProject top-k",
        "Generate" not in bm_plan
        and "TakeOrderedAndProject" in bm_plan
        and "EvalPython" not in bm_plan,
        f"Generate={bm_plan.count('Generate')}",
    )

    # 26. z-order clustering: one range exchange on the Morton key with a
    #     local (not global) sort — same publish shape as audit #23 —
    #     and the key is pure JVM bit arithmetic (no Python)
    from rtsa_spark.storage import cluster_zorder

    z_in = spark.createDataFrame(
        [(i % 7, i % 5) for i in range(40)], "x long, y long"
    )
    z_plan = plan_of(cluster_zorder(z_in, "x", "y"))
    ok &= check(
        "zorder publish: rangepartitioning + local sort, no Python",
        "rangepartitioning(_zk" in z_plan
        and ", false, 0" in z_plan
        and ", true, 0" not in z_plan
        and "EvalPython" not in z_plan,
    )

    # 27. SAX: pure window algebra — key-partitioned windows only (no
    #     global/empty-partition window) and no Python eval node
    from rtsa_spark.operators.motif import sax_words

    sax_plan = plan_of(
        sax_words(seq.select("source", "ts", "n_tok"), "source", "ts", "n_tok")
    )
    ok &= check(
        "sax: key-partitioned windows only, no Python",
        "EvalPython" not in sax_plan
        # all windows partition by the key: a global window would add a
        # SinglePartition exchange
        and "SinglePartition" not in sax_plan,
    )

    # 28. curation funnel: the whole 5-stage cascade is one Catalyst plan
    #     with hash equi-joins between stages; the only nested-loop join
    #     is the broadcast of the ONE-ROW ingest total, and nothing
    #     evaluates in Python
    from rtsa_spark.operators.curation import curation_funnel

    cf_docs = spark.createDataFrame(
        [(i, "the alpha beta gamma " * 20, "en") for i in range(4)],
        "doc_id long, text string, lang string",
    )
    cf_plan = plan_of(curation_funnel(cf_docs))
    ok &= check(
        "curation funnel: hash joins between stages, no cartesian/Python",
        "CartesianProduct" not in cf_plan
        and "EvalPython" not in cf_plan
        and ("BroadcastHashJoin" in cf_plan or "SortMergeJoin" in cf_plan)
        # the ingest-total denominator is a broadcast of one aggregate row
        and "BroadcastNestedLoopJoin" in cf_plan,
    )

    # 29. count-min sketch: the raw stream collapses to (key, bucket,
    #     item) counts with a map-side partial agg before the d-row
    #     fan-out, and the whole build stays JVM-side
    from rtsa_spark.operators.sketch import cm_bucket_sketch

    cm_plan = plan_of(
        cm_bucket_sketch(
            docs.selectExpr(
                "doc_id % 2 as g", "doc_id % 3 as b",
                "explode(split(text, ' ')) as w"
            ),
            ["g"], "b", "w",
        )
    )
    ok &= check(
        "count-min: map-side partial count before d-row fan-out, no Python",
        "partial_count" in cm_plan and "EvalPython" not in cm_plan,
    )

    # 30. bloom incremental dedup: the membership probe is a broadcast
    #     (never a shuffle of the probe batch against the filter), the
    #     filter build bit_ors map-side, and everything stays JVM-side
    from rtsa_spark.operators.sketch import (
        bloom_bucket_sketch,
        bloom_maybe_contains,
    )

    bl_sk = bloom_bucket_sketch(
        docs.selectExpr("'h' as b", "md5(text) as fp"), [], "b", "fp",
        m_bits=1024, k_hash=2,
    )
    bl_plan = plan_of(
        bloom_maybe_contains(
            bl_sk, docs.selectExpr("md5(text) as fp").limit(100),
            m_bits=1024, k_hash=2, probe_col="fp",
        )
    )
    ok &= check(
        "bloom: map-side partial bit_or build, broadcast probe, no Python",
        "partial_bit_or" in bl_plan
        and "BroadcastNestedLoopJoin" in bl_plan
        and "CartesianProduct" not in bl_plan
        and "EvalPython" not in bl_plan,
    )

    # 31. Misra-Gries cascade: build is one map-side-combined count +
    #     key-partitioned windows (no join); the merge's only join is
    #     the broadcast of the per-bucket slack scalar — never a
    #     cartesian, never Python
    from rtsa_spark.operators.sketch import mg_bucket_sketch, mg_merge_buckets

    mg_daily = mg_bucket_sketch(
        docs.selectExpr(
            "doc_id % 2 as g", "doc_id % 3 as b",
            "explode(split(text, ' ')) as w"
        ),
        ["g"], "b", "w", k=4,
    )
    mg_build_plan = plan_of(mg_daily)
    import pyspark.sql.functions as _F

    mg_merge_plan = plan_of(mg_merge_buckets(mg_daily, ["g"], _F.lit(0), k=4))
    ok &= check(
        "misra-gries: partial count build, broadcast-only merge join, no Python",
        "partial_count" in mg_build_plan
        and "Join" not in mg_build_plan
        and "BroadcastHashJoin" in mg_merge_plan
        and "CartesianProduct" not in mg_merge_plan
        and "EvalPython" not in mg_build_plan + mg_merge_plan,
    )

    # 32. certified top-k: the candidate recount prunes the fine tier
    #     with a broadcast LEFT SEMI join (never a full-vocabulary
    #     coarse re-aggregation feeding the rank), no cartesian/Python
    from rtsa_spark.operators.sketch import mg_certified_topk

    ct_plan = plan_of(
        mg_certified_topk(
            docs.selectExpr(
                "doc_id % 2 as g", "doc_id % 3 as bucket",
                "explode(split(text, ' ')) as item", "1 as c"
            ),
            ["g"], _F.lit(0), topk=2, mg_k=4,
        )
    )
    ok &= check(
        "certified top-k: broadcast semi-join recount, no cartesian/Python",
        "LeftSemi" in ct_plan
        and "BroadcastHashJoin" in ct_plan
        and "CartesianProduct" not in ct_plan
        and "EvalPython" not in ct_plan,
    )

    # 33. simhash Hamming pairs: the candidate join is a (block, key)
    #     EQUI-join (the id inequality rides as a post-filter), never a
    #     nested-loop over all pairs, and the verify stays JVM-side
    from rtsa_spark.operators.dedup import simhash_hamming_pairs

    sh_codes = docs.selectExpr("doc_id", "doc_id * 37 % 65536 as simhash")
    hp_plan = plan_of(simhash_hamming_pairs(sh_codes, max_dist=2))
    ok &= check(
        "simhash hamming: block equi-join candidates, no cartesian/Python",
        ("SortMergeJoin" in hp_plan or "ShuffledHashJoin" in hp_plan
         or "BroadcastHashJoin" in hp_plan)
        and "CartesianProduct" not in hp_plan
        and "BroadcastNestedLoopJoin" not in hp_plan
        and "EvalPython" not in hp_plan,
    )

    # 34. n-gram LM counts: grams are built in-row from ONE split (no
    #     per-gram re-split), counts partial-aggregate map-side, the
    #     continuation top-k plans TakeOrderedAndProject with a 1-row
    #     broadcast denominator — no cartesian blowup, no Python
    from rtsa_spark.operators.lm import continuation_topk, ngram_counts

    lm_counts = ngram_counts(docs, 3)
    lm_plan = plan_of(lm_counts)
    ok &= check(
        "ngram counts: split once, map-side partial count, no Python",
        lm_plan.count("split(text") <= 2
        and "partial_count" in lm_plan
        and "EvalPython" not in lm_plan,
        f"split occurrences: {lm_plan.count('split(text')}",
    )
    ct2_plan = plan_of(continuation_topk(ngram_counts(docs, 2), k=5))
    ok &= check(
        "continuation top-k: TakeOrdered distributed top-k, broadcast "
        "1-row denominator, no cartesian",
        "TakeOrderedAndProject" in ct2_plan
        and "CartesianProduct" not in ct2_plan
        and "EvalPython" not in ct2_plan,
    )

    # 35. timeweight: one window exchange feeds both integrals, final agg
    #     partial-aggregates map-side, never a join or Python node
    from rtsa_spark.operators.timeweight import (
        duration_in_state,
        time_weighted_avg,
    )

    ev = docs.selectExpr(
        "cast(doc_id % 2 as string) as k",
        "timestamp_seconds(doc_id * 60) as ts",
        "doc_id * 7 as v",
    )
    twa_plan = plan_of(time_weighted_avg(ev, ["k"], "ts", "v"))
    dis_plan = plan_of(
        duration_in_state(
            ev.selectExpr("k", "ts", "cast(v % 3 as string) as st"),
            ["k"], "ts", "st",
        )
    )
    ok &= check(
        "timeweight: window algebra + partial agg, no join/Python",
        all(
            "Window" in p and "Join" not in p and "EvalPython" not in p
            and "partial_count" in p
            for p in (twa_plan, dis_plan)
        ),
    )

    # 36. funnel: k stacked step windows share ONE hash partitioning on
    #     the key (one Exchange), no self-join per step, no Python
    from rtsa_spark.operators.funnel import funnel_conversion, markov_transitions

    fev = docs.selectExpr(
        "cast(doc_id % 5 as string) as u",
        "timestamp_seconds(doc_id * 60) as ts",
        "case when doc_id % 3 = 0 then 'a' when doc_id % 3 = 1 then 'b' "
        "else 'c' end as ty",
    )
    fun_plan = plan_of(funnel_conversion(fev, "u", "ts", "ty", ["a", "b", "c"]))
    ok &= check(
        "funnel: one key Exchange for all step windows, no join/Python",
        fun_plan.count("hashpartitioning(_k") == 1  # details section, once
        and "Join" not in fun_plan
        and "EvalPython" not in fun_plan,
        f"key exchanges: {fun_plan.count('hashpartitioning(_k')}",
    )
    mk_plan = plan_of(markov_transitions(fev, ["u"], "ts", "ty"))
    ok &= check(
        "markov transitions: lag window + partial agg, no join/Python",
        "Window" in mk_plan and "partial_count" in mk_plan
        and "Join" not in mk_plan and "EvalPython" not in mk_plan,
    )

    # 37. HLL: register maxima combine map-side (partial_max), merge path
    #     stays window-free, no Python anywhere
    from rtsa_spark.operators.sketch import hll_bucket_sketch, hll_merge_buckets

    hev = docs.selectExpr(
        "cast(doc_id % 3 as string) as k",
        "timestamp_seconds((doc_id % 7) * 86400) as ts",
        "doc_id as u",
    )
    hll_daily = hll_bucket_sketch(hev, ["k"], "ts", "u", p=6)
    hll_plan = plan_of(hll_daily)
    from pyspark.sql import functions as F2

    hll_merge_plan = plan_of(
        hll_merge_buckets(hll_daily, ["k"], F2.date_trunc("month", F2.col("bucket")), p=6)
    )
    ok &= check(
        "hll: register max combines map-side, no window/join/Python",
        all(
            "partial_max" in p and "Window" not in p
            and "Join" not in p and "EvalPython" not in p
            for p in (hll_plan, hll_merge_plan)
        ),
    )

    # 38. evaluation: AUC rank window runs over the per-score GROUP table
    #     (agg below the window), never a cartesian or Python node
    from rtsa_spark.operators.evaluation import binary_auc, threshold_metrics

    sev = docs.selectExpr(
        "cast(doc_id % 4 as string) as source",
        "length(text) as sc",
        "doc_id % 2 = 0 as y",
    )
    auc_plan = plan_of(binary_auc(sev, ["source"], "sc", "y"))
    ok &= check(
        "binary_auc: group-then-rank (agg feeds window), no cartesian/Python",
        auc_plan.index("HashAggregate") < auc_plan.index("Window")
        and "partial_count" in auc_plan
        and "CartesianProduct" not in auc_plan
        and "EvalPython" not in auc_plan,
    )
    thr_plan = plan_of(
        threshold_metrics(sev, ["source"], "sc", "y", [100, 400])
    )
    ok &= check(
        "threshold sweep: literal explode + one combinable agg, no join",
        "partial_sum" in thr_plan and "Join" not in thr_plan
        and "EvalPython" not in thr_plan,
    )

    # 39. streaks: islands = one window + one combinable agg, no join
    from rtsa_spark.operators.monitor import value_streaks

    stev = docs.selectExpr(
        "cast(doc_id % 3 as string) as k",
        "timestamp_seconds((doc_id % 50) * 3600) as b",
        "doc_id % 2 = 0 as okc",
    )
    st_plan = plan_of(value_streaks(stev, ["k"], "b", 3600, "okc"))
    ok &= check(
        "value_streaks: window islands + partial agg, no join/Python",
        "Window" in st_plan and "partial_count" in st_plan
        and "Join" not in st_plan and "EvalPython" not in st_plan,
    )

    # 41. pair rules: A-Priori prune = equi-joins only, never cartesian
    from rtsa_spark.operators.association import pair_rules

    pr_plan = plan_of(
        pair_rules(
            docs.selectExpr(
                "cast(doc_id % 2 as string) as k",
                "doc_id % 7 as bkt",
                "cast(doc_id % 5 as string) as it",
            ),
            ["k"],
            ["bkt"],
            "it",
            min_count=2,
        )
    )
    ok &= check(
        "pair_rules: equi-joins only (no cartesian), map-side counts",
        "CartesianProduct" not in pr_plan and "partial_count" in pr_plan
        and "EvalPython" not in pr_plan,
    )

    # 42. edit near-dup: levenshtein verify JVM-side, block equi-joins only
    from rtsa_spark.operators.dedup import edit_near_dup

    ed_plan = plan_of(edit_near_dup(docs, max_edit=5, bits=16))
    ok &= check(
        "edit_near_dup: JVM levenshtein verify, no cartesian/Python",
        "levenshtein" in ed_plan and "CartesianProduct" not in ed_plan
        and "EvalPython" not in ed_plan,
    )

    # 43. top_movers: global top-k via TakeOrderedAndProject, and the
    #     only unpartitioned Window ranks the k survivors (r5 verdict:
    #     the former global rank window single-partitioned k x n_keys
    #     rows). The k-row Window must sit ABOVE the limit in the plan.
    from rtsa_spark.operators.monitor import top_movers

    tm_plan = plan_of(
        top_movers(
            seq.selectExpr(
                "source as k", "ts as b", "cast(n_tok as bigint) as x"
            ),
            "k", "b", "x", k=5,
        )
    )
    ok &= check(
        "top_movers: global top-k is TakeOrderedAndProject, not a "
        "full-table rank window",
        "TakeOrderedAndProject" in tm_plan,
        f"TOaP={('TakeOrderedAndProject' in tm_plan)}",
    )

    spark.stop()
    print("AUDIT", "PASS" if ok else "FAIL")
    return 0 if ok else 1


def F_split_word():
    from pyspark.sql import functions as F

    return F.explode(F.split("text", " ")).alias("word")


def F_ts(col):
    from pyspark.sql import functions as F

    return F.timestamp_seconds(F.col(col)).alias("ts")


if __name__ == "__main__":
    sys.exit(main())
