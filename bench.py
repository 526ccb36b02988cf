"""Benchmark harness: rolled-up points/sec across the retention ladder
(the BASELINE.json metric) plus per-query timings on the star schema.

Prints ONE JSON line:
  {"metric": "rolled_up_points_per_sec", "value": <total_sec>, "unit": "sec",
   "queries": {...per-stage/per-query sec...}, "sf": <sf>,
   "points_per_sec": ..., "rolled_points": ..., "cores": ...}

Input: a deterministic sequences table sized ~20M rows/SF, synthesized once
and cached as parquet (so tier scans measure real column-pruned I/O, like a
production run), plus the driver's star-schema parquet at $SPARK_GRAFT_SF_DIR.

Scaling evidence (north rule, sandboxed): run with SPARK_GRAFT_CPUS=8 and
=32 on the SAME cached input; tools/bench_scaling.py automates both and
writes BENCH/BASELINE.md.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

SEQ_ROWS_PER_SF = 20_000_000
N_SOURCES = 64


def probe_effective_cores(threads: int = 8, secs: float = 0.6) -> float:
    """Cheap host-capacity probe (same kernel as tools/bench_scaling.py's
    gate): parallel numpy SORT throughput over single-thread throughput.
    Recorded in the output JSON so a round's wall-clock numbers carry
    their weather context — this sandbox's usable capacity swings between
    <1 and ~11 effective cores on minute scales, and min-of-warm-reps
    cannot save a run where EVERY rep was starved.

    The kernel must be GIL-releasing AND BLAS-free: concurrent matmul
    calls from Python threads serialize on OpenBLAS's global worker-pool
    lock (measured 8-thread/1-thread throughput ratio 0.9 on an
    otherwise-idle 8-core window — the probe read "starved" on a healthy
    host), while np.sort scales with the real capacity."""
    import numpy as np
    from concurrent.futures import ThreadPoolExecutor

    def burn(_):
        x = np.random.default_rng(1).random(200_000)
        t0 = time.time()
        n = 0
        while time.time() - t0 < secs:
            np.sort(x)
            n += 1
        return n

    # best-of-N per leg: a single starved 1-thread window otherwise
    # poisons the ratio in either direction
    bases, tots = [], []
    for _ in range(3):
        with ThreadPoolExecutor(1) as ex:
            bases.append(max(ex.map(burn, range(1))))
    for _ in range(2):
        with ThreadPoolExecutor(threads) as ex:
            tots.append(sum(ex.map(burn, range(threads))))
    return round(max(tots) / max(max(bases), 1), 2)


def _sf_from_dir(sf_dir: str) -> float:
    try:
        return float(sf_dir.rstrip("/").split("sf")[-1])
    except ValueError:
        return 0.1


def ensure_sequences(spark, sf: float, cache_root: str = "/tmp/rtsa_bench") -> str:
    """Synthesize-once the bench sequences table for this SF.

    SPARK_GRAFT_BENCH_ROWS overrides the row count (the scaling harness
    uses a larger, compute-dominant input so thread scaling measures the
    engine rather than fixed job overheads)."""
    from rtsa_spark.synth import synth_sequences

    n_rows = int(
        os.environ.get("SPARK_GRAFT_BENCH_ROWS", 0)
    ) or max(int(SEQ_ROWS_PER_SF * sf), 10_000)
    # cache key includes every generation parameter — a changed source
    # count / token cap / seed must NOT silently reuse stale parquet
    max_tokens, seed = 16, 42
    path = os.path.join(
        cache_root, f"sequences_{n_rows}_s{N_SOURCES}_t{max_tokens}_r{seed}"
    )
    marker = os.path.join(path, "_SUCCESS")
    if not os.path.exists(marker):
        synth_sequences(
            spark, n_rows, n_sources=N_SOURCES, seed=seed, max_tokens=max_tokens
        ).write.mode("overwrite").parquet(path)
    return path


def run_bench(sf_dir: str, cores: int) -> dict:
    from pyspark.sql import functions as F

    from rtsa_spark.operators.encode import encode_tier
    from rtsa_spark.operators.gapfill import gapfill_linear
    from rtsa_spark.operators.metrics import compute_metrics
    from rtsa_spark.operators.rollup import rollup_next, rollup_raw
    from rtsa_spark.session import get_spark

    sf = _sf_from_dir(sf_dir)
    spark = get_spark(app_name="rtsa_bench", cores=cores, shuffle_partitions=cores * 2)
    timings: dict[str, float] = {}
    points = 0

    seq_path = ensure_sequences(spark, sf)
    seq = spark.read.parquet(seq_path)

    # --- the ladder (the metric): every tier output row is a rolled-up
    # point. Each tier is PERSISTED before the next reads it (the real
    # pipeline shape — pipeline.py does the same), so stage timings measure
    # each tier once, not a recomputed lineage.
    scratch = f"/tmp/rtsa_bench/run_{cores}"

    def persist(df, name):
        path = f"{scratch}/{name}"
        df.write.mode("overwrite").parquet(path)
        return spark.read.parquet(path)

    # SPARK_GRAFT_LADDER_REPS > 1: repeat the ladder and keep the LAST
    # rep's timings — steady-state throughput with JVM JIT/GC warm, the
    # shape of a long-running cluster job (JIT burns ~60-80 CPU-seconds in
    # background threads during rep 1, which otherwise poisons low-thread
    # wall measurements).
    # default 2: rep 1 burns JVM JIT warmup; recorded numbers are rep 2+
    # (CLAUDE.md: measure warm). Each stage records the MIN across the
    # warm reps (rep 1 is JIT warmup and never counts): this sandbox's
    # usable capacity fluctuates minute-to-minute (see BENCH/BASELINE.md),
    # so best-observed-warm is the engine-capability number — a single
    # "last rep" would report whatever the host weather was at that moment.
    reps = int(os.environ.get("SPARK_GRAFT_LADDER_REPS", "3"))

    # every warm rep is kept: "queries" reports the per-stage MIN (engine
    # capability under fluctuating host weather), "queries_median" the
    # median of the same warm reps so a real regression can't hide behind
    # one lucky rep (ADVICE r2).
    rep_values: dict[str, list[float]] = {}

    def record(name, dt):
        rep_values.setdefault(name, []).append(dt)
        if dt < timings.get(name, float("inf")):
            timings[name] = dt

    def stage(name, rep, t0):
        dt = round(time.time() - t0, 3)
        if rep == 0 and reps > 1:
            return  # JIT warmup rep: never recorded
        record(name, dt)

    for rep in range(reps):
        t0 = time.time()
        raw = persist(rollup_raw(seq), "raw")
        raw_rows = raw.count()
        stage("tier_raw", rep, t0)

        t0 = time.time()
        hourly = persist(rollup_next(raw, "hourly"), "hourly")
        hourly_rows = hourly.count()
        stage("tier_hourly", rep, t0)

        t0 = time.time()
        daily = persist(rollup_next(hourly, "daily"), "daily")
        daily_rows = daily.count()
        monthly_rows = rollup_next(daily, "monthly").count()
        stage("tier_daily_monthly", rep, t0)

        t0 = time.time()
        filled_rows = gapfill_linear(hourly, "hourly").count()
        stage("gapfill_hourly", rep, t0)

    # encode + metrics: separately timed; NOT part of ladder_sec (the
    # north metric counts tier rollup points; these are the side products).
    # The ladder is pure Catalyst, so this is the first Python-UDF stage of
    # the run: spawn the Arrow worker fleet ONCE up front (reused across
    # stages via spark.python.worker.reuse) so the timings below measure
    # steady-state kernels, not one-time worker+numpy startup — the same
    # warm-measurement rule the ladder reps apply to the JVM.
    def _warm(batches):
        import numpy  # noqa: F401  (pay the import in the warmup)

        yield from batches

    spark.range(cores * 4).repartition(cores).mapInPandas(
        _warm, "id long"
    ).count()

    # min-of-warm-reps for the kernel stages too (round-3: r2 left these
    # single-shot and weather-exposed; rep 0 is the warmup, never recorded)
    qreps = int(os.environ.get("SPARK_GRAFT_QUERY_REPS", "3"))

    def timed_reps(name, fn):
        result = None
        for rep in range(qreps):
            t0 = time.time()
            result = fn()
            dt = round(time.time() - t0, 3)
            if rep == 0 and qreps > 1:
                continue
            record(name, dt)
        return result

    # compression accounting rides the SAME timed job (one agg over the
    # encode output: block count + payload bytes vs the raw 16 B/point the
    # blocks replace) — a separate accounting pass would re-run the whole
    # encode stage a fourth time per bench round.
    comp = timed_reps(
        "encode_hourly",
        lambda: encode_tier(hourly, partitions=min(cores, 16))
        .agg(
            F.count(F.lit(1)).alias("n_blocks"),
            F.sum(
                F.octet_length("ts_dod") + F.octet_length("val_gorilla")
            ).alias("enc_bytes"),
            F.sum(F.octet_length("val_gorilla")).alias("val_bytes"),
            F.sum("n_points").alias("enc_points"),
        )
        .collect()[0],
    )
    blocks = int(comp["n_blocks"])
    # paper-exact containment-reuse variant (r5): one accounting pass so
    # every round JSON carries both bytes/point numbers side by side
    comp_c = (
        encode_tier(hourly, partitions=min(cores, 16), value_reuse="containment")
        .agg(
            F.sum(F.octet_length("val_gorilla")).alias("vb"),
            F.sum("n_points").alias("np"),
        )
        .collect()[0]
    )
    metrics_rows = timed_reps(
        "metrics_daily",
        lambda: compute_metrics(gapfill_linear(daily, "daily"), "daily").count(),
    )

    points = raw_rows + hourly_rows + daily_rows + monthly_rows + filled_rows
    ladder_sec = sum(
        timings[k]
        for k in ("tier_raw", "tier_hourly", "tier_daily_monthly", "gapfill_hourly")
    )

    # --- star-schema headline queries (driver's tables)
    import __spark_entry__ as E

    if os.environ.get("SPARK_GRAFT_SKIP_HEADLINE"):
        E = None

    headline = [
        "rollup_hourly",
        "rollup_daily_cascade",
        "gapfill_hourly_linear",
        "mask_consecutive_gap",
        "metrics_series",
        "dedup_exact",
        "minhash_lsh",
        "simhash16",
        "ann_cosine_topk",
        "text_quality",
    ]
    # stages first benched in round 4 — subtract these from "value" when
    # comparing total wall against BENCH_r03 and earlier
    new_r4 = [
        "semantic_dedup",
        "bpe_vocab_learn",
        "matrix_profile",
        "perplexity_partition",
    ]
    # second late-round-4 batch, same subtraction rule vs earlier rounds
    new_r4b = [
        "dsir_select",
        "zorder_skip_audit",
        "sax_words",
        "bm25_topk",
        "hybrid_rrf",
    ]
    # third late-round-4 batch (sketch quartet completion), same rule
    new_r4c = [
        "cm_frequency_ladder",
        "bloom_incremental_dedup",
        "mg_heavy_hitters",
    ]
    # fourth late-round-4 batch (funnel/HLL/evaluation/Heaps), same rule
    new_r4d = [
        "funnel_conversion",
        "hll_ladder",
        "classifier_auc",
        "heaps_curve",
    ]
    headline = headline + new_r4 + new_r4b + new_r4c + new_r4d
    if E is not None:
        qs = E.queries()
        from rtsa_spark.operators.dedup import minhash_lsh_buckets

        docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
        for name in headline:
            if name == "minhash_lsh":
                # bench the engine's scale default (one xxhash64 per
                # shingle + k arithmetic mixes); the md5 variant the SQL
                # oracle replays is what queries()["minhash_lsh"] runs
                timed_reps(name, lambda: minhash_lsh_buckets(docs).count())
            else:
                timed_reps(
                    name, lambda n=name: qs[n](spark, sf_dir).count()
                )

    total = round(sum(timings.values()), 3)
    out = {
        "metric": "ladder_plus_headline_queries_wall",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "queries_median": {
            k: round(sorted(v)[len(v) // 2], 3) for k, v in rep_values.items()
        },
        "sf": sf,
        "rolled_points": points,
        "ladder_sec": round(ladder_sec, 3),
        "points_per_sec": int(points / ladder_sec) if ladder_sec else None,
        "cores": cores,
        "seq_rows": seq.count(),
        "encode_blocks": blocks,
        "encoded_bytes": int(comp["enc_bytes"]),
        "encoded_points": int(comp["enc_points"]),
        "encode_bytes_per_point": round(comp["enc_bytes"] / comp["enc_points"], 3),
        "encode_ratio_vs_raw16": round(comp["enc_bytes"] / (16 * comp["enc_points"]), 4),
        # value-stream-only comparison of the two Gorilla reuse rules
        "gorilla_value_bytes_per_point_equal": round(
            comp["val_bytes"] / comp["enc_points"], 3
        ),
        "gorilla_value_bytes_per_point_containment": round(
            comp_c["vb"] / comp_c["np"], 3
        ),
        "metrics_rows": metrics_rows,
        "new_stages_r4": new_r4,
        "new_stages_r4b": new_r4b,
        "new_stages_r4c": new_r4c,
        "new_stages_r4d": new_r4d,
    }
    out.update(jvm_accounting(spark))
    # CPU of the whole tree BEFORE stop: JVM utime+stime+children (python
    # workers) from /proc (py4j does not reap the JVM into rusage)
    import resource as _res

    cpu = 0.0
    try:
        jvm_pid = spark.sparkContext._gateway.proc.pid
        with open(f"/proc/{jvm_pid}/stat") as f:
            parts = f.read().split(")")[-1].split()
        hz = os.sysconf("SC_CLK_TCK")
        cpu += sum(int(x) for x in parts[11:15]) / hz  # utime stime cutime cstime
    except Exception:
        pass
    ru_s2 = _res.getrusage(_res.RUSAGE_SELF)
    ru_c2 = _res.getrusage(_res.RUSAGE_CHILDREN)
    cpu += ru_s2.ru_utime + ru_s2.ru_stime + ru_c2.ru_utime + ru_c2.ru_stime
    out["cpu_sec_tree"] = round(cpu, 1)
    spark.stop()
    return out


def jvm_accounting(spark) -> dict:
    """Whole-run JIT, codegen and GC cost of the driver JVM (local mode
    runs every task in it): HotSpot's accumulated compiler-thread time,
    the count and Janino compile time of Spark's generated classes, and
    the collections, collection time and names of the JVM's garbage
    collectors (``PS Scavenge``/``PS MarkSweep`` under ParallelGC).

    ``CodegenMetrics.METRIC_COMPILATION_TIME`` is a histogram of per-class
    compile ms; its reservoir keeps every sample up to 1028 compiles, so
    the sum is exact until then and a scaled sample sum beyond."""
    jvm = spark.sparkContext._jvm
    mx = jvm.java.lang.management.ManagementFactory
    jit_ms = mx.getCompilationMXBean().getTotalCompilationTime()
    hist = jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME()
    n = hist.getCount()
    kept = list(hist.getSnapshot().getValues())
    codegen_ms = sum(kept) * n / len(kept) if kept else 0.0
    gcs = list(mx.getGarbageCollectorMXBeans())
    return {
        "jit_compile_s": round(jit_ms / 1000, 3),
        "codegen_classes": int(n),
        "codegen_compile_s": round(codegen_ms / 1000, 3),
        "gc_s": round(sum(b.getCollectionTime() for b in gcs) / 1000, 3),
        "gc_collections": int(sum(b.getCollectionCount() for b in gcs)),
        "gc_collector": ",".join(b.getName() for b in gcs),
    }


def main():
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cores = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    cap_before = probe_effective_cores()
    out = run_bench(sf_dir, cores)
    out["host_effective_cores_before"] = cap_before
    out["host_effective_cores_after"] = probe_effective_cores()
    line = json.dumps(out)
    # Durable copy FIRST: the driver reads a bounded stdout tail, and r4's
    # headline number was lost when console noise truncated the line. The
    # file is the authoritative record; stdout remains the contract.
    bench_dir = os.path.join(os.path.dirname(os.path.abspath(__file__)), "BENCH")
    # SPARK_GRAFT_BENCH_OUT redirects the durable copy (the scaling
    # harness's N/4N legs use it so they never clobber the headline
    # solo-run artifact); default stays the driver-read location.
    out_path = os.environ.get("SPARK_GRAFT_BENCH_OUT") or os.path.join(
        bench_dir, "last_run.json"
    )
    try:
        os.makedirs(os.path.dirname(out_path), exist_ok=True)
        with open(out_path, "w") as f:
            f.write(line + "\n")
    except OSError:
        pass
    print(line)


if __name__ == "__main__":
    main()
