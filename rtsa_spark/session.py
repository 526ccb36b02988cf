"""SparkSession factory with scale-aware defaults.

Local-mode testing uses ``local[N]``; the confs below are chosen so the same
code runs unmodified on a multi-executor cluster via ``spark-submit
--py-files rtsa_spark.zip`` — nothing here assumes a single JVM.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def _size_gc_threads(n: int) -> None:
    """Size JVM GC worker threads in ``JAVA_TOOL_OPTIONS`` for an ``n``-core
    local JVM. Our own fragment is tagged ``-Drtsa.gc.auto`` so a later call
    — in this process or a child that inherited the env — replaces it with
    the new size instead of mistaking it for a caller-provided setting;
    genuinely caller-provided ``ParallelGCThreads`` is never touched."""
    import re

    prev = os.environ.get("JAVA_TOOL_OPTIONS", "")
    ours = re.search(
        r"-Drtsa\.gc\.auto=\S+"
        r"\s+-XX:ParallelGCThreads=\d+"
        r"\s+-XX:ConcGCThreads=\d+",
        prev,
    )
    if ours:
        prev = (prev[: ours.start()] + prev[ours.end():]).strip()
    if "ParallelGCThreads" in prev:
        os.environ["JAVA_TOOL_OPTIONS"] = prev
        return
    gc_opts = (
        f"-Drtsa.gc.auto={n}"
        f" -XX:ParallelGCThreads={max(2, n)}"
        f" -XX:ConcGCThreads={max(1, n // 2)}"
    )
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"{prev} {gc_opts}".strip() if prev else gc_opts
    )


def get_spark(
    app_name: str = "rtsa_spark",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession tuned for the rollup workload.

    ``cores=None`` respects an externally provided master (spark-submit);
    in a bare process it falls back to ``local[$SPARK_GRAFT_CPUS or *]``.
    Shuffle partitions default to ~cores locally — on a real cluster pass
    ``shuffle_partitions`` sized to total executor cores * 2-3.
    """
    # Make the package importable in executor python workers regardless of
    # the caller's cwd. Local mode: workers inherit PYTHONPATH. Cluster mode:
    # ship a zip via ``spark-submit --py-files rtsa_spark.zip`` instead.
    pkg_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    existing = os.environ.get("PYTHONPATH", "")
    if pkg_root not in existing.split(os.pathsep):
        os.environ["PYTHONPATH"] = (
            pkg_root + (os.pathsep + existing if existing else "")
        )
    builder = SparkSession.builder.appName(app_name)
    # only force local mode when no master was provided externally:
    # spark-submit sets spark.master as a JVM system property (visible via
    # SparkConf) and launches python through its gateway (PYSPARK_GATEWAY_PORT)
    from pyspark import SparkConf

    external_master = (
        SparkConf(loadDefaults=True).contains("spark.master")
        or "PYSPARK_GATEWAY_PORT" in os.environ
        or "SPARK_MASTER" in os.environ
    )
    if not external_master:
        n = cores or int(os.environ.get("SPARK_GRAFT_CPUS", "0")) or "*"
        builder = builder.master(f"local[{n}]")
        # Size JVM GC worker threads by the EXECUTOR core allocation, not
        # by nproc: G1's default on a 32-CPU box is ~23 parallel GC
        # threads, which taxes a local[4] JVM ~20% extra CPU on a
        # quota-limited host (measured: 80M-row ladder 41.3s -> 34.8s at
        # local[4] with the cap). This mirrors what YARN/K8s executors get
        # anyway — GC threads sized to the container's cores — so local
        # measurements extrapolate to cluster behavior. Only applied when
        # WE launch the JVM (local mode) with an explicit core count; see
        # _size_gc_threads for the caller-vs-auto distinction.
        if isinstance(n, int):
            _size_gc_threads(n)
    if shuffle_partitions is None:
        env_cores = cores or int(os.environ.get("SPARK_GRAFT_CPUS", "0")) or os.cpu_count() or 8
        shuffle_partitions = int(env_cores)
    conf = {
        "spark.sql.shuffle.partitions": str(shuffle_partitions),
        # Split size for file scans. The mid-size inputs this engine's
        # tiers produce (tens of ~3-10 MB files per tier, hundreds of MB
        # total) pack into a handful of 128-MB splits under the default,
        # so a 20M-row tier scan runs on 2-7 of N cores; 16m yields
        # roughly a split per file. Sub-16MB single-file scans are
        # unaffected (no empty-split scheduling tax on small queries —
        # the reason this is NOT files.minPartitionNum). Env-overridable:
        # on a cluster doing large sequential scans set 128m-1g (guide
        # §6) — split size trades scan task count against per-task
        # overhead, and the right value follows the deployment's file
        # sizes, not the engine.
        "spark.sql.files.maxPartitionBytes": os.environ.get(
            "RTSA_MAX_PARTITION_BYTES", "16m"
        ),
        # InferFiltersFromGenerate turns explode(<computed array>) into a
        # scan-side Filter that re-evaluates the WHOLE generator expression
        # (size(...)>0 AND isnotnull(...)) once per input row — for this
        # engine's explodes of hashed shingle/feature arrays that is the
        # full split+hash work, duplicated per row, below the fan-out
        # exchange on the unsplittable scan task (measured: the dsir
        # feature explode 41 s -> 4 s at sf1 without the rule). The rule
        # only pre-drops rows whose generator input is empty/null, which
        # the engine's explodes never rely on for performance; excluding
        # it changes no results.
        "spark.sql.optimizer.excludedRules":
            "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate",
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.enabled": "true",
        # AQE skew-join split: free skew handling for the join surface;
        # groupBy skew is handled explicitly by plans/skew.py salting.
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.session.timeZone": "UTC",
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        # Cap Arrow batch size so pandas kernels stay memory-bounded even when
        # one (source, salt) group is large.
        "spark.sql.execution.arrow.maxRecordsPerBatch": "65536",
        "spark.sql.parquet.compression.codec": "zstd",
        "spark.ui.enabled": "false",
        # No \r progress frames on stdout: the driver captures bench.py's
        # stdout tail, and progress-bar frames flooded/truncated the one
        # JSON line it needs (BENCH_r04.json parsed:null). Harmless for
        # interactive runs — stage progress is in the event log/UI anyway.
        "spark.ui.showConsoleProgress": "false",
        "spark.driver.memory": os.environ.get("RTSA_DRIVER_MEMORY", "8g"),
    }
    if extra_conf:
        conf.update(extra_conf)
    for k, v in conf.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
