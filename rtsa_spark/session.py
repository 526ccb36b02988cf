"""SparkSession factory with scale-aware defaults.

Local-mode testing uses ``local[N]``; the confs below are chosen so the same
code runs unmodified on a multi-executor cluster via ``spark-submit
--py-files rtsa_spark.zip`` — nothing here assumes a single JVM.
"""

from __future__ import annotations

import os
import re

from pyspark.sql import SparkSession


#: Spark conf keys whose JVM options the driver JVM starts with.
_JAVA_OPT_KEYS = ("spark.driver.defaultJavaOptions", "spark.driver.extraJavaOptions")


def _caller_java_opts(extra_conf: dict[str, str] | None) -> str:
    """The driver JVM options a caller set through Spark conf: ``extra_conf``
    and the ``SparkConf`` defaults, for :func:`_size_jvm_threads` to treat
    as caller-owned."""
    from pyspark import SparkConf

    defaults = SparkConf(loadDefaults=True)
    return " ".join(
        v
        for k in _JAVA_OPT_KEYS
        for v in ((extra_conf or {}).get(k), defaults.get(k))
        if v
    )


#: A HotSpot collector choice; a JVM given two of them refuses to start.
_COLLECTOR_FLAG = (
    r"-XX:\+Use(?:Serial|Parallel|ParallelOld|G1|Z|Shenandoah|Epsilon|ConcMarkSweep)GC\b"
)


def _size_jvm_threads(n: int, caller_opts: str = "") -> None:
    """Pick the garbage collector and size a local ``n``-core JVM's GC and
    JIT compiler threads in ``JAVA_TOOL_OPTIONS``.

    Collector: ``-XX:+UseParallelGC``, the throughput collector. A cold
    batch round pays only for total CPU, not for pause times, and G1's
    concurrent refinement and marking threads and its write barriers cost
    more CPU than ParallelGC's stop-the-world young collections.
    GC threads: ``ParallelGCThreads=max(2, n)``; ParallelGC has no
    concurrent phase, so no ``ConcGCThreads``.
    JIT: ``CICompilerCount=1 + max(1, cores // 4)``, where ``cores`` is
    ``n`` capped by the CPUs this process may use; HotSpot refuses a count
    below 2 and does not start.

    Our fragment is tagged ``-Drtsa.gc.auto`` so a later call — in this
    process or a child that inherited the env — replaces it with the new
    size instead of mistaking it for a caller's setting. A caller's flag
    wins per group, and the three groups are independent:

    - collector: any ``-XX:+Use…GC`` collector choice. HotSpot refuses
      two ("Multiple garbage collectors selected"), so we add none then;
    - GC threads: ``ParallelGCThreads`` or ``ConcGCThreads``. A caller who
      picks G1 keeps that pair consistent (G1 refuses ``ConcGCThreads``
      above ``ParallelGCThreads``);
    - compiler threads: ``CICompilerCount``.

    A caller's flags count wherever they are set: in ``JAVA_TOOL_OPTIONS``
    or in ``caller_opts``, the driver's Spark-conf JVM options
    (:func:`_caller_java_opts`), which the JVM applies after ours."""
    prev = os.environ.get("JAVA_TOOL_OPTIONS", "")
    ours = re.search(
        r"-Drtsa\.gc\.auto=\S+"
        r"(?:\s+-XX:(?:\+UseParallelGC|"
        r"(?:ParallelGCThreads|ConcGCThreads|CICompilerCount)=\d+))*",
        prev,
    )
    if ours:
        prev = (prev[: ours.start()] + prev[ours.end():]).strip()
    cores = min(n, len(os.sched_getaffinity(0)))
    owned = f"{prev} {caller_opts}"
    opts = [f"-Drtsa.gc.auto={n}"]
    if not re.search(_COLLECTOR_FLAG, owned):
        opts.append("-XX:+UseParallelGC")
    if "ParallelGCThreads" not in owned and "ConcGCThreads" not in owned:
        opts.append(f"-XX:ParallelGCThreads={max(2, n)}")
    if "CICompilerCount" not in owned:
        opts.append(f"-XX:CICompilerCount={1 + max(1, cores // 4)}")
    fragment = " ".join(opts)
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"{prev} {fragment}".strip() if prev else fragment
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

    A local JVM with an explicit core count ``n`` runs the throughput
    collector and gets its GC and JIT compiler threads sized by ``n``
    (``_size_jvm_threads``), as a YARN or K8s executor's are by its
    container: ``-XX:+UseParallelGC``, ``ParallelGCThreads=max(2, n)`` and
    ``CICompilerCount=1 + max(1, n // 4)``, with ``n`` capped by the CPUs
    this process may use for the compiler count. That is one C1 thread
    plus one C2 thread per four cores: 2 up to 7 cores, 3 at 8, 5 at 16
    and 9 at 32, against HotSpot's own 3/4/12/15 at 4/8/16/32 CPUs. In a
    cold round most CPU goes to C2 compiling Spark, Janino and JDK
    infrastructure the round barely reuses, so one C2 thread saves CPU
    while the queries' own generated code still gets compiled. A batch
    round pays for total CPU, not for pause times, so ParallelGC replaces
    HotSpot's default G1 and its concurrent threads and write barriers.
    Measured only at ``n = 4`` (4-vCPU VM; cold = perfbench CPU-s per
    round, median of alternating runs against the previous setting; warm
    = ``bench.py`` sf0.1 total, median; C1 only from single probe runs).
    The last two rows are a later set, after other engine changes and on
    a differently loaded host, so compare them with each other:

    ==========================  ===========  =========  ================
    JVM setting                 analytics    build      warm sf0.1 (s)
    ==========================  ===========  =========  ================
    HotSpot default (3), G1     44.1         54.1       28.9
    ``CICompilerCount=2``, G1   37.0         47.5       30.3
    C1 only (probe), G1         20.3-21.5    30.8       55.9
    ``CICompilerCount=2``, G1   15.98        18.77      14.27
    + ParallelGC (the default)  13.75        17.67      13.39
    ==========================  ===========  =========  ================

    A scheduled cold job may opt into C1 only (``-XX:TieredStopAtLevel=1``
    in ``JAVA_TOOL_OPTIONS`` or ``spark.driver.extraJavaOptions``): it
    halves a cold round and nearly doubles warm time. A caller's own
    collector, GC thread or compiler thread flags win over ours in either
    place. The fragment stays in ``JAVA_TOOL_OPTIONS``, so a JVM that a
    child process starts inherits it; a child that names its own collector
    on its command line must drop the fragment first (README "JVM thread
    sizing").
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
        # Run the throughput collector, and size JVM GC and compiler
        # threads by the EXECUTOR core allocation, not by nproc. HotSpot's
        # default on a 32-CPU box is ~23 parallel GC threads, which taxed a
        # local[4] JVM ~20% extra CPU on a quota-limited host (measured
        # under G1: 80M-row ladder 41.3s -> 34.8s at local[4] with the
        # cap). A batch round pays for total CPU, not for pause times, so
        # ParallelGC's stop-the-world collections replace G1's concurrent
        # threads and write barriers. Threads sized to the container's
        # cores are what YARN/K8s executors get anyway, so local
        # measurements extrapolate to cluster behavior. Only applied when
        # WE launch the JVM (local mode) with an explicit core count; see
        # _size_jvm_threads for the caller-vs-auto distinction.
        if isinstance(n, int):
            _size_jvm_threads(n, _caller_java_opts(extra_conf))
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
