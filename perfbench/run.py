"""Benchmark of rtsa_spark's tier engine and headline analytics.

Run from the root of a checkout:

    python3 perfbench/run.py --workload build --seed 1 --seconds 1 --trace 0

A single Python process runs Spark as ``local[N]``, N = the CPUs this
process may use, with one closed-loop client. Workloads (see perfbench/README.md):

- ``build``: set-up writes seeded ``synth_sequences`` inputs; a round is
  one cold ``TierPipeline.run`` into an empty base dir.
- ``analytics``: headline ``__spark_entry__.queries()`` over a seeded
  star schema; a round is one pass of the queries.

Rounds repeat until ``--seconds`` have elapsed (at least one).

``--trace 0`` prints the end-to-end metrics of BENCHMARK.json; ``--trace
1`` runs the same operations with spans at layer boundaries, then the
other workload's work and one month-scoped late-data ``sync`` with a mix
of tier reads, times the lazy operators, and prints the per-layer
metrics. The last stdout line is the result object; the line before it
is a detail record (per-op medians with sample counts, host capacity
before and after, failures, and in a traced run the split of a sync's
wall).

Everything the run writes stays under ``.bench_work/`` in the checkout.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import statistics
import subprocess
import sys
import tempfile
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".bench_work")
WORKLOADS = ("build", "analytics")
# spans every traced op of a kind must contain; a missing one fails the run
EXPECTED_SPANS = {
    "op.build": ("pipeline.run", "pipeline.fingerprint", "storage.write",
                 "snapshot.publish"),
    "op.sync": ("pipeline.sync", "pipeline.fingerprint", "storage.write",
                "snapshot.refresh", "snapshot.expire"),
    "op.read_range": ("pipeline.read_stage", "snapshot.read"),
}
# stages a refresh recomputes over the whole tier, not per month
FULL_TIER_STAGES = ("gapfilled_", "metrics_")


def _median(xs):
    return statistics.median(xs) if xs else 0.0


def start_session(nproc: int):
    """The engine's session factory, with every scratch path inside the
    work dir and the status stores kept whole for the trace."""
    from rtsa_spark.session import get_spark

    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tempfile.tempdir = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    return get_spark(
        app_name="perfbench",
        cores=nproc,
        extra_conf={
            "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
            # no hsperfdata file in the system temp dir
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
            "spark.sql.ui.retainedExecutions": "100000",
        },
    )


def stop_session(spark) -> None:
    """Stop Spark, end the JVM and wait for every process this run
    started (the JVM's Python workers end with it)."""
    from perfbench.status import process_tree

    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is None:
        return
    pids = process_tree(proc.pid)
    proc.stdin.close()
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
    deadline = time.time() + 30
    for pid in pids[1:]:
        while time.time() < deadline and os.path.exists(f"/proc/{pid}"):
            time.sleep(0.05)
        if os.path.exists(f"/proc/{pid}"):
            try:
                os.kill(pid, 9)
            except OSError:
                pass


def warm_python_workers(spark, nproc: int) -> None:
    """Fork one Python worker per core (Spark reuses idle ones), so no
    timed op pays for the forks."""
    spark.range(0, nproc, 1, nproc).mapInArrow(lambda it: it, "id long").count()


# ------------------------------------------------------------ operators
def time_operators(tracer, pl, seq) -> dict:
    """Materialize each lazy operator's output with the noop sink on the
    published tiers, one span per operator."""
    from pyspark.sql import functions as F

    from rtsa_spark.operators.downsample import m4_downsample
    from rtsa_spark.operators.encode import decode_blocks, encode_tier
    from rtsa_spark.operators.gapfill import gapfill_linear
    from rtsa_spark.operators.metrics import compute_metrics
    from rtsa_spark.operators.rollup import rollup_next, rollup_raw

    def noop(df):
        df.write.format("noop").mode("overwrite").save()

    raw = pl.read_stage("rollup_raw")
    hourly = pl.read_stage("rollup_hourly")
    daily = pl.read_stage("rollup_daily")
    with tracer.span("operators.rollup"):
        noop(rollup_raw(seq))
        noop(rollup_next(raw, "hourly"))
        noop(rollup_next(hourly, "daily"))
        noop(rollup_next(daily, "monthly"))
    with tracer.span("operators.gapfill"):
        noop(gapfill_linear(hourly, "hourly"))
        noop(gapfill_linear(daily, "daily"))
    with tracer.span("operators.encode"):
        noop(encode_tier(hourly, value_col="n_tok_sum"))
    with tracer.span("operators.encode.decode"):
        noop(decode_blocks(pl.read_stage("encoded_hourly")))
    with tracer.span("operators.metrics"):
        noop(compute_metrics(pl.read_stage("gapfilled_daily"), "daily"))
    with tracer.span("operators.downsample"):
        noop(m4_downsample(hourly.withColumn("t", F.unix_timestamp("bucket_start")),
                           "source", "t", "n_tok_sum", width=64))
    enc = pl.read_stage("encoded_hourly").agg(
        F.sum(F.octet_length("ts_dod") + F.octet_length("val_gorilla")).alias("b"),
        F.sum("n_points").alias("n"),
    ).first()
    return {"encoded_bytes_per_point": enc["b"] / enc["n"]}


def publish_footprint(pl, base: str) -> dict:
    """Parquet files and bytes a build published, and its rolled-up rows
    (ledger ``rows_out`` of every rollup stage)."""
    files = size = tier_bytes = 0
    for root, _dirs, names in os.walk(base):
        for n in names:
            if n.endswith(".parquet"):
                b = os.path.getsize(os.path.join(root, n))
                files += 1
                size += b
                if os.path.relpath(root, base).startswith("rollup_"):
                    tier_bytes += b
    rows = {"rollup": 0, "gapfilled": 0}
    with open(os.path.join(base, "lineage.jsonl")) as f:
        for r in map(json.loads, f):
            kind = r["stage"].split("_", 1)[0]
            if r["status"] == "SUCCESS" and kind in rows:
                rows[kind] += r["rows_out"] or 0
    return {"files": files, "bytes": size, "tier_bytes": tier_bytes,
            "rolled_rows": rows["rollup"], "gapfilled_rows": rows["gapfilled"]}


def sync_split(tr) -> dict:
    """Mean split of a traced sync's wall: fingerprint scans, the
    full-tier gapfill and metrics writes, the month-scoped writes,
    snapshot expiry, and the rest (counts, ledger, listings)."""
    syncs = tr.named("op.sync")
    if not syncs:
        return {}
    full = month = 0.0
    for w in tr.named("storage.write", within="op.sync"):
        stage = os.path.basename(w.tag.rstrip("/").removesuffix("/data"))
        if stage.startswith(FULL_TIER_STAGES):
            full += w.wall
        else:
            month += w.wall
    n = len(syncs)
    out = {
        "sync_s": sum(s.wall for s in syncs) / n,
        "fingerprint_s": sum(
            s.wall for s in tr.named("pipeline.fingerprint", within="op.sync")) / n,
        "full_tier_writes_s": full / n,
        "month_writes_s": month / n,
        "expire_s": sum(
            s.wall for s in tr.named("snapshot.expire", within="op.sync")) / n,
    }
    out["rest_s"] = out["sync_s"] - sum(v for k, v in out.items() if k != "sync_s")
    out["fingerprint_and_full_tier_share"] = (
        out["fingerprint_s"] + out["full_tier_writes_s"]) / out["sync_s"]
    return out


def version_dirs(base: str) -> int:
    return sum(
        1 for _root, dirs, _files in os.walk(base) for d in dirs if d.startswith("v=")
    )


# ------------------------------------------------------------ per layer
def layer_metrics(tr, own, info: dict) -> dict:
    """Per-layer metrics of a traced run; ``own`` is the span around the
    workload's own operations (the scope of ``exec.*``)."""
    from perfbench.workloads import QUERIES

    inc = tr.inclusive
    m = {"session.start_s": info["session_start_s"]}

    builds, syncs = tr.named("op.build"), tr.named("op.sync")
    fp_b = tr.named("pipeline.fingerprint", within="op.build")
    fp_s = tr.named("pipeline.fingerprint", within="op.sync")
    m["pipeline.fingerprint.calls_per_build"] = len(fp_b) / max(len(builds), 1)
    m["pipeline.fingerprint.calls_per_sync"] = len(fp_s) / max(len(syncs), 1)
    m["pipeline.fingerprint.s"] = sum(s.wall for s in fp_b + fp_s)
    m["pipeline.fingerprint.rows_scanned"] = sum(
        inc(s, "input_records") for s in fp_b + fp_s)
    m["pipeline.self_s"] = sum(
        s.self_s for s in tr.named("pipeline.run") + tr.named("pipeline.sync"))

    def op_span(name):
        return tr.named(name)[0]

    rollup = op_span("operators.rollup")
    m["operators.rollup.s"] = rollup.wall
    m["operators.rollup.shuffle_bytes"] = inc(rollup, "shuffle_write_bytes")
    m["operators.rollup.rows_out"] = info["footprint"]["rolled_rows"]
    m["operators.gapfill.s"] = op_span("operators.gapfill").wall
    m["operators.gapfill.rows_out"] = info["footprint"]["gapfilled_rows"]
    enc = op_span("operators.encode")
    m["operators.encode.s"] = enc.wall
    m["operators.encode.python_bytes"] = (
        enc.sql["python_bytes_out"] + enc.sql["python_bytes_in"])
    m["operators.encode.decode_s"] = op_span("operators.encode.decode").wall
    m["operators.encode.bytes_per_point"] = info["operators"]["encoded_bytes_per_point"]
    met = op_span("operators.metrics")
    m["operators.metrics.s"] = met.wall
    m["operators.metrics.python_bytes"] = (
        met.sql["python_bytes_out"] + met.sql["python_bytes_in"])
    m["operators.downsample.s"] = op_span("operators.downsample").wall

    pubs = tr.named("storage.write", within="op.build")
    m["storage.publish.s"] = sum(s.wall for s in pubs)
    m["storage.publish.files"] = info["footprint"]["files"]
    m["storage.publish.bytes"] = info["footprint"]["bytes"]
    m["storage.publish.shuffle_bytes"] = sum(inc(s, "shuffle_write_bytes") for s in pubs)
    m["storage.tier_bytes_per_point"] = (
        info["footprint"]["tier_bytes"] / max(info["footprint"]["rolled_rows"], 1))

    n_sync = max(len(syncs), 1)
    m["snapshot.refresh_s"] = sum(
        s.wall for s in tr.named("snapshot.refresh", within="op.sync")) / n_sync
    m["snapshot.expire_s"] = sum(
        s.wall for s in tr.named("snapshot.expire", within="op.sync")) / n_sync
    m["snapshot.version_dirs"] = info["version_dirs"]

    reads = [s for k in ("read_range", "read_asof", "read_points", "read_m4")
             for s in tr.named(f"op.{k}")]
    n_reads = max(len(reads), 1)
    m["read.files_read"] = sum(s.sql["files_read"] for s in reads) / n_reads
    m["read.bytes_read"] = sum(inc(s, "input_bytes") for s in reads) / n_reads
    m["read.rows_scanned_per_row_returned"] = sum(
        inc(s, "input_records") for s in reads) / max(sum(s.count for s in reads), 1)

    for q in QUERIES:
        # the warm pass where the workload has one, else the only pass
        spans = (tr.named(f"analytics.{q}", within="workload.")
                 or tr.named(f"analytics.{q}"))
        m[f"analytics.{q}.s"] = _median([s.wall for s in spans])

    for k in ("task_cpu_s", "task_run_s", "shuffle_read_bytes",
              "shuffle_write_bytes", "spill_bytes", "tasks", "task_failures"):
        m[f"exec.{k}"] = inc(own, k)
    m["exec.gc_s"] = info["gc_s"]
    m["trace.overhead_s"] = info["trace_overhead_s"]
    return m


# ------------------------------------------------------------ main
def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    missing = [p for p in ("rtsa_spark", "__spark_entry__.py", "bench.py")
               if not os.path.exists(os.path.join(ROOT, p))]
    if missing:
        print(f"perfbench: not a checkout of the engine (missing {missing})",
              file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)

    from bench import probe_effective_cores
    from perfbench.status import (
        host_steal_s, jvm_gc_s, process_tree, tree_cpu_s, tree_peak_rss_mb)
    from perfbench.trace import Tracer
    from perfbench.workloads import Analytics, Ops, Tiers

    nproc = len(os.sched_getaffinity(0))
    weather = {"host_effective_cores_before": probe_effective_cores(nproc, 0.1)}
    steal0 = host_steal_s()
    base = os.path.join(WORK, "base")

    t_setup = time.perf_counter()
    spark = start_session(nproc)
    session_start_s = time.perf_counter() - t_setup
    try:
        tracer = Tracer(spark, enabled=bool(args.trace))
        tracer.install()
        ops = Ops(tracer)
        info = {"session_start_s": session_start_s}
        tiers = Tiers(spark, WORK, args.seed, ops)
        if args.trace:
            tiers.on_build = lambda p, b: info.setdefault(
                "footprint", publish_footprint(p, b))
        analytics = Analytics(spark, WORK, args.seed, ops)
        t_inputs = time.perf_counter()
        if args.workload == "build":
            # only a traced run syncs to the corrected input
            tiers.setup(corrected=bool(args.trace))
        else:
            analytics.setup()
        inputs_s = time.perf_counter() - t_inputs
        # set-up pays the JVM's first-job cost and forks every Python
        # worker; the measured op is still the first run of its own plans
        # in this session, as in a scheduled job's fresh application
        warm_python_workers(spark, nproc)
        setup_s = time.perf_counter() - t_setup

        cpu0 = tree_cpu_s(process_tree())
        overhead0 = tracer.overhead_s
        gc0 = jvm_gc_s(spark)
        t0 = time.perf_counter()
        rounds = 0
        phases = {}
        pl = None
        with tracer.span(f"workload.{args.workload}") as own:
            while True:
                if args.workload == "build":
                    pl = tiers.build(base)
                else:
                    analytics.one_pass()
                rounds += 1
                if time.perf_counter() - t0 >= args.seconds:
                    break
        measured_s = time.perf_counter() - t0
        # the output checks run in the loop too: a few CPU seconds of a round
        cpu_s = (tree_cpu_s(process_tree()) - cpu0) / max(rounds, 1)
        own_walls, ops.walls = ops.walls, {}
        info["trace_overhead_s"] = tracer.overhead_s - overhead0
        info["gc_s"] = jvm_gc_s(spark) - gc0

        if args.trace:
            # the other workload's layers, and the sync and read layers no
            # untraced round runs, so every per-layer metric is measured on
            # every workload
            t = time.perf_counter()
            if args.workload == "build":
                analytics.setup()
                analytics.one_pass()
            else:
                tiers.setup()
                pl = tiers.build(base)
            if pl is None:
                raise RuntimeError("no published tiers to time the operators on")
            tiers.sync(pl)
            tiers.reads(pl)
            phases["extra_ops_s"], t = time.perf_counter() - t, time.perf_counter()
            info["operators"] = time_operators(tracer, pl, tiers.seq["orig"])
            info["version_dirs"] = version_dirs(base)
            phases["operators_s"], t = time.perf_counter() - t, time.perf_counter()
            # a wrapped name the engine moved leaves no span: a failed op,
            # not a layer metric that reads zero
            ops.attempted += 1
            absent = tracer.absent(EXPECTED_SPANS)
            if absent:
                ops.failures.append("; ".join(absent))
            tracer.uninstall()
            tracer.resolve(
                sql_prefixes=("operators.encode", "operators.metrics", "op.read_"))
            phases["resolve_s"] = time.perf_counter() - t
        peak_rss_mb = tree_peak_rss_mb(process_tree())
    finally:
        stop_session(spark)
    weather["host_steal_s"] = host_steal_s() - steal0
    weather["host_effective_cores_after"] = probe_effective_cores(nproc, 0.1)

    medians = {k: _median(v) for k, v in own_walls.items()}
    round_s = sum(medians.values())
    failed = len(ops.failures)
    record = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "nproc": nproc, "rounds": rounds, "measured_s": measured_s,
        "setup_s": setup_s, "session_start_s": session_start_s, "inputs_s": inputs_s,
        # wall figures, reported but not gated (see perfbench/README.md)
        "round_s": round_s,
        "op_geomean_s": math.exp(statistics.fmean(
            math.log(max(v, 1e-9)) for v in medians.values())) if medians else 0.0,
        "ops": {k: {"median_s": medians[k], "n": len(v), "walls_s": [round(x, 3) for x in v]}
                for k, v in own_walls.items()},
        # traced runs: the other workload's ops, the sync and the reads
        "extra_ops": {k: {"median_s": _median(v), "n": len(v)}
                      for k, v in ops.walls.items()},
        "failed_op_ratio": failed / max(ops.attempted, 1),
        "peak_rss_mb": peak_rss_mb,
        "failures": ops.failures, "phases_s": phases, **weather,
    }

    if args.trace:
        values = layer_metrics(tracer, own, info)
        wanted = spec["per_layer"]
        record["sync_split_s"] = sync_split(tracer)
    else:
        values = {"setup_s": setup_s, "cpu_s": cpu_s}
        wanted = spec["end_to_end"]

    metrics = {}
    for m in wanted:
        if m["name"] not in values:
            raise KeyError(f"metric {m['name']} was not measured")
        metrics[m["name"]] = {"value": float(values[m["name"]]), "unit": m["unit"]}
    print(json.dumps(record))
    print(json.dumps({
        "correct": failed == 0,
        "attempted": ops.attempted,
        "failed": failed,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
