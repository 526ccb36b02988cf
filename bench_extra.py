"""Extra benchmarks (guide §1.4): isolate individual headline queries with
the noop sink and report a per-stage breakdown from Spark's in-process
status store, so optimization work targets the stage that actually burns
the time.

NOT part of the driver contract — bench.py stays the frozen round metric.

Usage:
  python bench_extra.py dsir_select [reps] [count|noop]
  python bench_extra.py all [reps] [count|noop]
count (default) replays the frozen bench.py methodology (the optimizer may
prune subtrees a count never needs — that IS the round metric); noop forces
every column of every row (guide §1.4) for full-computation isolation.
Env: SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1), SPARK_GRAFT_CPUS.
Writes BENCH/extra_<name>.json with per-rep walls + the final rep's
per-stage breakdown: executor CPU and run time, tasks, input records and
shuffle read/write bytes.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from tools.dump_plans import HEADLINE  # noqa: E402


def noop(df):
    df.write.format("noop").mode("overwrite").save()


def stage_breakdown(spark, group: str):
    """Per-stage executor time, shuffle and input of the jobs run under
    job group ``group``, read from the in-process status store (the UI
    stays off)."""
    from perfbench.status import StatusReader

    reader = StatusReader(spark)
    table = reader.stage_table()
    tracker = spark.sparkContext.statusTracker()
    out = []
    for sid in reader.stage_ids(reader.job_ids(group)):
        s = table.get(sid)
        if s is None or not s["tasks"]:  # skipped: its output was reused
            continue
        info = tracker.getStageInfo(sid)
        out.append(
            {
                "stage": sid,
                "name": info.name.split("\n")[0][:80] if info else "",
                "task_cpu_s": round(s["task_cpu_s"], 2),
                "task_run_s": round(s["task_run_s"], 2),
                "tasks": int(s["tasks"]),
                "input_records": int(s["input_records"]),
                "shuffle_read_bytes": int(s["shuffle_read_bytes"]),
                "shuffle_write_bytes": int(s["shuffle_write_bytes"]),
            }
        )
    out.sort(key=lambda d: -d["task_cpu_s"])
    return out


def main() -> int:
    name = sys.argv[1] if len(sys.argv) > 1 else "dsir_select"
    reps = int(sys.argv[2]) if len(sys.argv) > 2 else 3
    mode = sys.argv[3] if len(sys.argv) > 3 else "count"

    from rtsa_spark.session import get_spark
    import __spark_entry__ as E

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cores = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    spark = get_spark(
        app_name="bench_extra", cores=cores, shuffle_partitions=cores * 2
    )
    sc = spark.sparkContext
    qs = E.queries()
    names = HEADLINE if name == "all" else [name]

    results = {}
    for n in names:
        if n == "minhash_lsh":
            from rtsa_spark.operators.dedup import minhash_lsh_buckets

            docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
            mk = lambda: minhash_lsh_buckets(docs)  # noqa: E731
        else:
            mk = lambda n=n: qs[n](spark, sf_dir)  # noqa: E731
        walls = []
        for rep in range(reps):
            if rep == reps - 1:  # the breakdown covers the last rep only
                sc.setJobGroup(f"extra:{n}", f"extra:{n}")
            t0 = time.time()
            if mode == "noop":
                noop(mk())
            else:
                mk().count()
            walls.append(round(time.time() - t0, 3))
        sc.setLocalProperty("spark.jobGroup.id", None)
        br = stage_breakdown(spark, f"extra:{n}")
        results[n] = {"walls": walls, "min": min(walls[1:] or walls),
                      "stages_last_rep": br}
        print(n, walls)
        for s in br[:12]:
            print("   ", s)
    out_path = os.path.join(
        os.path.dirname(os.path.abspath(__file__)),
        "BENCH",
        f"extra_{name}.json",
    )
    with open(out_path, "w") as f:
        json.dump(results, f, indent=1)
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
