"""Per-thread CPU split of one perfbench round: which JVM threads the
round's CPU went to, and what the garbage collectors did.

Run from the root of a checkout, with perfbench's own arguments:

    python3 tools/thread_split.py --workload analytics --seed 31 --seconds 1 --trace 0

It runs ``perfbench.run.main`` unchanged. perfbench reads the process
tree's CPU (``status.tree_cpu_s``) and the JVM's GC time
(``status.jvm_gc_s``) once as the round starts and once as it ends; this
script wraps both to also read every live thread of the driver JVM
(``/proc/<jvm>/task/*/comm`` and ``stat``) and the
``GarbageCollectorMXBeans`` at the same two moments. After perfbench's own
output it prints one JSON line: the round's CPU-s per thread class

- ``c1``, ``c2``: JIT compiler threads;
- ``gc``: collector workers (``GC Thread#k``, ``G1 …``) and the VM thread
  that runs their safepoints;
- ``executor``: Spark task threads (``Executor task launch worker``);
- ``driver``: every other live JVM thread (scheduler, netty, py4j, …);
- ``exited``: threads that ended during the round (HotSpot retires idle
  compiler threads), the JVM's total minus its live threads;
- ``python``: the rest of the process tree (Python workers, this process);

and per collector its collections and collection time in the round.
"""

from __future__ import annotations

import json
import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
HZ = os.sysconf("SC_CLK_TCK")
#: thread-name prefixes (Linux keeps the first 15 bytes) per class
CLASSES = (
    ("c1", ("C1 CompilerThre",)),
    ("c2", ("C2 CompilerThre",)),
    ("gc", ("GC Thread", "G1 ", "VM Thread")),
    ("executor", ("Executor task l",)),
)


def _cpu(path: str) -> float:
    """utime + stime of a /proc stat file, in seconds."""
    with open(path) as f:
        fields = f.read().rsplit(")", 1)[1].split()
    return (int(fields[11]) + int(fields[12])) / HZ


def _jvm_pid(pids) -> int | None:
    for pid in pids:
        try:
            with open(f"/proc/{pid}/comm") as f:
                if f.read().strip() == "java":
                    return pid
        except OSError:
            continue
    return None


def _threads(jvm: int) -> dict[int, tuple[str, float]]:
    """Every live thread of ``jvm``: tid -> (class, CPU-s)."""
    out = {}
    for tid in os.listdir(f"/proc/{jvm}/task"):
        try:
            with open(f"/proc/{jvm}/task/{tid}/comm") as f:
                name = f.read().strip()
            cpu = _cpu(f"/proc/{jvm}/task/{tid}/stat")
        except OSError:
            continue
        cls = next((c for c, pre in CLASSES if name.startswith(pre)), "driver")
        out[int(tid)] = (cls, cpu)
    return out


def _split(start: dict, end: dict) -> dict[str, float]:
    """The round's CPU-s per class, threads matched by tid."""
    out = {c: 0.0 for c, _ in CLASSES} | {"driver": 0.0}
    for tid, (cls, cpu) in end["threads"].items():
        out[cls] += cpu - start["threads"].get(tid, (cls, 0.0))[1]
    jvm = end["jvm"] - start["jvm"]
    out["exited"] = jvm - sum(out.values())
    out["python"] = (end["tree"] - start["tree"]) - jvm
    return {k: round(v, 2) for k, v in out.items()}


def main(argv=None) -> int:
    sys.path.insert(0, ROOT)
    from perfbench import run, status

    marks, gcs = [], []
    tree_cpu_s, jvm_gc_s = status.tree_cpu_s, status.jvm_gc_s

    def tree_cpu_marked(pids):
        total = tree_cpu_s(pids)
        jvm = _jvm_pid(pids)
        if jvm is not None:
            marks.append({"tree": total, "jvm": _cpu(f"/proc/{jvm}/stat"),
                          "threads": _threads(jvm)})
        return total

    def jvm_gc_marked(spark):
        beans = spark.sparkContext._jvm.java.lang.management.ManagementFactory \
            .getGarbageCollectorMXBeans()
        gcs.append({b.getName(): (b.getCollectionCount(), b.getCollectionTime())
                    for b in beans})
        return jvm_gc_s(spark)

    # perfbench.run.main imports both names from perfbench.status per call
    status.tree_cpu_s, status.jvm_gc_s = tree_cpu_marked, jvm_gc_marked
    try:
        rc = run.main(argv)
    finally:
        status.tree_cpu_s, status.jvm_gc_s = tree_cpu_s, jvm_gc_s
    if len(marks) < 2 or len(gcs) < 2:
        print("thread_split: the round's start and end were not both seen",
              file=sys.stderr)
        return rc or 1
    gc = {name: {"collections": n - gcs[0][name][0],
                 "s": round((ms - gcs[0][name][1]) / 1e3, 3)}
          for name, (n, ms) in gcs[1].items()}
    print(json.dumps({"cpu_s": _split(marks[0], marks[1]), "gc": gc}))
    return rc


if __name__ == "__main__":
    sys.exit(main())
