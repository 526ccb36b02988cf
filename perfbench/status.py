"""UI-free readers for Spark's in-process status stores and for the
process tree's CPU and memory.

Spark keeps its job, stage and SQL-execution records in status stores
that exist whether or not the web UI runs (the engine runs with
``spark.ui.enabled=false``). This module reads them through py4j:

- ``SparkContext.statusStore().stageList(...)``: the five-argument Spark 4
  signature ``(List[StageStatus], details, withSummaries, double[],
  List[TaskStatus])``; empty lists select every stage;
- ``SharedState.statusStore().executionMetrics(id)`` with ``planGraph(id)``
  for per-operator SQL metrics, whose values arrive as display strings.

Jobs are attributed to the caller's spans by job group
(``statusTracker().getJobIdsForGroup``).
"""

from __future__ import annotations

import os
import re

# stage fields summed into a span's "exec" record
STAGE_FIELDS = (
    "task_cpu_s",
    "task_run_s",
    "shuffle_read_bytes",
    "shuffle_write_bytes",
    "spill_bytes",
    "input_bytes",
    "input_records",
    "tasks",
    "task_failures",
)

_UNITS = {"B": 1, "KiB": 1024, "MiB": 1024**2, "GiB": 1024**3, "TiB": 1024**4}
_NUM = re.compile(r"^([0-9][0-9,]*(?:\.[0-9]+)?)\s*([A-Za-z]*)")


def parse_metric(text: str) -> float:
    """Value of a count or size SQL metric display string: ``"1,234"``,
    ``"1.5 KiB"``, or the ``"total (min, med, max ...)\\n<total> (...)"``
    form Spark uses when several tasks reported. Sizes become bytes."""
    if text.startswith("total ("):
        text = text.split("\n", 1)[1]
    m = _NUM.match(text.strip())
    if not m:
        return 0.0
    return float(m.group(1).replace(",", "")) * _UNITS.get(m.group(2), 1)


def _iter(scala_seq):
    it = scala_seq.iterator()
    while it.hasNext():
        yield it.next()


class StatusReader:
    """Reads job, stage and SQL-execution metrics for job groups."""

    def __init__(self, spark):
        self.spark = spark
        self.sc = spark.sparkContext
        self._jvm = self.sc._jvm

    def job_ids(self, group: str) -> list[int]:
        return list(self.sc.statusTracker().getJobIdsForGroup(group))

    def stage_ids(self, job_ids) -> set[int]:
        out: set[int] = set()
        tracker = self.sc.statusTracker()
        for j in job_ids:
            info = tracker.getJobInfo(j)
            if info is not None:
                out.update(info.stageIds)
        return out

    def stage_table(self) -> dict[int, dict]:
        """Every retained stage attempt, summed per stage id."""
        jvm = self._jvm
        stages = self.sc._jsc.sc().statusStore().stageList(
            jvm.java.util.ArrayList(),
            False,
            False,
            self.sc._gateway.new_array(jvm.double, 0),
            jvm.java.util.ArrayList(),
        )
        table: dict[int, dict] = {}
        for s in _iter(stages):
            row = table.setdefault(s.stageId(), dict.fromkeys(STAGE_FIELDS, 0.0))
            row["task_cpu_s"] += s.executorCpuTime() / 1e9
            row["task_run_s"] += s.executorRunTime() / 1e3
            row["shuffle_read_bytes"] += s.shuffleReadBytes()
            row["shuffle_write_bytes"] += s.shuffleWriteBytes()
            row["spill_bytes"] += s.diskBytesSpilled()
            row["input_bytes"] += s.inputBytes()
            row["input_records"] += s.inputRecords()
            row["tasks"] += s.numCompleteTasks()
            row["task_failures"] += s.numFailedTasks()
        return table

    def execution_jobs(self) -> dict[int, int]:
        """job id -> SQL execution id, for every retained execution."""
        sql = self.spark._jsparkSession.sharedState().statusStore()
        out: dict[int, int] = {}
        for e in _iter(sql.executionsList()):
            eid = e.executionId()
            for j in _iter(e.jobs().keys()):
                out[int(j)] = eid
        return out

    def sql_metrics(self, execution_ids, want) -> dict[str, float]:
        """Sum of the named per-operator metrics over executions.
        ``want`` maps an output key to a metric name (matched exactly)."""
        sql = self.spark._jsparkSession.sharedState().statusStore()
        by_name: dict[str, list[str]] = {}
        for key, name in want.items():
            by_name.setdefault(name, []).append(key)
        out = dict.fromkeys(want, 0.0)
        for eid in sorted(set(execution_ids)):
            values = sql.executionMetrics(eid)
            for node in _iter(sql.planGraph(eid).allNodes()):
                for pm in _iter(node.metrics()):
                    keys = by_name.get(pm.name())
                    if not keys:
                        continue
                    v = values.get(pm.accumulatorId())
                    if v is None or (hasattr(v, "isEmpty") and v.isEmpty()):
                        continue
                    text = v.get() if hasattr(v, "get") else str(v)
                    for k in keys:
                        out[k] += parse_metric(str(text))
        return out


def jvm_gc_s(spark) -> float:
    """Collection time of every JVM garbage collector since start. In
    local mode this one JVM also runs every executor."""
    beans = spark.sparkContext._jvm.java.lang.management.ManagementFactory \
        .getGarbageCollectorMXBeans()
    return sum(b.getCollectionTime() for b in beans) / 1e3


# ------------------------------------------------------------ process tree
def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(d))
    return kids


def process_tree(root: int | None = None) -> list[int]:
    """This process and every descendant (the JVM and its Python
    workers included)."""
    root = root or os.getpid()
    kids = _children_map()
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, []))
    return out


def tree_cpu_s(pids) -> float:
    """utime + stime + reaped children's cutime + cstime, summed."""
    hz = os.sysconf("SC_CLK_TCK")
    total = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        total += sum(int(x) for x in fields[11:15])
    return total / hz


def host_steal_s() -> float:
    """CPU time the hypervisor gave to other guests, summed over CPUs,
    since boot (``steal`` in /proc/stat)."""
    with open("/proc/stat") as f:
        fields = f.readline().split()
    return int(fields[8]) / os.sysconf("SC_CLK_TCK")


def tree_peak_rss_mb(pids) -> float:
    """Sum of each live process's peak resident set (VmHWM)."""
    kb = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        kb += int(line.split()[1])
                        break
        except OSError:
            continue
    return kb / 1024.0
