"""Spans at layer boundaries, recorded from the benchmark's side.

A span is a named interval with a parent. Entering one sets a fresh Spark
job group, so every job the enclosed code runs is attributed to the
innermost open span; leaving restores the parent's group. Stage and SQL
metrics are resolved once, after the run (``resolve``), from the status
stores (``status.StatusReader``).

``install`` wraps the public calls that execute work inside the engine
(fingerprint scans, snapshot commits, pipeline entry points, parquet
writes) so their spans appear without editing the engine. ``uninstall``
restores them. A name that is gone is recorded in ``missing`` instead of
failing the run; ``absent`` then reports the spans a traced operation
should have produced and did not, so a moved or renamed function shows
as a failed operation rather than as a zero.
"""

from __future__ import annotations

import time
from contextlib import contextmanager

from perfbench.status import STAGE_FIELDS, StatusReader


class Span:
    __slots__ = ("id", "name", "parent", "start", "end", "group", "children",
                 "exec", "sql", "count", "tag")

    def __init__(self, sid, name, parent, group):
        self.id = sid
        self.name = name
        self.parent = parent
        self.group = group
        self.start = self.end = 0.0
        self.children: list[Span] = []
        self.exec: dict[str, float] = {}
        self.sql: dict[str, float] = {}
        self.count = 0  # caller-recorded rows (e.g. rows a read returned)
        self.tag = ""  # what the call acted on (e.g. the path a write targets)

    @property
    def wall(self) -> float:
        return self.end - self.start

    @property
    def self_s(self) -> float:
        return self.wall - sum(c.wall for c in self.children)


# SQL metrics gathered for spans whose name asks for them
SQL_WANT = {
    "python_bytes_out": "data sent to Python workers",
    "python_bytes_in": "data returned from Python workers",
    "files_read": "number of files read",
}


class Tracer:
    def __init__(self, spark, enabled: bool):
        self.enabled = enabled
        self.spark = spark
        self.sc = spark.sparkContext
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._own_s = 0.0  # wall spent in span bookkeeping
        self._patched: list[tuple[object, str, object]] = []
        self.missing: list[str] = []  # wrapped names the engine no longer has

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield None
            return
        t0 = time.perf_counter()
        parent = self._stack[-1] if self._stack else None
        s = Span(len(self.spans), name, parent, f"pb{len(self.spans)}")
        self.spans.append(s)
        if parent is not None:
            parent.children.append(s)
        self._stack.append(s)
        self.sc.setJobGroup(s.group, name, False)
        s.start = time.perf_counter()
        self._own_s += s.start - t0
        try:
            yield s
        finally:
            t1 = time.perf_counter()
            s.end = t1
            self._stack.pop()
            if parent is not None:
                self.sc.setJobGroup(parent.group, parent.name, False)
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)
            self._own_s += time.perf_counter() - t1

    @property
    def overhead_s(self) -> float:
        """Wall the calling thread spent in span bookkeeping: the wall a
        traced run adds to the same operations run untraced."""
        return self._own_s

    # ------------------------------------------------------------ wrapping
    def wrap(self, owner, attr: str, name: str, tag=None) -> None:
        """Replace ``owner.attr`` by a call inside a span ``name``;
        ``tag(*args)`` names what the call acts on."""
        if not self.enabled:
            return
        orig = getattr(owner, attr, None)
        if orig is None:
            self.missing.append(f"{getattr(owner, '__name__', owner)}.{attr}")
            return
        tracer = self

        def wrapped(*a, **kw):
            with tracer.span(name) as s:
                if tag is not None:
                    s.tag = tag(*a, **kw)
                return orig(*a, **kw)

        wrapped.__wrapped__ = orig
        # restored exactly as the owner's own namespace held it
        raw = owner.__dict__.get(attr, orig)
        self._patched.append((owner, attr, raw))
        setattr(owner, attr, wrapped)

    def install(self) -> None:
        from pyspark.sql.readwriter import DataFrameWriter

        import rtsa_spark.pipeline as pipeline
        from rtsa_spark.snapshot import SnapshotStore

        # module globals, as the pipeline resolves them at call time
        self.wrap(pipeline, "month_fingerprints", "pipeline.fingerprint")
        self.wrap(pipeline, "content_fingerprint", "pipeline.fingerprint")
        self.wrap(pipeline.TierPipeline, "run", "pipeline.run")
        self.wrap(pipeline.TierPipeline, "sync", "pipeline.sync")
        self.wrap(pipeline.TierPipeline, "read_stage", "pipeline.read_stage")
        # every parquet write: the publish of plain month-partitioned dirs
        # and of snapshot version dirs alike, tagged with the target path
        self.wrap(DataFrameWriter, "parquet", "storage.write",
                  tag=lambda _self, path, *a, **kw: str(path))
        self.wrap(SnapshotStore, "publish", "snapshot.publish")
        self.wrap(SnapshotStore, "refresh_months", "snapshot.refresh")
        self.wrap(SnapshotStore, "read", "snapshot.read")
        self.wrap(SnapshotStore, "expire", "snapshot.expire")

    def absent(self, expected: dict[str, tuple[str, ...]]) -> list[str]:
        """``expected`` maps an op span name to the span names every such
        op must contain. Returns one message per wrapped name that was
        missing at install time or left no span inside an op that ran."""
        out = [f"trace: {m} not found, its spans are missing" for m in self.missing]
        for op, names in expected.items():
            ops = self.named(op)
            for name in names:
                if ops and not self.named(name, within=op):
                    out.append(f"trace: no {name} span inside {op}")
        return out

    def uninstall(self) -> None:
        while self._patched:
            owner, attr, raw = self._patched.pop()
            setattr(owner, attr, raw)

    # ------------------------------------------------------------ resolve
    def resolve(self, sql_prefixes=()) -> None:
        """Attach summed stage metrics to every span (own jobs only) and
        SQL metrics to spans whose name starts with one of
        ``sql_prefixes``."""
        if not self.enabled or not self.spans:
            return
        reader = StatusReader(self.spark)
        stages = reader.stage_table()
        exec_of_job = reader.execution_jobs() if sql_prefixes else {}
        jobs = {s.id: reader.job_ids(s.group) for s in self.spans}
        for s in self.spans:
            s.exec = dict.fromkeys(STAGE_FIELDS, 0.0)
            for sid in reader.stage_ids(jobs[s.id]):
                for k, v in stages.get(sid, {}).items():
                    s.exec[k] += v
            if sql_prefixes and s.name.startswith(tuple(sql_prefixes)):
                todo, incl = [s], []
                while todo:
                    c = todo.pop()
                    incl.extend(jobs[c.id])
                    todo.extend(c.children)
                eids = {exec_of_job[j] for j in incl if j in exec_of_job}
                s.sql = reader.sql_metrics(eids, SQL_WANT)

    # ------------------------------------------------------------ queries
    def named(self, name: str, within=None) -> list[Span]:
        """Spans called ``name``; ``within`` keeps those under a span
        whose name starts with that prefix."""
        out = []
        for s in self.spans:
            if s.name != name:
                continue
            if within is not None:
                p = s.parent
                while p is not None and not p.name.startswith(within):
                    p = p.parent
                if p is None:
                    continue
            out.append(s)
        return out

    @staticmethod
    def inclusive(span: Span, key: str) -> float:
        """A stage metric summed over the span and its descendants."""
        return span.exec.get(key, 0.0) + sum(
            Tracer.inclusive(c, key) for c in span.children
        )
