"""The two workloads: operations, their seeded inputs and output checks.

Each operation is timed alone, closed loop, one client: the next starts
when the previous one and its output check have finished. The check runs
outside the timed interval. An operation that raises or fails its check
counts as failed, and the run goes on.
"""

from __future__ import annotations

import json
import os
import random
import shutil
import time
from datetime import datetime, timedelta

# The headline queries of bench.py the analytics workload runs: those
# ROADMAP carries open items for (the bm25 and gapfill regressions, the
# mg/hll exchange barriers) and a light scan-bound one the 16m split
# default moved. A run's time budget holds no more of them.
QUERIES = (
    "rollup_daily_cascade",
    "gapfill_hourly_linear",
    "bm25_topk",
    "mg_heavy_hitters",
    "hll_ladder",
)
STAGES = (
    "rollup_raw", "rollup_hourly", "gapfilled_hourly", "encoded_hourly",
    "rollup_daily", "gapfilled_daily", "metrics_daily", "rollup_monthly",
)


class CheckFailed(Exception):
    pass


def check(ok: bool, what: str) -> None:
    if not ok:
        raise CheckFailed(what)


class Ops:
    """Closed-loop op log shared by the workloads of one run."""

    def __init__(self, tracer):
        self.tracer = tracer
        self.walls: dict[str, list[float]] = {}
        self.attempted = 0
        self.failures: list[str] = []

    def run(self, kind: str, work, verify=None):
        """Time ``work(span)`` as one op of ``kind``, then ``verify`` its
        result untimed. Returns the result, or None if the op failed."""
        self.attempted += 1
        try:
            with self.tracer.span(f"op.{kind}") as span:
                t0 = time.perf_counter()
                out = work(span)
                dt = time.perf_counter() - t0
            if verify is not None:
                verify(out)
        except Exception as e:  # noqa: BLE001 - a failed op is a result
            self.failures.append(f"{kind}: {type(e).__name__}: {e}"[:300])
            return None
        self.walls.setdefault(kind, []).append(dt)
        return out


# ------------------------------------------------------------------ tiers
def _hourly_expect(frame):
    """(source, hour) -> n_tok sum of an input frame (pandas)."""
    f = frame.assign(h=frame["ts"].dt.floor("h"))
    return f.groupby(["source", "h"], sort=False)["n_tok"].sum()


class Tiers:
    """Cold builds of every tier into an empty base dir; on a published
    base, a month-scoped late-data sync and a seeded mix of reads."""

    def __init__(self, spark, work: str, seed: int, ops: Ops):
        self.spark = spark
        self.work = work
        self.seed = seed
        self.ops = ops
        self.rng = random.Random(seed)
        self.on_build = None  # called with (pipeline, base) after a build

    def setup(self, corrected: bool = True) -> None:
        """Write the inputs; ``corrected`` adds the late-data correction
        a sync needs."""
        from perfbench import inputs

        root = os.path.join(self.work, "inputs")
        paths = {}
        paths["orig"], corr, self.month = inputs.sequences(
            self.spark, root, self.seed, corrected)
        if corr is not None:
            paths["corr"] = corr
        self.seq = {k: self.spark.read.parquet(p) for k, p in paths.items()}
        frames = {k: inputs.expected_frame(p) for k, p in paths.items()}
        self.hourly = {k: _hourly_expect(f) for k, f in frames.items()}
        self.monthly = {
            k: f.groupby([f["source"], f["ts"].dt.strftime("%Y-%m")])["n_tok"].sum()
            for k, f in frames.items()
        }
        self.state = "orig"
        self.sources = sorted(frames["orig"]["source"].unique())

    def pipeline(self, base: str):
        from rtsa_spark.pipeline import TierPipeline

        return TierPipeline(
            self.spark, base, encode_tiers=("hourly",),
            snapshot_tiers=("hourly", "daily"),
        )

    # -- build -----------------------------------------------------------
    def build(self, base: str):
        """One cold build: the base dir is removed first."""
        shutil.rmtree(base, ignore_errors=True)

        def work(_span):
            pl = self.pipeline(base)
            pl.run(self.seq["orig"])
            return pl

        pl = self.ops.run("build", work, lambda pl: self._check_build(pl, base))
        self.state = "orig"
        if pl is not None and self.on_build is not None:
            self.on_build(pl, base)
        return pl

    def _check_build(self, pl, base: str) -> None:
        from pyspark.sql import functions as F

        with open(os.path.join(base, "lineage.jsonl")) as f:
            done = {r["stage"] for r in map(json.loads, f) if r["status"] == "SUCCESS"}
        check(set(STAGES) <= done, f"stages without SUCCESS: {set(STAGES) - done}")
        got = {
            (r["source"], r["m"]): r["s"]
            for r in pl.read_stage("rollup_monthly")
            .groupBy("source", F.date_format("bucket_start", "yyyy-MM").alias("m"))
            .agg(F.sum("n_tok_sum").alias("s"))
            .collect()
        }
        want = {k: int(v) for k, v in self.monthly["orig"].items()}
        check(got == want, "monthly n_tok_sum differs from the raw input")

    # -- sync ------------------------------------------------------------
    def sync(self, pl) -> None:
        """One refresh-mode sync to the other input state, then expire."""
        target = "corr" if self.state == "orig" else "orig"
        store = pl.stage_store("rollup_hourly")
        before = store.months()
        prev_sid = store.current_snapshot()

        def work(_span):
            res = pl.sync(self.seq[target])
            pl.expire_snapshots(keep_last=2)
            return res

        def verify(res):
            check(res["mode"] == "refresh" and bool(res["replaced"]),
                  f"sync did not refresh: {res['mode']}")
            after = store.months()
            check(after[self.month] != before[self.month],
                  "the corrected month kept its version")
            others = [m for m in set(after) | set(before) if m != self.month]
            check(all(after.get(m) == before.get(m) for m in others),
                  "a month outside the correction changed")
            self._check_month(pl, target)

        self.ops.run("sync", work, verify)
        self.prev_state, self.state, self.prev_sid = self.state, target, prev_sid

    def _month_bounds(self):
        lo = datetime.strptime(self.month, "%Y-%m")
        hi = (lo + timedelta(days=32)).replace(day=1)
        return lo, hi

    def _check_month(self, pl, state: str) -> None:
        from pyspark.sql import functions as F

        lo, hi = self._month_bounds()
        got = {
            r["source"]: r["s"]
            for r in pl.read_stage("rollup_hourly", start=lo, end=hi)
            .groupBy("source").agg(F.sum("n_tok_sum").alias("s")).collect()
        }
        exp = self.hourly[state]
        hours = exp.index.get_level_values("h")
        want = exp[(hours >= lo) & (hours < hi)].groupby(level="source").sum()
        check(got == {k: int(v) for k, v in want.items()},
              "the corrected month's hourly totals differ from the input")

    # -- reads -----------------------------------------------------------
    def _window(self):
        """A seeded one-week window inside the corrected month, over three
        seeded sources: the rows the last sync rewrote."""
        lo, hi = self._month_bounds()
        start = lo + timedelta(days=self.rng.randrange(0, (hi - lo).days - 7))
        return start, start + timedelta(days=7), self.rng.sample(self.sources, 3)

    def _expect(self, state, start, end, srcs):
        exp = self.hourly[state]
        h = exp.index.get_level_values("h")
        s = exp.index.get_level_values("source")
        sel = exp[(h >= start) & (h < end) & s.isin(srcs)]
        return len(sel), int(sel.sum())

    def reads(self, pl) -> None:
        """The four-read mix over a seeded window, once."""
        from pyspark.sql import functions as F

        from rtsa_spark.operators.downsample import m4_downsample
        from rtsa_spark.operators.encode import read_points

        def totals(df, value):
            r = df.agg(F.count(F.lit(1)).alias("n"), F.sum(value).alias("s")).first()
            return r["n"], int(r["s"] or 0)

        def counted(span, out):
            if span is not None:
                span.count = out[0]  # rows the read returned
            return out

        start, end, srcs = self._window()
        cur = self._expect(self.state, start, end, srcs)
        prev = self._expect(self.prev_state, start, end, srcs)

        self.ops.run(
            "read_range",
            lambda sp: counted(sp, totals(pl.read_stage(
                "rollup_hourly", start=start, end=end, sources=srcs), "n_tok_sum")),
            lambda got: check(got == cur, "read_stage totals differ from the input"),
        )
        self.ops.run(
            "read_asof",
            lambda sp: counted(sp, totals(pl.read_stage(
                "rollup_hourly", asof=self.prev_sid, start=start, end=end,
                sources=srcs), "n_tok_sum")),
            lambda got: check(
                got == prev, "read_stage(asof=previous) differs from the pre-sync input"),
        )

        def points(sp):
            blocks = pl.read_stage("encoded_hourly")
            with self.ops.tracer.span("operators.encode.read_points"):
                return counted(sp, totals(read_points(
                    blocks, start=start, end=end, sources=srcs), "value"))

        self.ops.run(
            "read_points", points,
            lambda got: check(got == cur, "read_points window differs from the tier"),
        )

        def m4(sp):
            hourly = pl.read_stage("rollup_hourly").withColumn(
                "t", F.unix_timestamp("bucket_start"))
            r = m4_downsample(hourly, "source", "t", "n_tok_sum", width=64).agg(
                F.count(F.lit(1)).alias("px"), F.sum("n").alias("n")).first()
            return counted(sp, (r["px"], r["n"]))

        self.ops.run(
            "read_m4", m4,
            lambda got: check(got[1] == len(self.hourly[self.state]),
                              "m4 pixels do not cover every hourly point"),
        )


# -------------------------------------------------------------- analytics
def oracle_counts(schema_dir: str, names) -> dict[str, int]:
    """Row count of each query's DuckDB oracle (``oracle_sql()`` in the
    entry file) over the same parquet files: an answer the Spark engine
    took no part in. A query without an oracle has no entry."""
    import duckdb

    import __spark_entry__ as entry

    sql = entry.oracle_sql()
    con = duckdb.connect(config={"threads": 1})
    try:
        for t in ("documents", "embeddings", "events"):
            path = os.path.join(schema_dir, f"{t}.parquet").replace("'", "''")
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
        return {n: len(con.sql(sql[n]).fetchall()) for n in names if n in sql}
    finally:
        con.close()


class Analytics:
    """Headline ``__spark_entry__.queries()`` over a seeded star schema,
    each forced with ``.count()``, in a seeded shuffled order. Each count
    must equal the row count of the query's DuckDB oracle on the same
    inputs."""

    def __init__(self, spark, work: str, seed: int, ops: Ops):
        self.spark = spark
        self.work = work
        self.seed = seed
        self.ops = ops
        self.rng = random.Random(seed)
        self.expected: dict[str, int] = {}
        self.oracle_error = ""

    def setup(self) -> None:
        import __spark_entry__ as entry
        from perfbench import inputs

        self.dir = inputs.star_schema(os.path.join(self.work, "inputs"), self.seed)
        self.q = entry.queries()
        try:
            self.expected = oracle_counts(self.dir, QUERIES)
        except Exception as e:  # noqa: BLE001 - every query then fails its check
            self.oracle_error = f": {type(e).__name__}: {e}"

    def one_pass(self) -> None:
        """Every query once, each checked against its oracle's count."""
        order = list(QUERIES)
        self.rng.shuffle(order)
        for name in order:
            def work(_span, name=name):
                with self.ops.tracer.span(f"analytics.{name}"):
                    return self.q[name](self.spark, self.dir).count()

            def verify(n, name=name):
                want = self.expected.get(name)
                check(want is not None,
                      f"{name} has no oracle to check against{self.oracle_error}")
                check(n == want, f"{name} returned {n} rows, its oracle {want}")

            self.ops.run(f"q.{name}", work, verify)
