"""Resumable tier pipeline: the engine's batch driver.

Runs the retention ladder stage by stage, persisting every tier before the
next reads it, with a lineage ledger that makes re-runs idempotent:

- each stage writes to ``<base>/<stage>`` (parquet, zstd), bucket-bearing
  stages **partitioned by calendar month** (``p_month=YYYY-MM`` dirs), and
  appends a lineage row ``{run_id, stage, rows_in, rows_out, n_files,
  started_at, finished_at, status, fingerprint}`` to
  ``<base>/lineage.jsonl``, plus one PER-PARTITION manifest row
  ``{run_id, stage, p_month, rows, n_files, bytes, status, finished_at}``
  per published month dir to ``<base>/partition_lineage.jsonl`` (the
  metrics rows of the north rule — what an Iceberg snapshot's manifest
  entries record per partition).  Rows are summed from the data files'
  parquet footers, as Iceberg records each file's ``record_count``, so
  accounting a stage reads metadata only and launches no Spark job;
- optional stages per tier: gap-fill, token histograms, metrics, and
  (opt-in via ``encode_tiers``) the Gorilla/DoD encoded-block stage
  ``encoded_<tier>`` — month-partitioned on ``block_day``; blocks are
  calendar-month groups by construction, so late-data refreshes re-encode
  only the affected months' partitions like the tiers themselves;
- one ladder walk serves ``run()`` and every month-scoped refresh, and
  SKIPS a stage when it exists and its LATEST lineage row carries the
  stage's input fingerprint (an older matching row says nothing about
  what a later refresh left behind); a snapshot-backed stage is skipped
  only while its main branch has committed nothing but layout-only
  rewrites since that row's ``snapshot_id`` (a ``stage_store`` delete or
  merge writes no lineage row). The fingerprint is a CONTENT hash
  (``count:bit_xor(xxhash64(*cols))``, order-independent) — a corrected
  input with the same row count no longer silently skips recomputation.
  A published stage's own fingerprint, the input of the stages built on
  it, is observed on its publish write, so a cold run scans no published
  tier back. On Iceberg the seam is the snapshot id;
- full-stage writes go to a ``_tmp`` dir first and are atomically renamed,
  so a stage killed mid-write never leaves a half-table behind the SUCCESS
  check. Partition-scoped refreshes use dynamic partition overwrite and
  touch ONLY the affected ``p_month`` dirs.

Opt-in ``snapshot_tiers`` stores those rollup tiers through
:class:`rtsa_spark.snapshot.SnapshotStore` instead of a plain partitioned
dir: every publish/refresh is an append-only snapshot commit, so
``read_stage(stage, asof=...)`` time-travels to any retained checkpoint,
refreshes never destroy what an earlier snapshot read, and
``expire_snapshots`` reclaims history explicitly. Manifest rows for those
stages carry the committing ``snapshot_id``.

This is the parquet-backed emulation of Iceberg snapshot checkpoints
(SURVEY.md §7 "Iceberg in sandbox"): the lineage row plays the snapshot
commit, the atomic rename / per-partition swap plays the manifest swap. On
a real deployment the ``storage`` seam swaps to
``df.writeTo(...).overwritePartitions()`` on an Iceberg catalog with no
driver changes.

The reference's analog is the per-function result-stack sink (S4 stacks,
``/root/reference/R/rtsa.stl.R:441-489``) — except rtsa recomputes
everything from scratch every call; resumability is ours.
"""

from __future__ import annotations

import json
import os
import re
import shutil
import time
import uuid
from datetime import datetime, timedelta

import pyarrow.parquet as pq
import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from rtsa_spark.operators.encode import encode_tier
from rtsa_spark.operators.gapfill import gapfill_linear
from rtsa_spark.operators.metrics import compute_metrics
from rtsa_spark.operators.rollup import TIER_ORDER, rollup_next, rollup_raw
from rtsa_spark.snapshot import MAIN, SnapshotStore
from rtsa_spark.storage import (
    cluster_for_publish,
    fingerprint_aggs,
    fingerprint_text,
    observe_fingerprint,
)

P_MONTH = "p_month"
_MONTH_RE = re.compile(r"\d{4}-(0[1-9]|1[0-2])")


def _parse_ts(x):
    """datetime | ISO string | None -> naive UTC datetime (engine
    timestamps are UTC by construction, session tz pinned)."""
    if x is None or isinstance(x, datetime):
        return x
    return datetime.fromisoformat(x)


def _parquet_files(d: str | None) -> list[str]:
    """Parquet data files under a published dir (none for a missing one)."""
    if d is None:
        return []
    return [
        os.path.join(root, f)
        for root, _dirs, files in os.walk(d)
        for f in files
        if f.endswith(".parquet")
    ]


def _time_col(df: DataFrame) -> str | None:
    """The column a stage is month-partitioned on: ``bucket_start`` for
    tier-shaped stages, ``block_day`` for encoded-block stages (blocks are
    calendar-month groups, so they stay refresh-able), None for a stage
    with no time axis."""
    for c in ("bucket_start", "block_day"):
        if c in df.columns:
            return c
    return None


def _rollup(tier: str, finer: DataFrame) -> DataFrame:
    """The rollup cascade: the raw tier from sequences, every coarser tier
    from the finer one."""
    return rollup_raw(finer) if tier == "raw" else rollup_next(finer, tier)


def content_fingerprint(df: DataFrame) -> str:
    """Order-independent content hash of a DataFrame: ``rows:xor-hash``
    (:func:`rtsa_spark.storage.fingerprint_aggs`: commutative,
    partitioning-independent, ANSI-safe).  One columnar scan; a publish
    learns the same value from its own write instead
    (:func:`rtsa_spark.storage.observe_fingerprint`), and at 100 TB the
    production seam replaces both with the Iceberg snapshot id.
    """
    return fingerprint_text(df.agg(*fingerprint_aggs(df)).first())


def month_fingerprints(df: DataFrame, ts_col: str = "ts") -> dict[str, str]:
    """Per-calendar-month content fingerprints of an input table:
    ``{YYYY-MM: "rows:xor-hash"}``.  Same hash construction as
    :func:`content_fingerprint` and COMBINABLE into it (xor of month
    hashes, sum of counts) because ``bit_xor`` is commutative across any
    partitioning — so recording month-grain lineage costs the same single
    scan the global fingerprint already paid.  This is what makes
    late-data detection cheap: compare a corrected input's month map
    against the published one and only the differing months recompute
    (:meth:`TierPipeline.refresh_changed`).
    """
    rows = (
        df.groupBy(F.date_format(F.col(ts_col), "yyyy-MM").alias("m"))
        .agg(*fingerprint_aggs(df))
        .collect()
    )
    return {r["m"]: fingerprint_text(r) for r in rows}


def combine_month_fingerprints(months: dict[str, str]) -> str:
    """Fold a month-fingerprint map into the global
    :func:`content_fingerprint` value (sum counts, xor hashes)."""
    n = 0
    x = 0
    for v in months.values():
        c, h = v.split(":")
        n += int(c)
        x ^= int(h)
    return f"{n}:{x if months else 0}"


class TierPipeline:
    def __init__(
        self,
        spark: SparkSession,
        base_dir: str,
        tiers: list[str] | None = None,
        gapfill_tiers: tuple[str, ...] = ("hourly", "daily"),
        metrics_tiers: tuple[str, ...] = ("daily",),
        hist_tiers: tuple[str, ...] = (),
        hist_top_k: int | None = 128,
        encode_tiers: tuple[str, ...] = (),
        snapshot_tiers: tuple[str, ...] = (),
        run_id: str | None = None,
    ):
        self.spark = spark
        self.base = base_dir
        self.tiers = tiers or list(TIER_ORDER)
        # month-nested tiers only: a weekly bucket straddles month
        # boundaries (rollup.py documents it as a non-cascadable side
        # branch), so a month-scoped refresh could overwrite a neighbor
        # month's partition with a partial straddling bucket
        bad_tiers = [t for t in self.tiers if t not in TIER_ORDER]
        if bad_tiers:
            raise ValueError(
                f"tiers must be month-nested cascade tiers {TIER_ORDER}; "
                f"got {bad_tiers} (weekly is a read-side rollup, not a "
                f"pipeline tier)"
            )
        self.gapfill_tiers = gapfill_tiers
        self.metrics_tiers = metrics_tiers
        self.hist_tiers = hist_tiers
        self.hist_top_k = hist_top_k
        self.encode_tiers = encode_tiers
        #: rollup tiers stored through :class:`SnapshotStore` instead of a
        #: plain partitioned dir: every publish/refresh is an append-only
        #: snapshot commit, so consumers can time-travel
        #: (``read_stage(stage, asof=...)``) and refreshes never destroy
        #: what an earlier checkpoint read. Downstream stages (gapfill /
        #: encode / metrics) read the CURRENT snapshot and keep their
        #: plain layout.
        self.snapshot_tiers = snapshot_tiers
        self._stores: dict[str, SnapshotStore] = {}
        self.run_id = run_id or uuid.uuid4().hex[:12]
        os.makedirs(self.base, exist_ok=True)

    # ----------------------------------------------------------- ledger
    @property
    def _ledger_path(self) -> str:
        return os.path.join(self.base, "lineage.jsonl")

    def _ledger(self) -> list[dict]:
        if not os.path.exists(self._ledger_path):
            return []
        with open(self._ledger_path) as f:
            return [json.loads(line) for line in f if line.strip()]

    def _append_ledger(self, row: dict) -> None:
        self._append_ledger_row(self._ledger_path, row)

    # ------------------------------------------- per-partition lineage
    @property
    def _partition_ledger_path(self) -> str:
        return os.path.join(self.base, "partition_lineage.jsonl")

    def _month_dirs(self, stage: str) -> dict[str | None, str]:
        """``{p_month: dir}`` of a stage's CURRENT data: the current
        snapshot's version dirs on a snapshot-backed stage, the
        ``p_month=`` dirs on a plain one (``{None: stage dir}`` when the
        stage is not month-partitioned)."""
        if self._is_snapshot_stage(stage):
            st = self._store(stage)
            return {m: st.version_dir(m, v) for m, v in st.months().items()}
        path = self._stage_path(stage)
        dirs = {
            d.split("=", 1)[1]: os.path.join(path, d)
            for d in os.listdir(path)
            if d.startswith(f"{P_MONTH}=")
        }
        return dirs or {None: path}

    def _append_manifest(
        self, stage: str, status: str, months: list[str] | None = None
    ) -> tuple[int, int]:
        """Append one manifest row PER month partition of a published
        stage (the parquet emulation of an Iceberg snapshot's
        per-partition manifest entries): ``{run_id, stage, p_month, rows,
        n_files, bytes, status, finished_at}``, plus ``snapshot_id`` on a
        snapshot-backed stage.  ``rows`` sums each data file's footer
        ``num_rows`` (Iceberg's ``record_count``), so accounting reads
        metadata only and launches no Spark job.  ``months`` restricts
        accounting to the refreshed partitions; a requested month with no
        dir was DELETED and gets a rows=0 row, not a silent omission.  A
        non-partitioned stage gets one row with ``p_month=None``.  Returns
        ``(rows, n_files)`` over the accounted partitions, so the caller's
        stage row needs no second count."""
        dirs = self._month_dirs(stage)
        if months is not None:
            dirs = {m: dirs.get(m) for m in months}
        snap = (
            {"snapshot_id": self._store(stage).current_snapshot()}
            if self._is_snapshot_stage(stage)
            else {}
        )
        now = time.time()
        total_rows = total_files = 0
        for month, d in sorted(dirs.items(), key=lambda kv: str(kv[0])):
            files = _parquet_files(d)
            rows = sum(pq.read_metadata(f).num_rows for f in files)
            self._append_ledger_row(
                self._partition_ledger_path,
                {
                    "run_id": self.run_id,
                    "stage": stage,
                    "p_month": month,
                    "rows": rows,
                    "n_files": len(files),
                    "bytes": sum(os.path.getsize(f) for f in files),
                    "status": status,
                    **snap,
                    "finished_at": now,
                },
            )
            total_rows += rows
            total_files += len(files)
        return total_rows, total_files

    @staticmethod
    def _append_ledger_row(ledger_path: str, row: dict) -> None:
        with open(ledger_path, "a") as f:
            f.write(json.dumps(row) + "\n")

    def partition_lineage(self) -> DataFrame:
        """Per-partition ledger as a DataFrame — the metrics-row twin of
        :meth:`lineage` at month-partition grain (north rule: resumable
        checkpoints with per-partition lineage + metrics rows)."""
        return self.spark.read.json(self._partition_ledger_path)

    def table_status(self) -> DataFrame:
        """CURRENT physical state of every published partition — the
        ``DESCRIBE``/``SHOW PARTITIONS`` of this table format, answered
        from the manifest alone (driver-side metadata, O(manifest rows),
        zero data files touched — the same promise an Iceberg metadata
        table makes).  Latest manifest row per (stage, p_month) wins
        across SUCCESS / REFRESH history; months whose latest
        row records ``rows = 0`` were deleted and are excluded.  Columns:
        ``stage, p_month, rows, n_files, bytes, status, finished_at,
        run_id`` (+ ``snapshot_id`` where the stage is snapshot-backed).
        """
        if not os.path.exists(self._partition_ledger_path):
            raise ValueError(
                "no partition manifest yet; run() must publish first"
            )
        from pyspark.sql import Window

        man = self.partition_lineage()
        w = Window.partitionBy("stage", "p_month").orderBy(
            F.col("finished_at").desc()
        )
        return (
            man.withColumn("_r", F.row_number().over(w))
            .where((F.col("_r") == 1) & (F.col("rows") > 0))
            .drop("_r")
            .orderBy("stage", "p_month")
        )

    def _is_current(self, stage: str, fingerprint: str) -> bool:
        """The walk's skip rule: ``stage``'s LATEST ledger row carries
        ``fingerprint`` and the stage exists.  ``_stage_exists``, not
        ``os.path.exists``: a snapshot-backed stage's dir exists as soon
        as its store object is built, with no committed snapshot
        behind it.  A snapshot-backed stage can also change through
        :meth:`stage_store` (``delete_where``, ``merge``,
        ``fast_forward``) without a ledger row, so its main branch must
        have committed nothing but layout-only rewrites
        (:meth:`SnapshotStore.rewrite`) since the row's ``snapshot_id``."""
        rows = [r for r in self._ledger() if r["stage"] == stage]
        if not (
            rows
            and rows[-1]["fingerprint"] == fingerprint
            and self._stage_exists(stage)
        ):
            return False
        if not self._is_snapshot_stage(stage):
            return True
        sid = rows[-1].get("snapshot_id")
        return sid is not None and all(
            c["op"] == "rewrite"
            for c in self._store(stage).data_commits(MAIN)
            if c["snapshot_id"] > sid
        )

    # ------------------------------------------------------------ stages
    def _stage_path(self, stage: str) -> str:
        return os.path.join(self.base, stage)

    def _is_snapshot_stage(self, stage: str) -> bool:
        # the snapshot policy follows the tier: if a tier checkpoints
        # through the store, its encoded-block stage does too (same time
        # travel / refresh semantics, keyed on block_day)
        return (
            stage.startswith("rollup_")
            and stage[len("rollup_"):] in self.snapshot_tiers
        ) or (
            stage.startswith("encoded_")
            and stage[len("encoded_"):] in self.snapshot_tiers
        )

    def _store(self, stage: str) -> SnapshotStore:
        if stage not in self._stores:
            ts_col = (
                "block_day" if stage.startswith("encoded_") else "bucket_start"
            )
            self._stores[stage] = SnapshotStore(
                self.spark, self._stage_path(stage), ts_col=ts_col
            )
        return self._stores[stage]

    def _stage_exists(self, stage: str) -> bool:
        if self._is_snapshot_stage(stage):
            return self._store(stage).current_snapshot() is not None
        return os.path.exists(self._stage_path(stage))

    def _read_stage(self, stage: str, months: list[str] | None = None) -> DataFrame:
        """A stage's current content, or only ``months`` of it:
        partition-pruned on ``p_month`` for plain stages; snapshot stages
        restrict the manifest listing to the requested months (pruned at
        the dir level, not post-hoc)."""
        if self._is_snapshot_stage(stage):
            return self._store(stage).read(months=months)
        df = self.spark.read.parquet(self._stage_path(stage))
        if months is not None:
            df = df.where(F.col(P_MONTH).isin(months))
        return df.drop(P_MONTH) if P_MONTH in df.columns else df

    def read_stage(
        self,
        stage: str,
        asof: int | None = None,
        start=None,
        end=None,
        sources: list[str] | None = None,
        asof_ts: float | None = None,
    ) -> DataFrame:
        """Public stage read. ``asof`` time-travels a snapshot-backed
        stage to an earlier checkpoint — a snapshot id or a tag/branch
        name (``SnapshotStore.tag``/``branch``); ``asof_ts`` resolves a
        wall-clock time instead (``SnapshotStore.snapshot_as_of_ts``);
        plain stages hold only the current state and refuse both loudly.

        ``start``/``end`` (datetimes or ISO strings, half-open
        ``[start, end)``) and ``sources`` prune the read at every level
        the layout offers: the time range maps to an inclusive
        ``p_month`` range — directory-level partition pruning on plain
        stages, manifest-level dir listing on snapshot stages — and the
        row predicates land on the parquet scan, where the
        month-rebalanced sorted publish (``write.distribution-mode=hash``,
        :func:`cluster_for_publish`) makes the row-group min/max
        envelopes tight.  Encoded-block stages prune on the block
        ``[bucket_lo, bucket_hi]`` envelope
        (decode of surviving blocks is the caller's step — see
        ``operators.encode.read_points``).  A 3-day dashboard query over
        a 10-year 100 TB tier touches 1-2 month dirs and, within them,
        only the row groups covering the requested sources and days.
        """
        start, end = _parse_ts(start), _parse_ts(end)
        m_lo = start.strftime("%Y-%m") if start is not None else None
        m_hi = (
            (end - timedelta(microseconds=1)).strftime("%Y-%m")
            if end is not None
            else None
        )
        if self._is_snapshot_stage(stage):
            df = self._store(stage).read(
                asof=asof, month_lo=m_lo, month_hi=m_hi, asof_ts=asof_ts
            )
        else:
            if asof is not None or asof_ts is not None:
                raise ValueError(
                    f"stage {stage!r} is not snapshot-backed; add its tier "
                    f"to snapshot_tiers for time travel"
                )
            df = self.spark.read.parquet(self._stage_path(stage))
            if P_MONTH in df.columns:
                if m_lo is not None:
                    df = df.where(F.col(P_MONTH) >= m_lo)
                if m_hi is not None:
                    df = df.where(F.col(P_MONTH) <= m_hi)
                df = df.drop(P_MONTH)
        if start is not None or end is not None:
            if "bucket_start" in df.columns:
                if start is not None:
                    df = df.where(F.col("bucket_start") >= F.lit(start))
                if end is not None:
                    df = df.where(F.col("bucket_start") < F.lit(end))
            elif {"bucket_lo", "bucket_hi"} <= set(df.columns):
                if start is not None:
                    df = df.where(F.col("bucket_hi") >= F.lit(start))
                if end is not None:
                    df = df.where(F.col("bucket_lo") < F.lit(end))
            else:
                raise ValueError(
                    f"stage {stage!r} has no time column; start/end do not "
                    f"apply"
                )
        if sources is not None:
            if "source" not in df.columns:
                raise ValueError(f"stage {stage!r} has no source column")
            df = df.where(F.col("source").isin(list(sources)))
        return df

    def stage_store(self, stage: str) -> SnapshotStore:
        """The :class:`SnapshotStore` behind a snapshot-backed stage —
        the one way into its store-level operations: changelog reads
        (``read_changes(since)``), tags (``tag``/``drop_tag``, readable as
        ``read_stage(stage, asof=name)``), write-audit-publish branches
        (``branch``, ``refresh_months(df, months, branch=name)``,
        ``fast_forward``, ``drop_branch``), row-level ``delete_where``,
        ``refs()``/``files()`` metadata views, and CDC maintenance of a
        coarser tier via :func:`rtsa_spark.sync.sync_next` over two stage
        stores.  Plain stages hold only current state and refuse."""
        if not self._is_snapshot_stage(stage):
            raise ValueError(
                f"stage {stage!r} is not snapshot-backed; add its tier to "
                f"snapshot_tiers"
            )
        return self._store(stage)

    def expire_snapshots(self, keep_last: int = 2) -> dict[str, dict]:
        """Expire old checkpoints on every snapshot-backed stage (rollup
        tiers and, when their tier encodes, the encoded-block stages);
        returns per-stage accounting from :meth:`SnapshotStore.expire`."""
        stages = [f"rollup_{t}" for t in self.snapshot_tiers] + [
            f"encoded_{t}"
            for t in self.snapshot_tiers
            if t in self.encode_tiers and self._stage_exists(f"encoded_{t}")
        ]
        return {s: self._store(s).expire(keep_last) for s in stages}

    @staticmethod
    def _with_month(df: DataFrame, ts_col: str) -> DataFrame:
        return df.withColumn(
            P_MONTH, F.date_format(F.col(ts_col), "yyyy-MM")
        )

    def _write_stage(self, stage: str, df: DataFrame, fingerprint: str) -> str:
        """Compute + atomically publish one stage, ledger-logged.
        Time-bearing stages are written partitionBy(month) so late-data
        refreshes can swap single partition dirs. Snapshot-backed stages
        publish through their store instead: append-only version dirs +
        snapshot-log commit play the tmp-write + atomic rename (a crash
        between data write and log append leaves an orphan no read sees,
        reaped by expire).

        Returns the content fingerprint of what was published, observed
        on the publish write itself (:func:`observe_fingerprint`), so no
        read-back scan is needed.  An observed row count that disagrees
        with the footer-counted ``rows_out`` raises before the ledger
        row is written, so the stage is rebuilt on the next run."""
        final = self._stage_path(stage)
        t0 = time.time()
        snap = {}
        if self._is_snapshot_stage(stage):
            st = self._store(stage)
            sid = st.publish(df)
            snap = {"snapshot_id": sid}
            written = st.fingerprint(sid)
        else:
            tmp = final + f"._tmp_{self.run_id}"
            ts_col = _time_col(df)
            frame = (
                df
                if ts_col is None
                else cluster_for_publish(
                    self._with_month(df, ts_col), ("source", ts_col)
                )
            )
            observed, obs = observe_fingerprint(frame, df.columns)
            writer = observed.write.mode("overwrite")
            if ts_col is not None:
                writer = writer.partitionBy(P_MONTH)
            writer.parquet(tmp)
            written = fingerprint_text(obs.get)
            if os.path.exists(final):
                shutil.rmtree(final)
            os.rename(tmp, final)
        # per-partition manifest rows double as the stage row/file count
        rows_out, n_files = self._append_manifest(stage, "SUCCESS")
        n_written = int(written.split(":")[0])
        if n_written != rows_out:
            raise RuntimeError(
                f"publish of {stage!r} observed {n_written} rows on its "
                f"write but its parquet footers count {rows_out}; no ledger "
                f"row was written"
            )
        rows_in = int(fingerprint.split(":")[0]) if ":" in fingerprint else None
        self._append_ledger(
            {
                "run_id": self.run_id,
                "stage": stage,
                "rows_in": rows_in,
                "rows_out": rows_out,
                "n_files": n_files,
                "started_at": t0,
                "finished_at": time.time(),
                "status": "SUCCESS",
                "fingerprint": fingerprint,
                **snap,
            }
        )
        return written

    def _refresh_stage(
        self, stage: str, df: DataFrame, months: list[str], fingerprint: str
    ) -> int | None:
        """REFRESH twin of :meth:`_write_stage`: swap only ``months`` of a
        published stage for ``df``'s rows — a month-scoped snapshot commit
        on a snapshot-backed stage, a dynamic partition overwrite on a
        plain one — then account those months and append the stage's
        REFRESH ledger row.  Returns a rollup stage's recomputed row count
        (its ``rows_in``), None for other stages."""
        t0 = time.time()
        rows_in = None
        if stage.startswith("rollup_"):
            # the recomputed plan is consumed by the count, the write, and
            # (plain path) the distinct-months probe — persist once so the
            # aggregation DAG runs once, not three times
            df = df.persist()
            rows_in = df.count()
        snap = {}
        if self._is_snapshot_stage(stage):
            st = self._store(stage)
            st.refresh_months(df, months)
            snap = {"snapshot_id": st.current_snapshot()}
        else:
            self._overwrite_months(stage, df, months)
        # month-scoped manifest total — no whole-table count
        rows_out, _ = self._append_manifest(stage, "REFRESH", months)
        self._append_ledger(
            {
                "run_id": self.run_id,
                "stage": stage,
                "rows_in": rows_in,
                "rows_out": rows_out,
                "n_files": None,
                "started_at": t0,
                "finished_at": time.time(),
                "status": "REFRESH",
                "fingerprint": fingerprint,
                "months": months,
                **snap,
            }
        )
        if rows_in is not None:
            df.unpersist()
        return rows_in

    def _overwrite_months(
        self, stage: str, df: DataFrame, months: list[str]
    ) -> None:
        """Dynamic partition overwrite of the affected months of a plain
        stage, PLUS explicit removal of any requested month the
        recomputation produced no rows for — dynamic mode only touches
        partitions present in the frame, so a fully-deleted month would
        otherwise survive as a stale partition dir forever."""
        ts_col = _time_col(df)
        # defensive scope to the requested months (same rail as
        # SnapshotStore.refresh_months): a recomputed frame must never
        # overwrite a neighbor month's partition with partial content
        with_m = self._with_month(df, ts_col).where(F.col(P_MONTH).isin(months))
        written = {
            r[P_MONTH] for r in with_m.select(P_MONTH).distinct().collect()
        }
        path = self._stage_path(stage)
        existing = self._month_dirs(stage)
        if not written and not (set(existing) - {None} - set(months)):
            # this refresh would delete every month dir the stage has
            # and write nothing back — a stage with zero partitions is
            # unreadable (no schema) and certainly an upstream accident
            raise ValueError(
                f"refresh of {sorted(months)} would empty {path} "
                f"entirely; remove the base dir explicitly to tear "
                f"the table down"
            )
        (
            cluster_for_publish(with_m, ("source", ts_col))
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy(P_MONTH)
            .parquet(path)
        )
        for m in set(months) - written:
            if m in existing:
                shutil.rmtree(existing[m])

    def _hist(
        self, tier: str, seq: DataFrame, months: list[str] | None = None
    ) -> DataFrame:
        """The hist-cascade rule: the first hist tier is built from raw
        tokens with ``hist_top_k``; coarser hist tiers merge the finer
        published hist stage (a direct rebuild would change top-k
        truncation).  ``months`` scopes the merge input to those months;
        ``seq`` must already be scoped the same way."""
        from rtsa_spark.operators.rollup import (
            merge_token_histograms,
            token_histogram,
        )

        finer = next(
            (f"hist_{t}" for t in reversed(self.tiers[: self.tiers.index(tier)])
             if t in self.hist_tiers),
            None,
        )
        if finer and self._stage_exists(finer):
            return merge_token_histograms(self._read_stage(finer, months), tier)
        return token_histogram(seq, tier, top_k=self.hist_top_k)

    def run(self, sequences: DataFrame, fail_after: str | None = None) -> dict[str, str]:
        """Execute the ladder; returns {stage: path}. ``fail_after`` injects
        a crash right after the named stage commits — or is found already
        committed — for any stage the run publishes: rollup, gapfilled,
        encoded, hist or metrics (resume testing)."""
        # month-grain fingerprints combine into the global one (same single
        # scan), and publishing them is what lets refresh_changed() detect
        # late data without the caller naming months
        return self._walk(
            sequences, month_fingerprints(sequences), fail_after=fail_after
        )

    def lineage(self) -> DataFrame:
        """Ledger as a DataFrame (the `lineage` table of SURVEY.md §7.0)."""
        return self.spark.read.json(self._ledger_path)

    # ------------------------------------- late-data detection (month map)
    @property
    def _input_months_path(self) -> str:
        return os.path.join(self.base, "input_months.json")

    def _write_input_months(self, months: dict[str, str]) -> None:
        tmp = self._input_months_path + f"._tmp_{self.run_id}"
        with open(tmp, "w") as f:
            json.dump(months, f, sort_keys=True)
        os.replace(tmp, self._input_months_path)

    def _read_input_months(self) -> dict[str, str] | None:
        if not os.path.exists(self._input_months_path):
            return None
        with open(self._input_months_path) as f:
            return json.load(f)

    def detect_changed_months(self, sequences: DataFrame) -> dict[str, list[str]]:
        """Diff ``sequences`` against the PUBLISHED input's month map:
        ``{"changed": [...], "added": [...], "removed": [...]}`` (one scan
        of the new input; the published side is stored metadata).  This is
        the late-data seam of the north rule — on Iceberg the same diff
        falls out of snapshot changelogs; here the month fingerprints
        recorded at publish time play that role."""
        return self._detect(sequences)[0]

    def _detect(self, sequences: DataFrame) -> tuple[dict, dict[str, str]]:
        """:meth:`detect_changed_months` plus the input's month map, so a
        refresh that follows reuses the one scan."""
        published = self._read_input_months()
        if published is None:
            raise ValueError(
                "no published input month map; run() must complete once "
                "before late-data detection"
            )
        new = month_fingerprints(sequences)
        return {
            "changed": sorted(
                m for m, fp in new.items()
                if m in published and published[m] != fp
            ),
            "added": sorted(m for m in new if m not in published),
            "removed": sorted(m for m in published if m not in new),
        }, new

    def refresh_changed(self, sequences: DataFrame) -> dict[str, int]:
        """Detect months whose input content changed and refresh exactly
        those (added months publish, emptied months delete).  No-op (empty
        dict) when the input matches the published fingerprints."""
        diff, seq_months = self._detect(sequences)
        months = sorted(set(diff["changed"] + diff["added"] + diff["removed"]))
        if not months:
            return {}
        return self._walk(sequences, seq_months, months)

    def sync(self, sequences: DataFrame) -> dict:
        """Make the published tiers match ``sequences`` with the cheapest
        correct action — the continuous-aggregate maintenance verb a
        scheduler calls on every input snapshot without caring what
        changed:

        - never published (no input month map): full :meth:`run` —
          which itself resumes past any stage whose latest ledger row
          carries its input fingerprint, so re-``sync`` of a
          pre-month-map base costs one fingerprint scan per tier, then
          records the map;
        - published: :meth:`detect_changed_months` diff, then
          :meth:`refresh_changed` over exactly the changed/added/removed
          months (empty no-op when the input is unchanged).  The refresh
          walks the ladder with :meth:`run`'s skip rule, so a stage whose
          input a refresh left unchanged is not rewritten.

        Returns ``{"mode": "run", "stages": {...}}`` or ``{"mode":
        "refresh", "replaced": {stage: rows}}``.  Cost is O(changed
        months), never O(table) — at 100 TB the difference between a
        nightly correction touching one month dir and a full recompute.
        """
        if self._read_input_months() is None:
            return {"mode": "run", "stages": self.run(sequences)}
        return {"mode": "refresh", "replaced": self.refresh_changed(sequences)}

    # ------------------------------------------ late-data partition refresh
    def refresh_months(self, sequences: DataFrame, months: list[str]) -> dict[str, int]:
        """Idempotent partition-scoped refresh for late/replayed data.

        ``months``: a non-empty list of 'YYYY-MM' strings whose source rows
        changed; anything else raises ``ValueError`` before any write.  For
        every rollup, hist and encoded stage, ONLY the affected ``p_month``
        partitions are rewritten (Spark dynamic partition overwrite — the
        parquet emulation of Iceberg ``overwritePartitions`` — or a
        month-scoped commit on a snapshot-backed stage); all other
        partition dirs are left byte-identical on disk (asserted in
        tests/test_refresh.py).  Gapfill/metrics stages whose input tier
        changed are rebuilt whole (their window/per-source semantics span
        month boundaries, so a partial recompute would be incorrect).

        A stage is skipped, as in :meth:`run`, when its latest ledger row
        already carries its post-refresh input fingerprint: refreshing an
        unchanged input appends no ledger row and writes no file.  Each
        month-scoped stage appends a REFRESH ledger row, each rebuilt one
        a SUCCESS row, so a subsequent ``run(corrected)`` skips every
        stage, and a ``run()`` over any other input rebuilds them.

        Returns {stage: rows_replaced} of the committed stages.
        """
        if not months or not all(
            isinstance(m, str) and _MONTH_RE.fullmatch(m) for m in months
        ):
            raise ValueError(
                f"months must be a non-empty list of 'YYYY-MM' strings; "
                f"got {months!r}"
            )
        return self._walk(sequences, month_fingerprints(sequences), months)

    def _walk(
        self,
        sequences: DataFrame,
        seq_months: dict[str, str],
        months: list[str] | None = None,
        fail_after: str | None = None,
    ) -> dict:
        """The one ladder walk: :meth:`run` when ``months`` is None, a
        refresh of ``months`` otherwise; ``seq_months`` is the input's
        month map.  Every stage goes through one commit decision:

        - SKIP when it exists and its latest ledger row carries this input
          fingerprint (:meth:`_is_current`);
        - month-scoped :meth:`_refresh_stage` when ``months`` is given and
          the stage is month-partitioned by construction (rollup, hist,
          encoded) and already published;
        - full :meth:`_write_stage` otherwise: every stage of a cold run;
          gapfill and metrics stages, whose window and per-source
          semantics span month boundaries; a stage enabled after the
          first run, which has no months to swap (a partial publish under
          the full fingerprint would hide its other months from run()).

        Returns ``{stage: path}`` of every stage in run mode, ``{stage:
        rows_replaced}`` of the committed stages in refresh mode."""
        if not seq_months:
            # almost always an upstream accident (a bad join, a wrong path):
            # publishing it would wipe every tier, refreshing with it delete
            # every published month. A correction that empties SOME months
            # (rows elsewhere) still deletes exactly those months.
            raise ValueError(
                "input is empty; refusing to publish empty tiers or delete "
                "every published month — remove the base dir explicitly to "
                "tear the table down"
            )
        seq_fp = combine_month_fingerprints(seq_months)
        month_map, map_fp = seq_months, seq_fp
        if months is not None:
            # a missing tier would be created holding ONLY the refreshed
            # months under the full-input fingerprint, and run() would skip
            # its rebuild forever
            missing = [
                f"rollup_{t}" for t in self.tiers
                if not self._stage_exists(f"rollup_{t}")
            ]
            if missing:
                raise ValueError(
                    f"refresh_months requires a completed run() first; "
                    f"missing stage dirs: {missing}"
                )
            # the published map with ONLY the refreshed months replaced: if
            # the caller named a subset of the months that really changed,
            # the others keep their old fingerprint, so detect_changed_months
            # still flags them and a later run(corrected) rebuilds them. A
            # base with no map keeps the whole input's map, which agrees
            # with the full-input fingerprint its stages then record.
            published = self._read_input_months()
            if published is not None:
                month_map = {m: fp for m, fp in published.items() if m not in months}
                month_map.update({m: seq_months[m] for m in months if m in seq_months})
                map_fp = combine_month_fingerprints(month_map)
        out: dict[str, str] = {}
        replaced: dict[str, int] = {}

        def commit(stage, fp, build, scoped=False, full_fp=None):
            # build(ms) is the stage's frame over months ms (None: whole);
            # returns the fingerprint a full write observed, else None
            written = None
            if not self._is_current(stage, fp):
                if scoped and months is not None and self._stage_exists(stage):
                    rows = self._refresh_stage(stage, build(months), months, fp)
                    replaced[stage] = -1 if rows is None else rows
                else:
                    written = self._write_stage(stage, build(None), full_fp or fp)
                    replaced[stage] = -1 if scoped else 0
            out[stage] = self._stage_path(stage)
            if fail_after == stage:
                raise RuntimeError(f"injected failure after {stage}")
            return written

        def rows_of(stage, whole):
            # a stage's whole in-hand frame, or its published months ms
            return lambda ms: whole if ms is None else self._read_stage(stage, ms)

        def input_rows(ms):
            month = F.date_format(F.col("ts"), "yyyy-MM")
            return sequences if ms is None else sequences.where(month.isin(ms))

        finer, prev_fp = input_rows, map_fp
        for tier in self.tiers:
            stage = f"rollup_{tier}"
            written = commit(
                stage, prev_fp, lambda ms: _rollup(tier, finer(ms)), scoped=True
            )
            tier_df = self._read_stage(stage)
            # one fingerprint per tier, shared by every stage built on it:
            # the one its full publish observed, or one read-back scan of a
            # skipped or month-refreshed tier
            tier_fp = written or content_fingerprint(tier_df)
            tier_rows = rows_of(stage, tier_df)
            gap_fp = None
            if tier in self.gapfill_tiers:
                gap_fp = commit(
                    f"gapfilled_{tier}",
                    tier_fp,
                    lambda ms: gapfill_linear(tier_df, tier),
                )
            if tier in self.encode_tiers:
                # blocks are calendar-month groups, so encoded stages
                # refresh month-scoped like the tiers
                commit(
                    f"encoded_{tier}",
                    tier_fp,
                    lambda ms: encode_tier(tier_rows(ms), value_col="n_tok_sum"),
                    scoped=True,
                )
            if tier in self.hist_tiers:
                commit(
                    f"hist_{tier}",
                    map_fp,
                    lambda ms: self._hist(tier, input_rows(ms), ms),
                    scoped=True,
                    full_fp=seq_fp,
                )
            if tier in self.metrics_tiers:
                gapfilled = tier in self.gapfill_tiers
                mdf = self._read_stage(f"gapfilled_{tier}" if gapfilled else stage)
                src_fp = gap_fp if gapfilled else tier_fp
                commit(
                    f"metrics_{tier}",
                    src_fp or content_fingerprint(mdf),
                    lambda ms: compute_metrics(mdf, tier),
                )
            finer, prev_fp = tier_rows, tier_fp
        # written only once every stage is committed: a crash mid-walk
        # leaves the previous map, so a later refresh_changed() at worst
        # re-refreshes months already rebuilt (idempotent), never misses one
        self._write_input_months(month_map)
        return out if months is None else replaced

    # ------------------------------------------------- file maintenance
    def vacuum(self) -> list[str]:
        """Remove orphans left by CRASHED runs — the parquet-dir analog of
        Iceberg's ``remove_orphan_files``.  Every non-atomic moment in this
        pipeline writes under a dotted marker first (``._tmp_<run>`` stage
        builds and month-map swaps): a crash between build and rename
        leaves one behind, invisible to every reader (parquet discovery
        skips dotted paths) but holding disk forever.  Bases that earlier
        releases compacted in place may also hold ``._compact_<run>``
        rebuilds and ``._old_<run>`` pre-swap month dirs.  Deletes any
        such entry under the base NOT owned by this live run and returns
        the removed paths.  One healing exception: a ``._old_`` dir whose
        live path is MISSING is not an orphan — it is the surviving copy
        from a crash inside that compaction's two-rename swap (old moved
        aside, replacement not yet renamed in).  Vacuum RESTORES it
        instead of deleting it, so the month's only remaining data is
        never reaped.
        Safe concurrently with readers (the orphans are
        unreferenced by construction); do not run two writers with the
        same base at once — that is unsupported everywhere here."""
        markers = ("._tmp_", "._compact_", "._old_")
        mine = tuple(f"{m}{self.run_id}" for m in markers)
        removed: list[str] = []
        for dirpath, dirs, files in os.walk(self.base):
            for name in list(dirs) + list(files):
                if not any(m in name for m in markers):
                    continue
                if any(name.endswith(s) for s in mine):
                    continue  # the live run's own in-flight build
                full = os.path.join(dirpath, name)
                if "._old_" in name and os.path.isdir(full):
                    live = os.path.join(dirpath, name.split("._old_")[0])
                    if not os.path.exists(live):
                        os.rename(full, live)  # heal the interrupted swap
                        if name in dirs:
                            dirs.remove(name)
                        continue
                if os.path.isdir(full):
                    shutil.rmtree(full, ignore_errors=True)
                    if name in dirs:
                        dirs.remove(name)  # don't descend into removed dir
                else:
                    os.remove(full)
                removed.append(full)
        return sorted(removed)
