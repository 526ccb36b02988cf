"""Retention policies over the tier ladder — the "retention" in
rollup / downsample / retention.

The reference recomputes everything per call and keeps no tiers, so this
surface is engine-side (north rule): once a coarser tier is rolled up,
the finer tier's old buckets are dropped on a per-tier keep window — the
continuous-aggregate + retention-policy pattern. Two layers:

- :func:`apply_retention` — pure Catalyst filter of a tier DataFrame to
  buckets newer than ``as_of - keep``. ``as_of`` is ALWAYS explicit (no
  wall-clock reads inside the operator: deterministic, replayable,
  oracle-checkable).
- :func:`expire_partitions` — file-level expiry for pipeline.py's
  month-partitioned tier layout (``p_month=YYYY-MM`` dirs): deletes only
  directories whose ENTIRE month lies before the cutoff, so no row newer
  than the cutoff is ever removed (rows older than the cutoff inside the
  boundary month are kept until the month ages out — the standard
  partition-granular retention compromise). On Iceberg this maps to
  ``DELETE WHERE bucket_start < cutoff`` + ``expire_snapshots``; the
  directory delete is the parquet-layout equivalent of dropping a
  partition's manifests.

Scale shape: the DataFrame filter is a partition-pruned scan (bucket
predicates reach the reader); the file expiry never reads data at all —
it lists one directory level.

There is no small-file compaction layer: every engine write publishes
each month as one file per write task
(:func:`rtsa_spark.storage.cluster_for_publish`), so a month only splits
where AQE splits it on purpose, for write parallelism.  A snapshot-backed
stage re-clusters through :meth:`rtsa_spark.snapshot.SnapshotStore.rewrite`.
"""

from __future__ import annotations

import os
import shutil

import pyspark.sql.functions as F
from pyspark.sql import DataFrame

#: default keep windows per tier (coarser tiers keep longer; None = forever)
DEFAULT_POLICY = {
    "raw": "7 days",
    "hourly": "90 days",
    "daily": "730 days",
    "monthly": None,
}

_UNITS_S = {"day": 86400, "days": 86400, "hour": 3600, "hours": 3600}


def _keep_seconds(keep: str) -> int:
    qty, unit = keep.split()
    if unit not in _UNITS_S:
        raise ValueError(f"unsupported retention unit {unit!r} (use days/hours)")
    return int(qty) * _UNITS_S[unit]


def apply_retention(
    tier_df: DataFrame,
    as_of,
    keep: str | None,
    bucket_col: str = "bucket_start",
) -> DataFrame:
    """Rows of the tier whose bucket is within the keep window ending at
    ``as_of`` (a timestamp literal/string). ``keep=None`` keeps all."""
    if keep is None:
        return tier_df
    cutoff = F.to_timestamp(F.lit(as_of)) - F.make_interval(
        secs=F.lit(_keep_seconds(keep)).cast("double")
    )
    return tier_df.where(F.col(bucket_col) >= cutoff)


def retention_manifest(
    tiers: dict[str, DataFrame],
    as_of,
    policy: dict[str, str | None] | None = None,
    bucket_col: str = "bucket_start",
) -> DataFrame:
    """Audit table of a retention pass: one row per tier with kept /
    dropped bucket-row counts under the policy — the ledger row a
    production run writes next to the lineage log."""
    policy = DEFAULT_POLICY if policy is None else policy
    out = None
    for tier, df in tiers.items():
        keep = policy.get(tier)
        kept = apply_retention(df, as_of, keep, bucket_col)
        row = df.agg(
            F.lit(tier).alias("tier"),
            F.count(F.lit(1)).cast("bigint").alias("rows_total"),
        ).crossJoin(
            kept.agg(F.count(F.lit(1)).cast("bigint").alias("rows_kept"))
        ).select(
            "tier",
            "rows_total",
            "rows_kept",
            (F.col("rows_total") - F.col("rows_kept")).alias("rows_dropped"),
        )
        out = row if out is None else out.unionByName(row)
    return out


def expire_partitions(
    base: str,
    stage: str,
    as_of: str,
    keep: str,
) -> list[str]:
    """Delete ``p_month=YYYY-MM`` partition dirs of ``<base>/<stage>``
    whose whole month ends before ``as_of - keep``. Returns the deleted
    partition names (deterministic order). Never touches the boundary
    month."""
    import datetime as dt

    cutoff = dt.datetime.fromisoformat(as_of) - dt.timedelta(
        seconds=_keep_seconds(keep)
    )
    stage_dir = os.path.join(base, stage)
    deleted = []
    if not os.path.isdir(stage_dir):
        return deleted
    for name in sorted(os.listdir(stage_dir)):
        if not name.startswith("p_month="):
            continue
        ym = name.split("=", 1)[1]
        y, m = int(ym[:4]), int(ym[5:7])
        # first instant of the FOLLOWING month: the whole partition is
        # older than the cutoff iff that instant is <= cutoff
        nxt = dt.datetime(y + (m == 12), m % 12 + 1, 1)
        if nxt <= cutoff:
            shutil.rmtree(os.path.join(stage_dir, name))
            deleted.append(name)
    return deleted

