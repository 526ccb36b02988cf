"""Retention policies: pure-filter semantics, manifest accounting, and
partition-granular file expiry over the pipeline layout."""

from __future__ import annotations

import datetime as dt
import os

import pyspark.sql.functions as F

from rtsa_spark.operators.retention import (
    apply_retention,
    expire_partitions,
    retention_manifest,
)


def _tier(spark):
    rows = [
        ("a", dt.datetime(2024, 1, 1) + dt.timedelta(days=d), d) for d in range(100)
    ]
    return spark.createDataFrame(
        rows, "source string, bucket_start timestamp, x long"
    )


def test_apply_retention_filters_exactly(spark):
    df = _tier(spark)
    kept = apply_retention(df, "2024-04-09 00:00:00", "7 days")
    rows = kept.select("bucket_start").collect()
    # cutoff = 2024-04-02; days 92..99 qualify (2024-04-02 .. 2024-04-09)
    assert len(rows) == 8
    assert min(r[0] for r in rows) == dt.datetime(2024, 4, 2)
    # keep=None keeps everything
    assert apply_retention(df, "2024-04-09 00:00:00", None).count() == 100


def test_retention_manifest_accounting(spark):
    df = _tier(spark)
    man = {
        r["tier"]: r
        for r in retention_manifest(
            {"daily": df, "monthly": df},
            as_of="2024-04-09 00:00:00",
            policy={"daily": "7 days", "monthly": None},
        ).collect()
    }
    assert man["daily"]["rows_total"] == 100
    assert man["daily"]["rows_kept"] == 8
    assert man["daily"]["rows_dropped"] == 92
    assert man["monthly"]["rows_dropped"] == 0


def test_expire_partitions_month_granular(spark, tmp_path):
    base = str(tmp_path / "tiers")
    df = _tier(spark).withColumn(
        "p_month", F.date_format("bucket_start", "yyyy-MM")
    )
    df.write.partitionBy("p_month").mode("overwrite").parquet(f"{base}/daily")
    # keep 30 days ending 2024-04-09 -> cutoff 2024-03-10: January and
    # February fully age out; March contains the cutoff -> kept
    deleted = expire_partitions(base, "daily", "2024-04-09T00:00:00", "30 days")
    assert deleted == ["p_month=2024-01", "p_month=2024-02"]
    left = sorted(
        n for n in os.listdir(f"{base}/daily") if n.startswith("p_month=")
    )
    assert left == ["p_month=2024-03", "p_month=2024-04"]
    # surviving rows are intact and include everything >= cutoff
    back = spark.read.parquet(f"{base}/daily")
    assert back.count() == 31 + 9  # all of March + Apr 1-9
    assert back.where("bucket_start >= '2024-03-10'").count() == 22 + 9
    # idempotent: second pass deletes nothing
    assert expire_partitions(base, "daily", "2024-04-09T00:00:00", "30 days") == []
