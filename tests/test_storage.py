"""Physical layout of published tiers: the z-order key and clustering
(hand-replayed Morton keys, file-skipping audit, per-file key order) and
the publish exchange (hash on the month, never a sampled range exchange).
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from rtsa_spark.operators.rollup import rollup_ladder


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


# --------------------------------------------------------------- z-order


def _py_spread(v):
    r = 0
    for i in range(32):
        r |= ((v >> i) & 1) << (2 * i)
    return r


def test_zorder_key_hand_replay(spark):
    """Morton key matches a bit-by-bit Python interleave for corner and
    mid-range values of both dims."""
    import pyspark.sql.functions as F

    from rtsa_spark.storage import zorder_key

    vals = [0, 1, 5, 255, 4096, 65535]
    rows = [(x, y) for x in vals for y in vals]
    df = spark.createDataFrame(rows, "x long, y long")
    got = df.select("x", "y", zorder_key("x", "y").alias("zk")).collect()
    for r in got:
        assert r["zk"] == (_py_spread(r["x"]) | (_py_spread(r["y"]) << 1)), (
            r["x"], r["y"])


def test_zorder_key_wide_bits(spark):
    """bits in (16, 31] interleave correctly (ADVICE r4: the 32-bit mask
    chain aliased spread(2^16) to spread(2^8) — a non-Morton layout for
    wide dims). Pins the exact collision pair plus corner/mid values up
    to 2^31 - 1 against the bit-by-bit Python interleave."""
    import pyspark.sql.functions as F  # noqa: F401

    from rtsa_spark.storage import zorder_key

    assert _py_spread(1 << 16) != _py_spread(1 << 8)
    vals = [0, 1, 255, 256, 65535, 65536, 1 << 20, (1 << 24) + 3, (1 << 31) - 1]
    rows = [(x, y) for x in vals for y in vals]
    df = spark.createDataFrame(rows, "x long, y long")
    got = df.select("x", "y", zorder_key("x", "y", bits=31).alias("zk")).collect()
    for r in got:
        assert r["zk"] == (_py_spread(r["x"]) | (_py_spread(r["y"]) << 1)), (
            r["x"], r["y"])


def test_zorder_key_out_of_range_raises(spark):
    from pyspark.errors.exceptions.captured import SparkRuntimeException

    from rtsa_spark.storage import zorder_key

    df = spark.createDataFrame([(70000, 1)], "x long, y long")
    with pytest.raises(SparkRuntimeException):
        df.select(zorder_key("x", "y")).collect()
    with pytest.raises(ValueError):
        zorder_key("x", "y", bits=0)


def test_zorder_skip_audit_grid(spark):
    """On a 64x64 grid split into 16 files, a centered 16x16 box must
    scan strictly fewer files under the z layout than under linear
    (linear stripes cross the box's y range in every x stripe), and the
    per-layout accounting must replay exactly in Python."""
    from rtsa_spark.storage import zorder_skip_audit

    n = 64
    rows = [(x, y) for x in range(n) for y in range(n)]
    df = spark.createDataFrame(rows, "x long, y long")
    box = (32, 47, 32, 47)
    out = {
        r["layout"]: r
        for r in zorder_skip_audit(
            df, "x", "y", 16, (box[0], box[1]), (box[2], box[3])
        ).collect()
    }

    def replay(order_key):
        ordered = sorted(rows, key=order_key)
        total = len(ordered)
        files = {}
        for i, (x, y) in enumerate(ordered):
            files.setdefault(16 * i // total, []).append((x, y))
        scanned = rows_scanned = matched = 0
        for pts in files.values():
            xs, ys = [p[0] for p in pts], [p[1] for p in pts]
            matched += sum(
                box[0] <= x <= box[1] and box[2] <= y <= box[3]
                for x, y in pts
            )
            if not (max(xs) < box[0] or min(xs) > box[1]
                    or max(ys) < box[2] or min(ys) > box[3]):
                scanned += 1
                rows_scanned += len(pts)
        return len(files), scanned, rows_scanned, matched

    exp_lin = replay(lambda p: (p[0], p[1]))
    exp_zo = replay(
        lambda p: (_py_spread(p[0]) | (_py_spread(p[1]) << 1), p[0], p[1])
    )
    for name, exp in (("linear", exp_lin), ("zorder", exp_zo)):
        r = out[name]
        assert (
            r["n_files"], r["files_scanned"], r["rows_scanned"],
            r["rows_matched"],
        ) == exp, name
    assert out["zorder"]["files_scanned"] < out["linear"]["files_scanned"]
    assert out["zorder"]["rows_matched"] == out["linear"]["rows_matched"]


def test_cluster_zorder_roundtrip_and_order(spark, tmp_path):
    """cluster_zorder preserves content exactly and every output
    partition is internally sorted by the Morton key (the property that
    gives parquet row groups tight two-dim envelopes)."""
    import pyspark.sql.functions as F

    from rtsa_spark.storage import cluster_zorder, zorder_key

    rows = [((i * 37) % 64, (i * 101) % 64) for i in range(1024)]
    df = spark.createDataFrame(rows, "x long, y long")
    out = cluster_zorder(df, "x", "y")
    path = str(tmp_path / "zo")
    out.write.mode("overwrite").parquet(path)
    back = spark.read.parquet(path)
    assert back.count() == 1024
    assert (
        back.groupBy("x", "y").count()
        .exceptAll(df.groupBy("x", "y").count()).count() == 0
    )
    # per input file (written partition), zk must be nondecreasing
    withf = back.select(
        "x", "y",
        zorder_key("x", "y").alias("zk"),
        F.expr("input_file_name()").alias("f"),
    ).collect()
    byf = {}
    for r in withf:
        byf.setdefault(r["f"], []).append(r["zk"])
    for zks in byf.values():
        assert zks == sorted(zks)


def test_cluster_for_publish_hash_distributes_months(spark, tiny_sequences):
    """The publish exchange hashes on the month (no range exchange, so no
    sampling job): a rebalance under AQE, which can split a skewed month,
    and a plain hash repartition without AQE, where Spark would drop the
    rebalance hint and the write would spray every partition into every
    month dir."""
    from rtsa_spark.storage import cluster_for_publish

    hourly = rollup_ladder(tiny_sequences)["hourly"].withColumn(
        "p_month", F.date_format("bucket_start", "yyyy-MM")
    )

    def plan():
        return _plan(cluster_for_publish(hourly, ("source", "bucket_start")))

    aqe = spark.conf.get("spark.sql.adaptive.enabled")
    try:
        spark.conf.set("spark.sql.adaptive.enabled", "true")
        on = plan()
        spark.conf.set("spark.sql.adaptive.enabled", "false")
        off = plan()
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", aqe)
    assert "REBALANCE_PARTITIONS_BY_COL" in on
    assert "REPARTITION_BY_COL" in off
    for p in (on, off):
        assert "hashpartitioning(p_month" in p
        assert "rangepartitioning" not in p
