"""Skew defusal: salted repartitioning + two-level aggregation.

The synthetic corpus (like real training corpora) has a dominant source
(~30% of all rows — synth.py DOMINANT_SHARE_PCT). Three skew surfaces and
their handling:

1. **Algebraic groupBy aggregates** (the rollup ladder): hash aggregation
   partial-combines map-side, so dominant keys collapse before the shuffle
   — no salting needed; AQE coalesces the post-shuffle side.
2. **Joins**: AQE skew-join splitting (enabled in session.py).
3. **Grouped pandas kernels** (applyInPandas): Spark must co-locate whole
   groups, partial-agg cannot help, AQE skew handling does not apply. THIS
   is where explicit salting matters; encode_tier solves it structurally
   (group key = (source, day)), and the helpers here solve it generically:
   salt the key, aggregate per (key, salt), then merge the per-salt partials
   (the reference's PSOCK fan-out reimagined as a two-level shuffle —
   SURVEY.md §4 "Custom Spark work actually required" item 1).

Salts are deterministic (xxhash64 of a stable column), so re-runs place
rows identically — required for resumable, idempotent tiers.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame


def add_salt(df: DataFrame, n_salt: int, from_col: str = "doc_id") -> DataFrame:
    """Deterministic salt in [0, n_salt) hashed from a stable column."""
    return df.withColumn(
        "salt", F.pmod(F.xxhash64(F.col(from_col)), F.lit(n_salt)).cast("int")
    )


def dominant_keys(
    df: DataFrame,
    key_col: str = "source",
    sample_fraction: float = 0.01,
    dominance: float = 0.05,
    seed: int = 42,
) -> list[str]:
    """Sampled frequency sketch: keys holding > ``dominance`` share of rows.

    One cheap pass over a sample — the per-source salt-count policy input
    (SURVEY.md §4). At 10^12 rows run this on a 1e-5 sample; the dominant
    keys are exactly the ones a sample cannot miss.
    """
    sample = df.sample(fraction=sample_fraction, seed=seed)
    total = sample.count()
    if total == 0:
        return []
    # dominance filter pushed into Spark: only the (by definition few)
    # dominant keys ever reach the driver, regardless of key cardinality
    counts = (
        sample.groupBy(key_col)
        .agg(F.count(F.lit(1)).alias("_n"))
        .where(F.col("_n") > total * dominance)
        .collect()
    )
    return [r[key_col] for r in counts]


def rollup_raw_salted(
    df: DataFrame,
    n_salt: int = 16,
    ts_col: str = "ts",
    value_col: str = "n_tok",
) -> DataFrame:
    """Two-level raw-tier rollup: aggregate per (source, bucket, salt), then
    merge the salt partials. Produces EXACTLY rollup_raw's output (tested),
    at the cost of one extra tiny shuffle — use when a custom per-group
    kernel (not plain hash agg) must run against the raw tier, or when
    map-side combine is defeated (e.g. high-cardinality accumulators).
    """
    from rtsa_spark.operators.rollup import BUCKET_OF, ROLLUP_COLS, _finalize

    bucket = F.date_trunc(BUCKET_OF["raw"], F.col(ts_col)).alias("bucket_start")
    v = F.col(value_col)
    partial = (
        add_salt(df, n_salt)
        .groupBy("source", bucket, "salt")
        .agg(
            F.count(F.lit(1)).alias("n_seq"),
            F.sum(v).cast("bigint").alias("n_tok_sum"),
            F.min(v).cast("int").alias("n_tok_min"),
            F.max(v).cast("int").alias("n_tok_max"),
        )
    )
    merged = (
        partial.groupBy("source", "bucket_start")
        .agg(
            F.sum("n_seq").alias("n_seq"),
            F.sum("n_tok_sum").alias("n_tok_sum"),
            F.min("n_tok_min").alias("n_tok_min"),
            F.max("n_tok_max").alias("n_tok_max"),
        )
        .withColumn("gapfilled", F.lit(False))
    )
    return _finalize(merged).select(ROLLUP_COLS)

