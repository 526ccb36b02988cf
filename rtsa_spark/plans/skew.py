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
   (group key = (source, day)), and :func:`add_salt` solves it
   generically: salt the key, aggregate per (key, salt), then merge the
   per-salt partials (the reference's PSOCK fan-out reimagined as a
   two-level shuffle — SURVEY.md §4 "Custom Spark work actually required"
   item 1; the ``rollup_hourly_salted`` entry query is the worked case).

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
