"""Continuous-aggregate retention ladder: raw -> hourly -> daily -> monthly.

The reference's tier ladder is its closed periodicity enum
(``/root/reference/R/rtsa.stl.R:128-135`` — yearly..seconds with fixed deltat);
each tier here is a calendar-aligned re-aggregation of the previous tier's
*algebraic partials* (count/sum/min/max merge; mean is finalized per tier as
sum/count), so daily never rescans raw data — the cascade reads each tier's
output exactly once. This is the property that makes the ladder viable at
10^12 rows: the raw tier is the only full-input shuffle; every later tier
shuffles tier-sized (orders of magnitude smaller) data.

Scale notes:
- groupBy(source, bucket) partial-aggregates map-side (hash agg), so the
  dominant-source skew of the input mostly collapses before the shuffle;
  residual skew is defused by AQE + the salted two-level path in plans/skew.py
  (used by the token-histogram branch, whose exploded triples are the one
  genuinely heavy shuffle).
- Buckets come from date_trunc, a codegen'd JVM expression: the whole raw
  tier is one WholeStageCodegen scan+partial-agg over the parquet scan with
  only (doc_id-pruned) needed columns read.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame

TIER_ORDER = ["raw", "hourly", "daily", "monthly"]
#: "weekly" is a SIDE BRANCH off daily (rollup_next(daily, "weekly")), not a
#: cascade stage: ISO weeks straddle month boundaries, so weekly partials can
#: never be re-aggregated into exact monthly totals — the ladder keeps
#: daily -> monthly as the trunk and derives weekly separately.
BUCKET_OF = {
    "raw": "minute",
    "hourly": "hour",
    "daily": "day",
    "weekly": "week",
    "monthly": "month",
}

#: Columns every tier carries (FIXTURES.md F2).
ROLLUP_COLS = [
    "source",
    "bucket_start",
    "n_seq",
    "n_tok_sum",
    "n_tok_min",
    "n_tok_max",
    "n_tok_mean",
    "gapfilled",
]


def _finalize(df: DataFrame) -> DataFrame:
    return df.withColumn(
        "n_tok_mean", (F.col("n_tok_sum") / F.col("n_seq")).cast("double")
    )


def _merge_partials(df: DataFrame, bucket) -> DataFrame:
    """Merge tier partials per ``(source, bucket)``, gap-filled rows
    excluded: count->sum, sum->sum, min->min, max->max, mean re-finalized.
    The one body behind :func:`rollup_next` and :func:`merge_rollup`."""
    out = (
        df.where(~F.col("gapfilled"))
        .groupBy("source", bucket)
        .agg(
            F.sum("n_seq").alias("n_seq"),
            F.sum("n_tok_sum").alias("n_tok_sum"),
            F.min("n_tok_min").alias("n_tok_min"),
            F.max("n_tok_max").alias("n_tok_max"),
        )
        .withColumn("gapfilled", F.lit(False))
    )
    return _finalize(out).select(ROLLUP_COLS)


def rollup_raw(df: DataFrame, ts_col: str = "ts", value_col: str = "n_tok") -> DataFrame:
    """Raw tier: minute-aligned per-source aggregates of the sequence table.

    One shuffle on (source, bucket_start); Catalyst prunes the scan to
    (source, ts, n_tok) — tokens are never read unless the histogram branch
    asks for them.
    """
    bucket = F.date_trunc(BUCKET_OF["raw"], F.col(ts_col)).alias("bucket_start")
    v = F.col(value_col)
    out = (
        df.groupBy("source", bucket)
        .agg(
            F.count(F.lit(1)).alias("n_seq"),
            F.sum(v).cast("bigint").alias("n_tok_sum"),
            F.min(v).cast("int").alias("n_tok_min"),
            F.max(v).cast("int").alias("n_tok_max"),
        )
        .withColumn("gapfilled", F.lit(False))
    )
    return _finalize(out).select(ROLLUP_COLS)


def rollup_next(tier_df: DataFrame, to_tier: str) -> DataFrame:
    """Re-aggregate one tier's partials into the next (algebraic merge).

    count->sum, sum->sum, min->min, max->max; mean re-finalized. Gap-filled
    rows are *excluded* from upward cascade so interpolation never pollutes a
    coarser tier's true totals (coarser tiers run their own gap-fill).
    """
    if to_tier not in BUCKET_OF or to_tier == "raw":
        raise ValueError(f"bad target tier: {to_tier}")
    bucket = F.date_trunc(BUCKET_OF[to_tier], F.col("bucket_start")).alias("bucket_start")
    return _merge_partials(tier_df, bucket)


def merge_rollup(existing: DataFrame, delta: DataFrame) -> DataFrame:
    """SAME-tier algebraic merge: combine two sets of tier partials for
    overlapping (source, bucket) keys — count+count, sum+sum, min(min),
    max(max), mean re-finalized from the merged sums.  This is what makes
    the tier a true continuous aggregate: an incremental delta (a
    streaming micro-batch's rollup, a backfill slice) folds into the
    stored tier without re-reading history beyond the touched buckets.

    Gap-filled rows are excluded on BOTH sides (tier stores hold true
    partials; interpolation is a read-side stage).

    Scale shape: one union + one shuffle on (source, bucket) over
    ``existing ∪ delta`` — callers pass only the affected months of the
    stored tier (see streaming/snapshot_sink.py), so the merge cost is
    delta-sized, not history-sized.
    """
    both = existing.select(ROLLUP_COLS).unionByName(delta.select(ROLLUP_COLS))
    return _merge_partials(both, "bucket_start")


def rollup_ladder(df: DataFrame, tiers: list[str] | None = None) -> dict[str, DataFrame]:
    """Full cascade. Returns {tier: DataFrame}; caller persists each tier
    (pipeline.py writes tier k before deriving k+1, so the cascade reads
    parquet, not a recomputed lineage)."""
    tiers = tiers or TIER_ORDER
    if not tiers or tiers[0] != "raw":
        raise ValueError(
            "rollup_ladder cascades from the raw tier; to cascade from an "
            "already-rolled tier use rollup_next directly"
        )
    out: dict[str, DataFrame] = {}
    prev: DataFrame | None = None
    for t in tiers:
        prev = rollup_raw(df) if t == "raw" else rollup_next(prev, t)
        out[t] = prev
    return out


def rollup_series(
    df: DataFrame,
    tier: str,
    key_cols: list[str],
    ts_col: str = "ts",
    value_col: str = "value",
) -> DataFrame:
    """Generic double-typed tier rollup of any (key, ts, value) series —
    same ladder semantics as the token-sequence rollup, for arbitrary
    measures (e.g. the events stream). Output: key_cols + bucket_start,
    n, v_sum, v_min, v_max, v_mean."""
    bucket = F.date_trunc(BUCKET_OF[tier], F.col(ts_col)).alias("bucket_start")
    v = F.col(value_col)
    return df.groupBy(*key_cols, bucket).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(v).alias("v_sum"),
        F.min(v).alias("v_min"),
        F.max(v).alias("v_max"),
        F.avg(v).alias("v_mean"),
    )


def rollup_series_next(tier_df: DataFrame, to_tier: str, key_cols: list[str]) -> DataFrame:
    """Algebraic cascade for rollup_series outputs (mean re-finalized)."""
    bucket = F.date_trunc(BUCKET_OF[to_tier], F.col("bucket_start")).alias("bucket_start")
    return tier_df.groupBy(*key_cols, bucket).agg(
        F.sum("n").alias("n"),
        F.sum("v_sum").alias("v_sum"),
        F.min("v_min").alias("v_min"),
        F.max("v_max").alias("v_max"),
        (F.sum("v_sum") / F.sum("n")).alias("v_mean"),
    )


def trailing_window(
    tier_df: DataFrame,
    window_buckets: int,
    bucket_seconds: int,
    key_cols: list[str],
    value_col: str,
    bucket_col: str = "bucket_start",
) -> DataFrame:
    """Trailing-window aggregates over a retention tier: for every
    observed bucket, the sum/min/max/count of ``value_col`` across the
    last ``window_buckets`` buckets (current included) — the "7-day
    trailing volume" style continuous aggregate layered on the ladder.

    Uses a RANGE frame over epoch seconds, not a ROWS frame, so missing
    buckets shorten the window instead of silently stretching it over
    gaps (``n_in_window`` reports the actual coverage).  The trailing
    mean is emitted as the exact scaled integer ``w_mean_e4 =
    (1e4 * w_sum) div n_in_window`` (Python floor semantics for negative
    sums).  Exact integer arithmetic end to end.

    Scale shape: one window pass per key over tier-sized data — no
    self-join, no re-scan of raw; at 10^12 raw rows this runs on the
    (orders of magnitude smaller) tier exactly like the cascade stages.
    """
    if window_buckets < 1 or bucket_seconds < 1:
        raise ValueError("window_buckets and bucket_seconds must be >= 1")
    from pyspark.sql import Window

    span = (window_buckets - 1) * bucket_seconds
    base = tier_df.select(
        *key_cols,
        bucket_col,
        F.unix_timestamp(bucket_col).alias("_t"),
        F.col(value_col).cast("bigint").alias("_v"),
    )
    w = (
        Window.partitionBy(*key_cols)
        .orderBy("_t")
        .rangeBetween(-span, 0)
    )
    agg = base.select(
        *key_cols,
        bucket_col,
        F.sum("_v").over(w).alias("w_sum"),
        F.min("_v").over(w).alias("w_min"),
        F.max("_v").over(w).alias("w_max"),
        F.count(F.lit(1)).over(w).alias("n_in_window"),
    )
    neg = F.col("w_sum") < 0
    mean_e4 = F.when(
        ~neg, F.expr("(10000 * w_sum) div n_in_window")
    ).otherwise(
        -F.expr("(10000 * (-w_sum) + n_in_window - 1) div n_in_window")
    )
    return agg.withColumn("w_mean_e4", mean_e4.cast("bigint"))


#: trailing_quantile refuses windows wider than this: the sorted-frame
#: array is materialized per output row, so memory per row is O(window).
#: Rolling quantiles over wider spans belong on a coarser tier (the same
#: answer, orders of magnitude fewer buckets per window).
QUANTILE_WINDOW_CAP = 4096


def trailing_quantile(
    tier_df: DataFrame,
    window_buckets: int,
    bucket_seconds: int,
    key_cols: list[str],
    value_col: str,
    quantiles: dict[str, tuple[int, int]] | None = None,
    bucket_col: str = "bucket_start",
) -> DataFrame:
    """EXACT trailing quantiles over a retention tier — the rolling
    median / p90 band a monitoring pipeline draws around each source
    (``trailing_window`` covers sum/min/max/mean; this covers the order
    statistics, which no algebraic partial aggregate can).

    ``quantiles`` maps output column names to RATIONAL quantiles, e.g.
    ``{"w_p50": (1, 2), "w_p90": (9, 10)}`` (the default). Each is the
    lower order statistic: 1-based rank ``(num*(n-1)) div den + 1`` in
    the ascending frame — pure integer indexing into a sorted array, so
    any engine reproduces it bit-for-bit (no interpolation-flavor
    ambiguity between engines).

    Same RANGE-over-epoch-seconds frame as :func:`trailing_window`
    (missing buckets shorten the window; ``n_in_window`` reports
    coverage). The frame array is materialized and sorted per output
    row — O(window) memory/compute per row, capped by
    ``QUANTILE_WINDOW_CAP``; the input is TIER-sized (bucket-count rows
    per key), never raw, so at 10^12 raw rows this is a window pass over
    the small table.
    """
    if window_buckets < 1 or bucket_seconds < 1:
        raise ValueError("window_buckets and bucket_seconds must be >= 1")
    if window_buckets > QUANTILE_WINDOW_CAP:
        raise ValueError(
            f"window_buckets={window_buckets} exceeds QUANTILE_WINDOW_CAP="
            f"{QUANTILE_WINDOW_CAP}; compute on a coarser tier instead"
        )
    qs = quantiles or {"w_p50": (1, 2), "w_p90": (9, 10)}
    for name, (num, den) in qs.items():
        if not (0 <= num <= den) or den < 1:
            raise ValueError(f"quantile {name}: need 0 <= num <= den, den >= 1")
    from pyspark.sql import Window

    span = (window_buckets - 1) * bucket_seconds
    base = tier_df.select(
        *key_cols,
        bucket_col,
        F.unix_timestamp(bucket_col).alias("_t"),
        F.col(value_col).cast("bigint").alias("_v"),
    )
    w = Window.partitionBy(*key_cols).orderBy("_t").rangeBetween(-span, 0)
    framed = base.select(
        *key_cols,
        bucket_col,
        F.array_sort(F.collect_list("_v").over(w)).alias("_fr"),
    )
    cols = [
        F.element_at(
            "_fr",
            F.expr(f"cast(({num} * (size(_fr) - 1)) div {den} as int) + 1"),
        ).alias(name)
        for name, (num, den) in qs.items()
    ]
    return framed.select(
        *key_cols,
        bucket_col,
        F.size("_fr").alias("n_in_window"),
        *cols,
    )


def token_histogram(
    df: DataFrame,
    tier: str = "raw",
    ts_col: str = "ts",
    top_k: int | None = None,
) -> DataFrame:
    """Per (source, bucket) token histogram ``tok_hist map<int,bigint>``.

    The explode produces one (source, bucket, token) triple per token — the
    heaviest shuffle in the engine, but partial-aggregated map-side so the
    wire volume is bounded by distinct triples, not total tokens. ``top_k``
    turns the exact histogram into a deterministic top-k sketch (count desc,
    token asc tiebreak) to bound per-bucket map size at full vocab.
    """
    bucket = F.date_trunc(BUCKET_OF[tier], F.col(ts_col)).alias("bucket_start")
    counts = (
        df.select("source", bucket, F.explode("tokens").alias("token"))
        .groupBy("source", "bucket_start", "token")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    if top_k is not None:
        from pyspark.sql import Window

        w = Window.partitionBy("source", "bucket_start").orderBy(
            F.desc("cnt"), F.asc("token")
        )
        counts = counts.withColumn("_rk", F.row_number().over(w)).where(
            F.col("_rk") <= top_k
        ).drop("_rk")
    return counts.groupBy("source", "bucket_start").agg(
        F.map_from_entries(
            F.array_sort(F.collect_list(F.struct("token", "cnt")))
        ).alias("tok_hist")
    )


#: token_diversity refuses buckets with more tokens than this: past it the
#: exact-int Simpson numerator ``1e6 * sum(c*(c-1))`` can exceed 2^63
#: (ANSI would throw mid-stage with a generic overflow). At that volume
#: use the sketch ladder (operators/sketch.py) instead of exact counts.
DIVERSITY_TOKEN_CAP = 3_000_000


def token_diversity(
    df: DataFrame, tier: str = "raw", ts_col: str = "ts"
) -> DataFrame:
    """Per (source, bucket) token-diversity diagnostics — the repetition /
    mode-collapse drift monitor for a training corpus over time:

    - ``n_tok``: total tokens in the bucket; ``n_types``: distinct tokens;
    - ``ttr_e6``: type-token ratio ``(1e6 * n_types) div n_tok``;
    - ``simpson_e6``: Simpson concentration ``(1e6 * sum(c_i*(c_i-1))) div
      (n_tok*(n_tok-1))`` — the probability two tokens drawn without
      replacement collide (0 = all distinct, 1e6 = one token repeated);
      NULL when n_tok < 2;
    - ``top_share_e6``: ``(1e6 * max(c_i)) div n_tok`` — single-token
      dominance.

    Everything stays in the exact-int domain (one div each at the end), so
    any engine reproduces the rows bit-for-bit. Shape: the same exploded
    (source, bucket, token) triple shuffle as :func:`token_histogram`
    (map-side combined) followed by one bucket-sized agg — no UDF, no
    driver state. Buckets past ``DIVERSITY_TOKEN_CAP`` tokens fail loudly
    at plan level; the guard is threaded through ``n_tok`` into every
    derived column, so it survives any downstream column pruning."""
    bucket = F.date_trunc(BUCKET_OF[tier], F.col(ts_col)).alias("bucket_start")
    counts = (
        df.select("source", bucket, F.explode("tokens").alias("token"))
        .groupBy("source", "bucket_start", "token")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    agg = counts.groupBy("source", "bucket_start").agg(
        F.sum("cnt").alias("n_tok"),
        F.count(F.lit(1)).alias("n_types"),
        F.sum(F.col("cnt") * (F.col("cnt") - 1)).alias("_coll"),
        F.max("cnt").alias("_top"),
    )
    n_tok_ok = F.when(
        F.col("n_tok") > DIVERSITY_TOKEN_CAP,
        F.raise_error(
            F.format_string(
                "token_diversity: bucket for source %s exceeds "
                f"{DIVERSITY_TOKEN_CAP} tokens — use the sketch ladder",
                F.col("source"),
            )
        ).cast("bigint"),
    ).otherwise(F.col("n_tok"))
    # Replace n_tok with the guarded expression BEFORE deriving the ratios:
    # every output below then depends on the guard, so column pruning can
    # never drop the cap check (selecting only simpson_e6 still fires it).
    guarded = agg.withColumn("n_tok", n_tok_ok)
    return guarded.select(
        "source",
        "bucket_start",
        "n_tok",
        "n_types",
        F.expr("(1000000 * n_types) div n_tok").alias("ttr_e6"),
        F.when(
            F.col("n_tok") >= 2,
            F.expr("(1000000 * _coll) div (n_tok * (n_tok - 1))"),
        ).alias("simpson_e6"),
        F.expr("(1000000 * _top) div n_tok").alias("top_share_e6"),
    )


def unigram_surprisal(
    df: DataFrame, tier: str = "raw", ts_col: str = "ts"
) -> DataFrame:
    """Per (source, bucket) mean unigram surprisal in WHOLE BITS — the
    LM-flavored content-novelty monitor over time (cross-entropy data
    selection à la Moore & Lewis 2010, reduced to the unigram model and
    the exactly-reproducible integer-bit grain).

    Each token occurrence contributes its Shannon information content
    rounded down to whole bits against the corpus-wide unigram model:
    ``bits(t) = floor(log2(N / c_t))`` with ``N`` = total token
    occurrences and ``c_t`` the token's corpus count. The identity
    ``floor(log2(N / c)) == len(bin(N div c)) - 1`` (2^k <= N/c implies
    2^k <= N div c, both sides < 2^(k+1)) keeps the whole computation in
    exact-int string/length ops — any engine reproduces every row
    bit-for-bit, no float log anywhere. Low mean = repetitive/common
    tokens (mode collapse, boilerplate floods); high mean = rare-heavy
    novel content (or encoding garbage) — both drift directions a corpus
    pipeline wants flagged per source over time.

    Shape: the same exploded (source, bucket, token) map-side-combined
    triple shuffle as :func:`token_diversity`; the unigram model is one
    vocab-sized re-agg of those triples (never a second scan of the
    input); ``N`` re-enters as a broadcast single-row join and the
    per-token bits come back via a vocab equi-join (token-id vocab —
    AQE broadcasts it when small). Outputs ``n_tok``, ``sum_bits``,
    ``mean_bits_e6 = (1e6 * sum_bits) div n_tok``.
    """
    bucket = F.date_trunc(BUCKET_OF[tier], F.col(ts_col)).alias("bucket_start")
    triples = (
        df.select("source", bucket, F.explode("tokens").alias("token"))
        .groupBy("source", "bucket_start", "token")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    vocab = triples.groupBy("token").agg(F.sum("cnt").alias("c"))
    total = vocab.agg(F.sum("c").alias("n_total"))
    bits = (
        F.length(F.bin(F.expr("n_total div c"))).cast("bigint") - 1
    ).alias("bits")
    model = vocab.crossJoin(F.broadcast(total)).select("token", bits)
    per_bucket = (
        triples.join(model, "token")
        .groupBy("source", "bucket_start")
        .agg(
            F.sum("cnt").alias("n_tok"),
            F.sum(F.col("cnt") * F.col("bits")).alias("sum_bits"),
        )
    )
    return per_bucket.select(
        "source",
        "bucket_start",
        "n_tok",
        "sum_bits",
        F.expr("(1000000 * sum_bits) div n_tok").alias("mean_bits_e6"),
    )


def vocab_growth(
    df: DataFrame, tier: str = "daily", ts_col: str = "ts"
) -> DataFrame:
    """Per (source, bucket) NEW-vocabulary accounting: how many token types
    appear for the first time in each bucket, plus the running vocabulary
    size — the "is this stream still contributing novel content?" curve a
    corpus pipeline watches per source over time.

    ``new_types`` = tokens whose FIRST occurrence (min bucket) lands here;
    ``vocab_cum`` = cumulative distinct vocabulary through this bucket.
    Buckets with no first-seen tokens simply have no row (join against the
    tier spine or gap-fill to densify).

    Shape: one map-side-combinable shuffle on (source, token) for the min
    bucket, one bucket-sized count, and a per-source running-sum window
    (partitions = sources, rows = buckets — tiny). Exact integers
    throughout."""
    bucket = F.date_trunc(BUCKET_OF[tier], F.col(ts_col)).alias("bucket_start")
    first_seen = (
        df.select("source", bucket, F.explode("tokens").alias("token"))
        .groupBy("source", "token")
        .agg(F.min("bucket_start").alias("bucket_start"))
    )
    per_bucket = first_seen.groupBy("source", "bucket_start").agg(
        F.count(F.lit(1)).alias("new_types")
    )
    from pyspark.sql import Window

    w = (
        Window.partitionBy("source")
        .orderBy("bucket_start")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return per_bucket.select(
        "source",
        "bucket_start",
        "new_types",
        F.sum("new_types").over(w).alias("vocab_cum"),
    )


def vocab_overlap(
    df: DataFrame, tier: str = "monthly", ts_col: str = "ts"
) -> DataFrame:
    """Pairwise vocabulary similarity between sources per time bucket:
    exact Jaccard and directional containment over the distinct-token
    sets — the "are these two feeds the same corpus / is A a subset
    mirror of B?" monitor a training-data pipeline runs before mixing
    sources.

    Emits one row per unordered source pair (``src_a < src_b``) per
    bucket with at least one shared token: distinct-vocabulary sizes
    ``n_types_a/b``, intersection ``n_common``, ``jaccard_e6 =
    (1e6*common) div (a+b-common)`` and containments ``contain_a_e6 =
    (1e6*common) div a`` (how much of A's vocabulary B covers) — all
    exact-int, bit-reproducible on any engine. Zero-overlap pairs have
    no row (join against the pair spine to densify).

    Shape: distinct (source, bucket, token) first (one map-side-combined
    shuffle bounds everything downstream by VOCABULARY size, not token
    volume), then a token-keyed self-equi-join whose output is
    sum_t S_t^2 rows for S_t = sources sharing token t — bounded by
    (#sources)^2 per token, fine at catalog-scale source counts; at
    thousands of sources per bucket switch to the KMV sketch ladder
    (operators/sketch.py) for approximate overlap instead. Vocabulary
    sizes re-enter via a broadcast (bucket x source rows — tiny)."""
    bucket = F.date_trunc(BUCKET_OF[tier], F.col(ts_col)).alias("bucket_start")
    vocab = df.select(
        "source", bucket, F.explode("tokens").alias("token")
    ).dropDuplicates(["source", "bucket_start", "token"])
    sizes = vocab.groupBy("source", "bucket_start").agg(
        F.count(F.lit(1)).alias("n_types")
    )
    a = vocab.select(
        F.col("source").alias("src_a"), "bucket_start", "token"
    )
    b = vocab.select(
        F.col("source").alias("src_b"), "bucket_start", "token"
    )
    inter = (
        a.join(b, ["bucket_start", "token"])
        .where(F.col("src_a") < F.col("src_b"))
        .groupBy("src_a", "src_b", "bucket_start")
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    sz_a = F.broadcast(
        sizes.select(
            F.col("source").alias("src_a"),
            "bucket_start",
            F.col("n_types").alias("n_types_a"),
        )
    )
    sz_b = F.broadcast(
        sizes.select(
            F.col("source").alias("src_b"),
            "bucket_start",
            F.col("n_types").alias("n_types_b"),
        )
    )
    return (
        inter.join(sz_a, ["src_a", "bucket_start"])
        .join(sz_b, ["src_b", "bucket_start"])
        .select(
            "src_a",
            "src_b",
            "bucket_start",
            "n_types_a",
            "n_types_b",
            "n_common",
            F.expr(
                "(1000000 * n_common) div (n_types_a + n_types_b - n_common)"
            ).alias("jaccard_e6"),
            F.expr("(1000000 * n_common) div n_types_a").alias(
                "contain_a_e6"
            ),
            F.expr("(1000000 * n_common) div n_types_b").alias(
                "contain_b_e6"
            ),
        )
    )


def merge_token_histograms(hist_df: DataFrame, to_tier: str) -> DataFrame:
    """Cascade histogram maps to a coarser tier: explode -> sum -> re-map.

    Map-sum is distributive, so tier k+1 merges tier k's maps without touching
    raw tokens (the sketch-merge property SURVEY.md §2.4 requires).
    """
    bucket = F.date_trunc(BUCKET_OF[to_tier], F.col("bucket_start")).alias("bucket_start")
    return (
        hist_df.select("source", bucket, F.explode("tok_hist").alias("token", "cnt"))
        .groupBy("source", "bucket_start", "token")
        .agg(F.sum("cnt").alias("cnt"))
        .groupBy("source", "bucket_start")
        .agg(
            F.map_from_entries(
                F.array_sort(F.collect_list(F.struct("token", "cnt")))
            ).alias("tok_hist")
        )
    )


def time_bucket(
    df: DataFrame,
    bucket_s: int,
    key_cols: list[str],
    ts_col: str = "ts",
    value_col: str = "value",
    origin_s: int = 0,
) -> DataFrame:
    """Arbitrary-width bucket rollup — the Timescale-style ``time_bucket``
    the named-tier ladder (hour/day/week/month) cannot express: any
    integer bucket width in seconds (5-minute ops dashboards, 6-hour
    shifts), optionally phase-shifted by ``origin_s``.

    Bucket identity is pure epoch integer arithmetic — ``bucket_start =
    epoch - pmod(epoch - origin, w)`` with ``unix_timestamp`` truncation —
    a true FLOOR for timestamps on either side of ``origin_s`` (``pmod``
    is always nonnegative, unlike ``div`` which truncates toward zero and
    would land pre-origin timestamps one width above themselves), so any
    engine reproduces the boundaries exactly (no calendar functions, UTC
    by construction; use the named tiers for calendar-width months).
    Output matches :func:`rollup_series`
    (``n, v_sum, v_min, v_max, v_mean``) so the algebraic cascade
    ``rollup_series_next`` composes on top when the coarser width is a
    multiple of the finer one.

    Scale shape: one map-side-combinable groupBy — identical to the
    named-tier rollup.
    """
    if bucket_s <= 0:
        raise ValueError(f"bucket_s must be > 0, got {bucket_s}")
    w, o = int(bucket_s), int(origin_s)
    bucket = F.timestamp_seconds(
        F.expr(
            f"unix_timestamp({ts_col})"
            f" - pmod(unix_timestamp({ts_col}) - {o}, {w})"
        )
    ).alias("bucket_start")
    v = F.col(value_col)
    return df.groupBy(*key_cols, bucket).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(v).alias("v_sum"),
        F.min(v).alias("v_min"),
        F.max(v).alias("v_max"),
        F.avg(v).alias("v_mean"),
    )


def rollup_ohlc(
    df: DataFrame,
    tier: str,
    key_cols: list[str],
    ts_col: str = "ts",
    value_col: str = "value",
    id_col: str | None = None,
) -> DataFrame:
    """Open/high/low/close per (key, bucket) — the candlestick read every
    tiered time-series store ships.  OPEN/CLOSE are the first/last value
    by ``(ts, id)`` order — the id tiebreak makes simultaneous events
    deterministic (engine-portable; bare ``min_by/arg_min`` tie behavior
    is not), falling back to the value itself as the tiebreak when no id
    column exists.  HIGH/LOW are plain min/max.

    Scale shape: one window pass per (key, bucket) ranking both
    directions, then a groupBy — two sorts of tier-partitioned data, no
    join; at 10^12 rows use it per-tier, not on raw.
    """
    from pyspark.sql import Window

    tie = F.col(id_col) if id_col else F.col(value_col)
    bucket = F.date_trunc(BUCKET_OF[tier], F.col(ts_col)).alias("bucket_start")
    base = df.select(
        *key_cols,
        bucket,
        F.col(ts_col).alias("_ts"),
        tie.alias("_tie"),
        F.col(value_col).alias("v"),
    )
    wasc = Window.partitionBy(*key_cols, "bucket_start").orderBy(
        "_ts", "_tie"
    )
    wdesc = Window.partitionBy(*key_cols, "bucket_start").orderBy(
        F.desc("_ts"), F.desc("_tie")
    )
    ranked = base.select(
        *key_cols,
        "bucket_start",
        "v",
        F.row_number().over(wasc).alias("_ra"),
        F.row_number().over(wdesc).alias("_rd"),
    )
    return ranked.groupBy(*key_cols, "bucket_start").agg(
        F.count(F.lit(1)).alias("n"),
        F.max(F.when(F.col("_ra") == 1, F.col("v"))).alias("open"),
        F.max("v").alias("high"),
        F.min("v").alias("low"),
        F.max(F.when(F.col("_rd") == 1, F.col("v"))).alias("close"),
    )


def local_time_bucket(
    df: DataFrame,
    ts_col: str,
    offset_s_col: str,
    bucket_s: int,
    out_col: str = "local_bucket_start",
) -> DataFrame:
    """Fixed-width bucketing in each row's OWN utc-offset clock: bucket
    start (as epoch seconds of the LOCAL wall time) = floor((epoch +
    offset) / w) * w — the "daily rollup means the source's local day"
    requirement a global fleet has that the UTC-pinned
    :func:`time_bucket` cannot express.

    Same exact floor device as time_bucket (``e - pmod(e, w)`` — a true
    floor on either side of the epoch, portable to any engine);
    ``offset_s_col`` is a per-row integer seconds column (join your
    timezone table upstream — DST-aware offsets are just a
    time-varying column).  Emits the input plus ``out_col`` as BIGINT
    local epoch seconds (re-attach the offset to render wall time).
    Scale shape: pure projection — no shuffle, codegen arithmetic.
    """
    if bucket_s < 1:
        raise ValueError(f"bucket_s must be >= 1, got {bucket_s}")
    e = (
        F.unix_timestamp(F.col(ts_col)).cast("bigint")
        + F.col(offset_s_col).cast("bigint")
    )
    w = int(bucket_s)
    return df.withColumn(
        out_col,
        (e - F.pmod(e, F.lit(w))).cast("bigint"),
    )
