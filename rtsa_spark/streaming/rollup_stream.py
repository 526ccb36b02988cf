"""Streaming raw-tier rollup: the same continuous aggregates, incremental.

The reference is pure batch (SURVEY.md §2.9); the north rule's resumability
is snapshot-batch. This module is the optional streaming skin: the SAME
rollup schema produced incrementally from a file-source stream with
event-time windows + watermark for late data, so a deployment can keep the
raw tier hot-updating while the batch ladder (pipeline.py) owns the
coarser tiers.

Design:
- event-time window = the raw tier's minute bucket (window(ts, '1 minute')
  == date_trunc('minute', ts) for aligned windows), so a streamed raw tier
  and a batch raw tier are row-compatible;
- watermark bounds state: buckets older than the watermark are finalized
  and evicted — late rows beyond it are dropped (counted by Spark metrics);
- append output mode -> each bucket is emitted exactly once when finalized,
  which is what the cascade (rollup_next) wants as input;
- checkpointLocation gives exactly-once file-sink semantics; the batch
  pipeline's lineage ledger plays that role for the coarser tiers.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from rtsa_spark.operators.rollup import ROLLUP_COLS

SEQUENCES_SCHEMA = (
    "doc_id string, tokens array<int>, n_tok int, source string, ts timestamp"
)


def read_sequences_stream(
    spark: SparkSession, path: str, max_files_per_trigger: int | None = 32
) -> DataFrame:
    """File-source stream over a sequences parquet directory.

    NOTE on ordering: the file source lists files in no event-time order;
    rows arriving more than ``watermark`` behind the stream's max event
    time are DROPPED by design. Feed time-ordered files (the normal shape
    for an append-only ingest) or widen the watermark for replays; set
    ``max_files_per_trigger=None`` to take the whole backlog as one batch
    (no intra-backlog drops)."""
    reader = spark.readStream.schema(SEQUENCES_SCHEMA)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.parquet(path)


def streaming_rollup_raw(
    stream: DataFrame,
    watermark: str = "10 minutes",
    ts_col: str = "ts",
    value_col: str = "n_tok",
) -> DataFrame:
    """Incremental raw tier: per (source, minute window) aggregates with a
    late-data watermark. Output schema == batch rollup_raw."""
    v = F.col(value_col)
    agg = (
        stream.withWatermark(ts_col, watermark)
        .groupBy("source", F.window(ts_col, "1 minute"))
        .agg(
            F.count(F.lit(1)).alias("n_seq"),
            F.sum(v).cast("bigint").alias("n_tok_sum"),
            F.min(v).cast("int").alias("n_tok_min"),
            F.max(v).cast("int").alias("n_tok_max"),
        )
    )
    return (
        agg.withColumn("bucket_start", F.col("window.start"))
        .withColumn("n_tok_mean", (F.col("n_tok_sum") / F.col("n_seq")).cast("double"))
        .withColumn("gapfilled", F.lit(False))
        .select(ROLLUP_COLS)
    )


def streaming_dedup(
    stream: DataFrame,
    watermark: str = "10 minutes",
    ts_col: str = "ts",
    content_cols: list[str] | None = None,
) -> DataFrame:
    """Streaming exact dedup: drop rows whose content hash was already
    seen within the watermark horizon — the incremental skin of
    ``operators/dedup.dedup_exact`` for the hot ingest path (re-crawled /
    re-queued documents collapse before they reach the raw tier).

    Uses ``dropDuplicatesWithinWatermark`` on the md5 of the content
    columns, so state is bounded by the watermark window (Spark evicts
    hash state older than the watermark) instead of growing with the
    corpus; the batch dedup pass downstream owns cross-horizon dups.
    First occurrence wins, identical to the batch operator's semantics
    on time-ordered input.
    """
    content_cols = content_cols or ["tokens"]
    if len(content_cols) == 1:
        h = F.md5(F.col(content_cols[0]).cast("string"))
    else:
        # multi-column content must be framed, not delimiter-joined:
        # concat_ws('|') collides ('x|y','z') with ('x','y|z') and skips
        # NULLs entirely; a JSON struct is null-safe and unambiguous
        h = F.md5(F.to_json(F.struct(*[F.col(c) for c in content_cols])))
    return (
        stream.withColumn("content_md5", h)
        .withWatermark(ts_col, watermark)
        .dropDuplicatesWithinWatermark(["content_md5"])
    )


def streaming_sessions(
    stream: DataFrame,
    gap_s: int = 600,
    watermark: str = "10 minutes",
    key_col: str = "source",
    ts_col: str = "ts",
    value_col: str = "n_tok",
) -> DataFrame:
    """Native Structured-Streaming session windows (``F.session_window``):
    per-key sessions that close after ``gap_s`` seconds of inactivity —
    the incremental twin of ``operators/sessionize.sessionize`` for the
    live ingest path (burst detection, per-crawl-session accounting).

    Engine semantics, pinned by tests: an event exactly ``gap_s`` after
    its predecessor MERGES into the session (inclusive boundary — a new
    event at the session's current end ``last_ts + gap_s`` extends it),
    matching the batch operator's ``> gap_s`` split exactly, so batch
    ``sessionize`` and this stream agree on every input.
    ``session_end`` is always ``last event + gap_s``. Append mode emits
    a session only once the watermark passes its end, so every emitted
    row is final — no retraction handling downstream.

    Scale shape: Spark's built-in session-window state store (merging
    windows per key, watermark-evicted) — state is bounded by keys x
    open sessions, never by history; no Python in the loop.
    """
    if gap_s <= 0:
        raise ValueError("gap_s must be > 0")
    return (
        stream.withWatermark(ts_col, watermark)
        .groupBy(
            key_col, F.session_window(F.col(ts_col), f"{int(gap_s)} seconds")
        )
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_events"),
            F.sum(value_col).cast("bigint").alias("v_sum"),
        )
        .select(
            key_col,
            F.col("session_window.start").alias("session_start"),
            F.col("session_window.end").alias("session_end"),
            "n_events",
            "v_sum",
        )
    )


def run_stream_to_parquet(
    rollup_stream: DataFrame,
    out_path: str,
    checkpoint_path: str,
    available_now: bool = True,
):
    """Drive the stream to a parquet sink. ``available_now=True`` processes
    the current backlog then stops — the batch-replay mode used in tests
    and backfills; set False for a continuous deployment."""
    writer = (
        rollup_stream.writeStream.format("parquet")
        .option("path", out_path)
        .option("checkpointLocation", checkpoint_path)
        .outputMode("append")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
