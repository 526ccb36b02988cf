from __future__ import annotations

import pyspark.sql.functions as F

from rtsa_spark.operators.rollup import rollup_raw
from rtsa_spark.streaming.rollup_stream import (
    read_sequences_stream,
    run_stream_to_parquet,
    streaming_rollup_raw,
)


def test_streaming_rollup_matches_batch(spark, tiny_sequences, tmp_path):
    """availableNow replay of the raw tier == batch rollup_raw on every
    finalized bucket. Append mode only emits windows the watermark has
    passed, so the source carries one sentinel row 2 days past max(ts):
    the watermark then clears every real bucket, and the sentinel's own
    bucket is the only state left unemitted."""
    src = str(tmp_path / "seq_stream_src")
    sentinel = tiny_sequences.limit(1).withColumn(
        "ts", F.lit("2099-01-01 00:00:00").cast("timestamp")
    )
    tiny_sequences.unionByName(sentinel).coalesce(4).write.mode("overwrite").parquet(src)

    stream = read_sequences_stream(spark, src, max_files_per_trigger=None)
    assert stream.isStreaming
    rolled = streaming_rollup_raw(stream, watermark="5 minutes")

    out = str(tmp_path / "stream_out")
    ckpt = str(tmp_path / "ckpt")
    q = run_stream_to_parquet(rolled, out, ckpt, available_now=True)
    q.awaitTermination(300)

    got = spark.read.parquet(out)
    want = rollup_raw(tiny_sequences)
    assert got.count() == want.count()
    assert got.exceptAll(want).count() == 0
    assert want.exceptAll(got).count() == 0

    # resume from checkpoint with no new data: no duplicate output
    q2 = run_stream_to_parquet(
        streaming_rollup_raw(
            read_sequences_stream(spark, src, max_files_per_trigger=None),
            "5 minutes",
        ),
        out,
        ckpt,
        available_now=True,
    )
    q2.awaitTermination(300)
    assert spark.read.parquet(out).count() == want.count()


def test_stateful_source_state_across_batches(spark, tmp_path):
    """applyInPandasWithState: state persists ACROSS micro-batches (one
    file per trigger) and the drained totals equal the batch aggregates;
    max_gap_s equals the batch window-lag computation on ordered input."""
    import datetime as dt

    from pyspark.sql import Window

    from rtsa_spark.streaming.stateful import streaming_source_state

    # 3 time-ordered files -> 3 micro-batches with maxFilesPerTrigger=1
    src = str(tmp_path / "state_src")
    base = dt.datetime(2024, 1, 1)
    rows_per_file = [
        [("a", base + dt.timedelta(minutes=m), 10 + m) for m in (0, 1, 5)],
        [("a", base + dt.timedelta(minutes=m), 20 + m) for m in (6, 30)]
        + [("b", base + dt.timedelta(minutes=2), 7)],
        [("a", base + dt.timedelta(minutes=31), 1), ("b", base + dt.timedelta(minutes=62), 3)],
    ]
    for i, rows in enumerate(rows_per_file):
        spark.createDataFrame(
            [(f"d{i}{j}", [1], int(v), s, t) for j, (s, t, v) in enumerate(rows)],
            "doc_id string, tokens array<int>, n_tok int, source string, ts timestamp",
        ).coalesce(1).write.mode("overwrite").parquet(f"{src}/f{i}")

    all_rows = [r for rows in rows_per_file for r in rows]
    batch = spark.createDataFrame(
        [(f"x{j}", [1], int(v), s, t) for j, (s, t, v) in enumerate(all_rows)],
        "doc_id string, tokens array<int>, n_tok int, source string, ts timestamp",
    )

    stream = (
        spark.readStream.schema(
            "doc_id string, tokens array<int>, n_tok int, source string, ts timestamp"
        )
        .option("maxFilesPerTrigger", 1)
        .option("latestFirst", "false")
        .parquet(f"{src}/f*")
    )
    updates: list = []

    def sink(df, _epoch):
        updates.extend(df.collect())

    q = (
        streaming_source_state(stream)
        .writeStream.foreachBatch(sink)
        .outputMode("update")
        .trigger(availableNow=True)
        .option("checkpointLocation", str(tmp_path / "state_ckpt"))
        .start()
    )
    q.awaitTermination(120)

    # multiple batches must have fired (state crossed batch boundaries)
    n_updates_a = sum(1 for r in updates if r["source"] == "a")
    assert n_updates_a >= 2

    final = {}
    for r in updates:  # last update per source wins
        final[r["source"]] = r
    want = {
        r["source"]: r
        for r in batch.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_seq"),
            F.sum("n_tok").alias("n_tok_sum"),
            F.max("ts").alias("last_ts"),
        )
        .collect()
    }
    w = Window.partitionBy("source").orderBy("ts")
    gaps = {
        r["source"]: r["g"]
        for r in batch.withColumn(
            "g", F.col("ts").cast("long") - F.lag("ts").over(w).cast("long")
        )
        .groupBy("source")
        .agg(F.max("g").alias("g"))
        .collect()
    }
    for s in ("a", "b"):
        assert final[s]["n_seq"] == want[s]["n_seq"]
        assert final[s]["n_tok_sum"] == want[s]["n_tok_sum"]
        assert final[s]["last_ts"] == want[s]["last_ts"]
        assert final[s]["max_gap_s"] == gaps[s]


def test_streaming_sessions_boundary_and_merge(spark, tmp_path):
    """Native session windows: an event exactly gap_s after its
    predecessor MERGES into the session (inclusive boundary — matches
    batch sessionize's > gap_s split); session_end == last event + gap;
    the sentinel's open session is withheld by the watermark."""
    import datetime as dt

    from rtsa_spark.streaming.rollup_stream import streaming_sessions

    base = dt.datetime(2024, 1, 1, 0, 0, 0)
    gap = 60
    rows = [
        # source a: 30 s deltas merge; d4 exactly gap (60 s) after d3
        # also merges (inclusive boundary pin); d5 at gap+1 s after d4
        # starts a NEW session
        ("d1", [], 10, "a", base),
        ("d2", [], 11, "a", base + dt.timedelta(seconds=30)),
        ("d3", [], 12, "a", base + dt.timedelta(seconds=60)),
        ("d4", [], 13, "a", base + dt.timedelta(seconds=120)),
        ("d4b", [], 14, "a", base + dt.timedelta(seconds=181)),
        # source b: lone event
        ("d5", [], 20, "b", base),
        # sentinel far future: flushes the watermark, stays open itself
        ("d6", [], 1, "a", dt.datetime(2099, 1, 1)),
    ]
    df = spark.createDataFrame(
        rows, "doc_id string, tokens array<int>, n_tok int, source string, ts timestamp"
    )
    inp = str(tmp_path / "in")
    df.coalesce(1).write.mode("overwrite").parquet(inp)
    from rtsa_spark.streaming.rollup_stream import (
        read_sequences_stream,
        run_stream_to_parquet,
    )

    stream = read_sequences_stream(spark, inp, max_files_per_trigger=None)
    sess = streaming_sessions(stream, gap_s=gap, watermark="1 minute")
    q = run_stream_to_parquet(
        sess, str(tmp_path / "out"), str(tmp_path / "ckpt")
    )
    q.awaitTermination(300)
    out = spark.read.parquet(str(tmp_path / "out")).toPandas()
    got = {
        (r.source, r.session_start.to_pydatetime()): (r.n_events, r.v_sum,
                                                      r.session_end.to_pydatetime())
        for r in out.itertuples()
    }
    # a: [0, 30, 60, 120] one session — the 120 s event is exactly gap
    # after 60 s and MERGES (inclusive); the 181 s event is gap+1 after
    # 120 s and starts a new session
    assert got[("a", base)] == (4, 46, base + dt.timedelta(seconds=120 + gap))
    s2 = base + dt.timedelta(seconds=181)
    assert got[("a", s2)] == (1, 14, s2 + dt.timedelta(seconds=gap))
    assert got[("b", base)] == (1, 20, base + dt.timedelta(seconds=gap))
    # the 2099 sentinel session is still open -> not emitted
    assert len(got) == 3

    import pytest as _pt

    with _pt.raises(ValueError):
        streaming_sessions(stream, gap_s=0)
