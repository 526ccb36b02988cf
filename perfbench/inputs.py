"""Seeded benchmark inputs, written under the work dir.

Every run writes its inputs again, so each run's set-up does the same
work whether or not an earlier run used the seed. Every directory name
holds every generation parameter and the seed (the key rule of
``bench.py::ensure_sequences``), so inputs of other parameters or seeds
never mix.

- ``sequences``: ``rtsa_spark.synth.synth_sequences`` (64 sources, 16-token
  cap, one dominant source with ~30% of rows), plus a late-data
  correction confined to one seeded calendar month.
- the analytics star schema (``documents``, ``embeddings``, ``events``),
  built with numpy in the column layout ``__spark_entry__.queries()``
  reads, at the row counts of its sf0.01 tables (500, 500 and 10,000),
  with their 20 sources, 150 users, 64-dim embeddings and 30-day span.
"""

from __future__ import annotations

import os

import numpy as np

SEQ_ROWS = 100_000
SEQ_SOURCES = 64
SEQ_MAX_TOKENS = 16
# the synth horizon (120 days from 2024-01-01) covers these months fully
CORRECTABLE_MONTHS = ("2024-01", "2024-02", "2024-03")
CORRECTION_SHARE_PCT = 20

DOCS = 500
EMBEDDINGS = 500
EMBED_DIM = 64
EVENTS = 10_000
VOCAB = (
    "a agg batch big column customer data dup fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream table "
    "the value vector window"
).split()
LANGS = ("en", "zh", "es", "fr", "de")
LANG_P = (0.41, 0.15, 0.15, 0.15, 0.14)
EVENT_TYPES = ("view", "click", "purchase", "signup", "error")


def sequences(spark, root: str, seed: int, corrected: bool = True):
    """(original path, corrected path or None, corrected month). The
    correction adds one token to ``n_tok`` on a seeded share of one
    month's rows; timestamps and row count are unchanged, so a ``sync``
    sees exactly one changed month."""
    from pyspark.sql import functions as F

    from rtsa_spark.synth import synth_sequences

    month = CORRECTABLE_MONTHS[seed % len(CORRECTABLE_MONTHS)]
    key = f"n{SEQ_ROWS}_s{SEQ_SOURCES}_t{SEQ_MAX_TOKENS}_r{seed}"
    orig = os.path.join(root, f"sequences_{key}")
    corr = os.path.join(root, f"corrected_{key}_m{month}_p{CORRECTION_SHARE_PCT}")
    synth_sequences(
        spark, SEQ_ROWS, n_sources=SEQ_SOURCES, seed=seed,
        max_tokens=SEQ_MAX_TOKENS,
    ).write.mode("overwrite").parquet(orig)
    if not corrected:
        return orig, None, month
    hit = (F.date_format("ts", "yyyy-MM") == month) & (
        F.pmod(F.xxhash64("doc_id", F.lit(seed)), F.lit(100))
        < CORRECTION_SHARE_PCT
    )
    (
        spark.read.parquet(orig)
        .withColumn("n_tok", F.when(hit, F.col("n_tok") + 1).otherwise(F.col("n_tok")))
        .write.mode("overwrite")
        .parquet(corr)
    )
    return orig, corr, month


def star_schema(root: str, seed: int) -> str:
    """Directory holding ``documents``/``embeddings``/``events`` parquet
    files for the analytics queries (one single-row-group file each, the
    layout the queries' readers expect)."""
    import pandas as pd
    import pyarrow as pa
    import pyarrow.parquet as pq

    out = os.path.join(
        root, f"star_d{DOCS}_e{EMBEDDINGS}x{EMBED_DIM}_v{EVENTS}_r{seed}"
    )
    os.makedirs(out, exist_ok=True)
    rng = np.random.default_rng(seed)

    vocab = np.array(VOCAB)
    texts = [
        " ".join(vocab[rng.integers(0, len(vocab), rng.integers(10, 100))])
        for _ in range(DOCS)
    ]
    # a few exact duplicates, so the dedup queries have work to find
    for i in rng.choice(np.arange(1, DOCS), DOCS // 60, replace=False):
        texts[i] = texts[int(rng.integers(0, i))]
    docs = pd.DataFrame(
        {
            "doc_id": np.arange(DOCS, dtype=np.int64),
            "text": texts,
            "lang": rng.choice(LANGS, DOCS, p=LANG_P),
            "source": [f"src{i % 20}" for i in range(DOCS)],
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
        }
    )
    pq.write_table(pa.Table.from_pandas(docs, preserve_index=False),
                   os.path.join(out, "documents.parquet"))

    vec = rng.standard_normal((EMBEDDINGS, EMBED_DIM)).astype(np.float32)
    vec /= np.linalg.norm(vec, axis=1, keepdims=True)
    emb = pa.table(
        {
            "vec_id": pa.array(np.arange(EMBEDDINGS, dtype=np.int64)),
            "embedding": pa.array(list(vec), type=pa.list_(pa.float32())),
            "label": pa.array(rng.integers(0, 10, EMBEDDINGS).astype(np.int32)),
        }
    )
    pq.write_table(emb, os.path.join(out, "embeddings.parquet"))

    span_us = 30 * 24 * 3600 * 10**6
    ts_us = np.sort(rng.integers(0, span_us, EVENTS)) + np.datetime64(
        "2024-01-01T00:00:00", "us"
    ).astype(np.int64)
    events = pd.DataFrame(
        {
            "event_id": np.arange(EVENTS, dtype=np.int64),
            "ts": ts_us.astype("datetime64[us]"),
            "user_id": rng.integers(0, 150, EVENTS).astype(np.int64),
            "event_type": rng.choice(EVENT_TYPES, EVENTS),
            "value": np.round(rng.exponential(50.0, EVENTS) + 0.01, 2),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, EVENTS)],
        }
    )
    pq.write_table(pa.Table.from_pandas(events, preserve_index=False),
                   os.path.join(out, "events.parquet"))
    return out


def expected_frame(path: str):
    """The input's (source, ts, n_tok) columns as pandas, for the output
    checks (read with pyarrow: no Spark job)."""
    import pyarrow.parquet as pq

    frame = pq.read_table(path, columns=["source", "ts", "n_tok"]).to_pandas()
    if frame["ts"].dt.tz is not None:  # engine timestamps are UTC
        frame["ts"] = frame["ts"].dt.tz_convert("UTC").dt.tz_localize(None)
    return frame
