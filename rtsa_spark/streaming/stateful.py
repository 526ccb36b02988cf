"""Custom stateful streaming operator: per-source running ingest state.

The brief's streaming surface calls for ``applyInPandasWithState`` where a
built-in windowed aggregate can't express the semantics. The operator here
is the streaming analog of the batch masks/gap machinery
(operators/masks.py): per source it maintains, ACROSS micro-batches,

- ``n_seq`` / ``n_tok_sum`` running totals (must equal the batch rollup
  totals after draining — tested),
- ``last_ts``: latest event time seen,
- ``max_gap_s``: the largest observed inter-event gap in seconds — the
  signal the consecutive-gap mask (reference P4, ``R/rtsa.stl.R:289-344``)
  thresholds on, computed incrementally instead of over a window spine.

State is a single fixed-width tuple per source (bounded memory: state
size is O(sources), never O(events)); the kernel body is numpy over Arrow
batches (sort + diff), zero per-row Python. Cross-batch gap computation
assumes event-time-ordered file arrival (the append-only ingest shape —
same caveat as read_sequences_stream).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

OUT_SCHEMA = (
    "source string, n_seq bigint, n_tok_sum bigint, last_ts timestamp,"
    " max_gap_s bigint"
)
STATE_SCHEMA = "n_seq bigint, n_tok_sum bigint, last_ts_ns bigint, max_gap_s bigint"


def streaming_source_state(
    stream: DataFrame, ts_col: str = "ts", value_col: str = "n_tok"
) -> DataFrame:
    """Per-source stateful tracker; emits one updated row per source per
    micro-batch in which the source had data (update semantics)."""

    def fn(key, pdfs, state: GroupState):
        import numpy as np

        if state.exists:
            n, s, last_ns, mg = state.get
        else:
            n, s, last_ns, mg = 0, 0, None, 0
        # a group's rows may arrive as SEVERAL Arrow chunks in arbitrary
        # post-shuffle order: gather the whole micro-batch group first,
        # then sort ONCE — per-chunk sorting would overstate gaps across
        # chunk boundaries
        chunks = []
        for pdf in pdfs:
            # the schema allows nulls: a null value would crash the int64
            # view, a null ts (NaT -> INT64_MIN) would permanently corrupt
            # the monotone max_gap_s — drop such rows, count the rest
            pdf = pdf.dropna(subset=[ts_col, value_col])
            if len(pdf) == 0:
                continue
            n += len(pdf)
            s += int(pdf[value_col].to_numpy("int64").sum())
            chunks.append(pdf[ts_col].to_numpy("datetime64[ns]").view("int64"))
        if chunks:
            ts = np.sort(np.concatenate(chunks))
            seq = ts if last_ns is None else np.concatenate(([last_ns], ts))
            if len(seq) > 1:
                mg = max(mg, int(np.diff(seq).max() // 1_000_000_000))
            # never regress on a late/out-of-order micro-batch: a backward
            # last_ts would fabricate a giant (and unrecoverable) next gap
            last_ns = (
                int(ts[-1]) if last_ns is None else max(last_ns, int(ts[-1]))
            )
        state.update((n, s, last_ns, mg))
        yield pd.DataFrame(
            [
                {
                    "source": key[0],
                    "n_seq": n,
                    "n_tok_sum": s,
                    "last_ts": pd.Timestamp(last_ns) if last_ns is not None else None,
                    "max_gap_s": mg,
                }
            ]
        )

    return stream.groupBy("source").applyInPandasWithState(
        fn, OUT_SCHEMA, STATE_SCHEMA, "update", GroupStateTimeout.NoTimeout
    )
