"""Matrix profile over tier series (Yeh et al. 2016, "Matrix Profile I:
All Pairs Similarity Joins for Time Series", ICDM) — per-key motif /
discord discovery: for every length-``m`` window of a key's
bucket-ordered series, the exact squared Euclidean distance to its
nearest non-trivial neighbor window in the same series. The window with
the smallest profile value is (half of) the key's top motif; the largest
is its top discord — the "what repeats / what never repeats" primitive
of time-series mining.

This is the UNNORMALIZED-Euclidean profile on the integer tier values:
``d2(i, j) = sum_{t<m} (x[i+t] - x[j+t])^2`` is an exact BIGINT on both
engines, so the whole operator lives in the repo's exact-int contract
(no z-normalized means/stdevs, whose per-window float chains cannot be
replayed bit-exactly; callers who want scale invariance can feed a
detrended/standardized tier). Trivial matches are excluded the standard
way: ``|i - j| >= excl`` (default ``m // 2``). Ties break to the
smallest neighbor position — deterministic across engines.

Windows are POSITIONAL over the observed buckets per key (the same
irregular-spine convention as ``operators/acf.py``): gap-fill first if
calendar-exact windows matter.

Scale shape: one shuffle on the key into an Arrow kernel; the kernel is
the O(n^2) diagonal-wise numpy sweep (per lag L, one vectorized
``(x[L:] - x[:-L])^2`` + sliding-window sum via cumsum) — O(n) memory,
never an n x n matrix. Parallelism = key count, the same design point as
``compute_metrics``; per-key n is tier-bounded (buckets per key).
Overflow is guarded loudly: ``m * (max|x| * 2)^2`` must stay below 2^62.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

_INT_CAP = 1 << 62


def _profile_kernel(x: np.ndarray, m: int, excl: int):
    """Exact-int matrix profile of one series. Returns (mp, nn) arrays of
    length n - m + 1; entries with no valid neighbor hold (-1, -1)."""
    n = x.shape[0]
    n_w = n - m + 1
    if n_w < 1:
        return np.empty(0, dtype=np.int64), np.empty(0, dtype=np.int64)
    peak = int(np.abs(x).max(initial=0))
    if m * (2 * peak) ** 2 >= _INT_CAP:
        raise ValueError(
            f"matrix_profile overflow risk: m={m} * (2*max|x|={2 * peak})^2"
            f" >= 2^62; rescale the value column first"
        )
    mp = np.full(n_w, -1, dtype=np.int64)
    nn = np.full(n_w, -1, dtype=np.int64)
    for lag in range(max(1, excl), n_w):
        d = x[lag:] - x[:-lag]
        sq = d * d
        c = np.concatenate(([0], np.cumsum(sq)))
        ws = c[m:] - c[:-m]  # ws[i] = d2(i, i+lag), i in [0, n - lag - m]
        k = ws.shape[0]
        if k < 1:
            break
        ii = np.arange(k)
        # forward: window i sees neighbor j = i + lag (j grows with lag,
        # so strict < keeps the smallest tied j among later lags; within
        # one lag each i appears once)
        upd = ws < mp[ii]
        new = mp[ii] == -1
        take = new | upd
        mp[ii[take]] = ws[take]
        nn[ii[take]] = ii[take] + lag
        # backward: window i + lag sees neighbor j = i (j = i decreases
        # as lag grows for fixed target, so ties must also replace when
        # the new j is smaller)
        jj = ii + lag
        cur = mp[jj]
        take = (cur == -1) | (ws < cur) | ((ws == cur) & (ii < nn[jj]))
        mp[jj[take]] = ws[take]
        nn[jj[take]] = ii[take]
    return mp, nn


def matrix_profile(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    value_col: str,
    m: int = 7,
    excl: int | None = None,
) -> DataFrame:
    """Per-key exact-int matrix profile. Emits one row per window that
    has at least one non-trivial neighbor:
    ``(key, w_start, nn_start, d2)`` — window start bucket, its nearest
    neighbor window's start bucket, and their exact squared distance."""
    if m < 2:
        raise ValueError(f"window m must be >= 2, got {m}")
    excl = m // 2 if excl is None else int(excl)
    if excl < 1:
        raise ValueError(f"exclusion zone must be >= 1, got {excl}")

    base = df.select(
        F.col(key_col).alias("k"),
        F.col(ts_col).alias("b"),
        F.col(value_col).cast("bigint").alias("x"),
    )

    def kernel(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("b")
        x = pdf["x"].to_numpy(dtype=np.int64)
        mp, nn = _profile_kernel(x, m, excl)
        ok = nn >= 0
        idx = np.flatnonzero(ok)
        bs = pdf["b"].to_numpy()
        return pd.DataFrame(
            {
                "k": pdf["k"].iloc[:1].repeat(idx.shape[0]).to_numpy(),
                "w_start": bs[idx],
                "nn_start": bs[nn[idx]],
                "d2": mp[idx],
            }
        )

    out = base.groupBy("k").applyInPandas(
        kernel, "k string, w_start timestamp, nn_start timestamp, d2 long"
    )
    return out.select(
        F.col("k").alias(key_col),
        "w_start",
        "nn_start",
        "d2",
    )


def sax_words(
    df: DataFrame,
    key_col: str,
    time_col: str,
    value_col: str,
    paa: int = 2,
    word: int = 4,
    alphabet: int = 4,
) -> DataFrame:
    """SAX — Symbolic Aggregate approXimation (Lin, Keogh, Wei & Lonardi
    2007, "Experiencing SAX", DMKD 15) over tier series: reduce each
    key's bucket-ordered values to PAA frames of ``paa`` buckets, map
    each frame to one of ``alphabet`` symbols, and emit every sliding
    ``word``-symbol word — the discretization that turns motif counting,
    novelty detection and indexing into plain string group-bys
    (:func:`matrix_profile`'s cheap symbolic sibling).

    Two deliberate exact-int adaptations of the paper (documented, both
    engine-portable where the originals are not):

    - PAA means are scaled integers ``(10^6 * frame_sum) div paa`` —
      exact BIGINTs, no float division.
    - Breakpoints are the key's own EQUAL-DEPTH quantiles (the adaptive-
      breakpoint SAX variant) computed exactly from a cumulative
      histogram — symbol ``j`` covers frames past the ``j/alphabet``
      cumulative threshold — instead of Gaussian breakpoints on a
      z-normalized series (whose mean/sd float chain cannot be replayed
      bit-exactly). Equal depth also needs no stationarity assumption.

    Frames are positional over observed buckets (gap-fill first if
    calendar frames matter); trailing partial frames are dropped, as are
    trailing windows shorter than ``word``.

    Scale shape: one shuffle on the key, then a single linear pass —
    frame agg, one per-key rank window for the symbol (see the in-line
    derivation: symbol index = (alphabet * (rank-1)) div n replays the
    threshold rule exactly), one per-key window for the word concat. No
    global windows, no Python, no self-join; per-key state is bounded
    by buckets-per-key, the tier cap. ``10^6 * frame_sum`` must
    stay under 2^63 (loud ANSI overflow otherwise).

    Output: ``(key, frame, paa_e6, sym, word)`` — one row per word
    start; ``frame`` is the 0-based PAA frame index of the word's first
    symbol.
    """
    if paa < 1:
        raise ValueError(f"paa must be >= 1, got {paa}")
    if word < 1:
        raise ValueError(f"word must be >= 1, got {word}")
    if not (2 <= alphabet <= 26):
        raise ValueError(f"alphabet must be in [2, 26], got {alphabet}")
    frames = (
        df.select(
            F.col(key_col).alias("k"),
            F.col(value_col).cast("bigint").alias("v"),
            (F.row_number().over(
                Window.partitionBy(key_col).orderBy(time_col)
            ) - 1).alias("_i"),
        )
        .select("k", "v", F.expr(f"_i div {paa}").alias("frame"))
        .groupBy("k", "frame")
        .agg(
            F.count(F.lit(1)).alias("_n"),
            F.expr("(1000000 * sum(v)) div count(*)").alias("paa_e6"),
        )
        .where(F.col("_n") == paa)
        .drop("_n")
    )
    # Equal-depth symbol in ONE window pass, no threshold table. With
    # t_j = min value whose cumulative frame count reaches j*n/alphabet,
    # a frame value v satisfies v > t_j iff some value below v already
    # reached that cut, i.e. iff alphabet * below(v) >= j * n where
    # below(v) = #frames with a strictly smaller value = rank() - 1
    # (ties share the minimal rank). The symbol index — how many of the
    # alphabet-1 thresholds sit strictly below v — is therefore
    # (alphabet * (rank-1)) div n, exact-int, and never exceeds
    # alphabet-1 because rank-1 <= n-1. This replaces the histogram ->
    # cumulative -> threshold aggregations and the join back onto
    # frames, whose two consumers forced the whole frames subtree (and
    # everything upstream of it) to evaluate twice under per-branch
    # column pruning.
    wrank = Window.partitionBy("k").orderBy("paa_e6")
    symed = frames.select(
        "k",
        "frame",
        "paa_e6",
        (
            F.lit(alphabet) * (F.rank().over(wrank) - F.lit(1)).cast("bigint")
        ).alias("_below_a"),
        F.count(F.lit(1)).over(Window.partitionBy("k")).alias("_n"),
    ).select(
        "k",
        "frame",
        "paa_e6",
        # floor of the double quotient is the integer div: the
        # numerator is far below 2^53, so it never rounds up to a bound
        F.char(F.lit(97) + F.floor(F.col("_below_a") / F.col("_n"))).alias(
            "sym"
        ),
    )
    wf = Window.partitionBy("k").orderBy("frame")
    parts = [F.col("sym")] + [
        F.lead("sym", i).over(wf) for i in range(1, word)
    ]
    return (
        symed.select(
            "k",
            "frame",
            "paa_e6",
            "sym",
            F.concat_ws("", *parts).alias("word"),
            F.lead("sym", word - 1).over(wf).alias("_last"),
        )
        .where(F.col("_last").isNotNull())
        .select(
            F.col("k").alias(key_col),
            "frame",
            "paa_e6",
            "sym",
            "word",
        )
    )
