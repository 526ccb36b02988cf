"""Matrix-profile motif/discord operator (operators/motif.py)."""

from __future__ import annotations

from datetime import datetime, timedelta

import numpy as np
import pytest


def _series_df(spark, values, key="a"):
    t0 = datetime(2024, 1, 1)
    rows = [
        (key, t0 + timedelta(days=i), int(v)) for i, v in enumerate(values)
    ]
    return spark.createDataFrame(rows, "source string, b timestamp, x long")


def _brute(x, m, excl):
    """Reference O(n^2) profile with the lexicographic (d2, j) argmin."""
    n_w = len(x) - m + 1
    out = {}
    for i in range(n_w):
        best = None
        for j in range(n_w):
            if abs(i - j) < excl:
                continue
            d2 = sum((int(x[i + t]) - int(x[j + t])) ** 2 for t in range(m))
            if best is None or (d2, j) < best:
                best = (d2, j)
        if best is not None:
            out[i] = best
    return out


def test_matrix_profile_hand_motif(spark):
    """A repeated [1,2,3] pattern: window 0 finds its exact copy at the
    earliest tied position; the spike window is the discord."""
    from rtsa_spark.operators.motif import matrix_profile

    vals = [1, 2, 3, 1, 2, 3, 1, 2, 3, 50]
    df = _series_df(spark, vals)
    mp = matrix_profile(df, "source", "b", "x", m=3, excl=1)
    t0 = datetime(2024, 1, 1)
    rows = {r["w_start"]: r for r in mp.collect()}
    r0 = rows[t0]
    assert r0["d2"] == 0 and r0["nn_start"] == t0 + timedelta(days=3)
    # discord: the window containing the 50 spike has the largest profile
    worst = max(rows.values(), key=lambda r: r["d2"])
    assert worst["w_start"] == t0 + timedelta(days=7)  # [2, 3, 50]


def test_matrix_profile_matches_bruteforce(spark):
    """Random integer series: the diagonal-sweep kernel equals the O(n^2)
    lexicographic brute force exactly, for several (m, excl) shapes."""
    from rtsa_spark.operators.motif import matrix_profile

    rng = np.random.default_rng(7)
    x = rng.integers(-50, 50, size=40)
    df = _series_df(spark, x)
    t0 = datetime(2024, 1, 1)
    for m, excl in [(5, 2), (3, 1), (7, 3)]:
        got = {
            r["w_start"]: (r["d2"], r["nn_start"])
            for r in matrix_profile(df, "source", "b", "x", m=m, excl=excl).collect()
        }
        ref = _brute(x, m, excl)
        assert len(got) == len(ref)
        for i, (d2, j) in ref.items():
            g = got[t0 + timedelta(days=int(i))]
            assert g == (d2, t0 + timedelta(days=int(j))), (m, excl, i)


def test_matrix_profile_guards(spark):
    from rtsa_spark.operators.motif import matrix_profile

    df = _series_df(spark, [1, 2, 3])
    with pytest.raises(ValueError, match="m must be"):
        matrix_profile(df, "source", "b", "x", m=1)
    with pytest.raises(ValueError, match="exclusion"):
        matrix_profile(df, "source", "b", "x", m=4, excl=0)
    # overflow guard fires loudly inside the kernel
    big = _series_df(spark, [0, 2**31, 0, 2**31, 0, 2**31, 0, 2**31])
    with pytest.raises(Exception, match="overflow"):
        matrix_profile(big, "source", "b", "x", m=4).collect()
    # short series (n < m) emits nothing rather than erroring
    assert matrix_profile(df, "source", "b", "x", m=5).count() == 0


def _sax_replay(values, paa, word, alphabet):
    """Pure-Python SAX twin: scaled-int PAA, equal-depth thresholds from
    the cumulative histogram, sliding words."""
    frames = []
    for f in range(len(values) // paa):
        frames.append((1_000_000 * sum(values[f * paa:(f + 1) * paa])) // paa)
    n = len(frames)
    uniq = sorted(set(frames))
    cum = {}
    c = 0
    for v in uniq:
        c += frames.count(v)
        cum[v] = c
    thr = [
        min(v for v in uniq if alphabet * cum[v] >= j * n)
        for j in range(1, alphabet)
    ]
    syms = []
    for v in frames:
        s = 0
        for j, t in enumerate(thr):
            if v > t:
                s = j + 1
        syms.append(chr(97 + s))
    out = []
    for i in range(n - word + 1):
        out.append((i, frames[i], syms[i], "".join(syms[i:i + word])))
    return out


def test_sax_words_hand_replay(spark):
    from rtsa_spark.operators.motif import sax_words

    values = [1, 2, 3, 4, 10, 11, 12, 13, 1, 2, 3, 4, 10, 11, 12, 13, 5, 6, 7]
    rows = [("s", i, v) for i, v in enumerate(values)]
    df = spark.createDataFrame(rows, "source string, t long, x long")
    got = sorted(
        (r["frame"], r["paa_e6"], r["sym"], r["word"])
        for r in sax_words(
            df, "source", "t", "x", paa=2, word=3, alphabet=4
        ).collect()
    )
    exp = sorted(_sax_replay(values, 2, 3, 4))
    assert got == exp
    # the repeated [1..4, 10..13] shape shows up as a repeated word
    words = [w for *_ , w in got]
    assert any(words.count(w) >= 2 for w in set(words))


def test_sax_words_rank_form_matches_threshold_replay(spark):
    """r6 internals change: the single rank-window symbol
    (``(alphabet * (rank-1)) div n``) must replay the original
    histogram -> equal-depth-threshold -> join rule EXACTLY, including
    on tie-heavy series where many frames share one PAA value and a
    threshold lands on a run of duplicates."""
    from rtsa_spark.operators.motif import sax_words

    rng = np.random.default_rng(11)
    for alphabet, paa, word, vals in [
        (4, 2, 3, rng.integers(0, 6, size=61)),  # heavy ties, odd tail
        (2, 1, 2, rng.integers(-3, 4, size=17)),
        (5, 3, 4, rng.integers(0, 100, size=90)),
        (3, 2, 2, np.full(20, 7)),  # all-equal: single symbol everywhere
    ]:
        rows = [("s", i, int(v)) for i, v in enumerate(vals)]
        df = spark.createDataFrame(rows, "source string, t long, x long")
        got = sorted(
            (r["frame"], r["paa_e6"], r["sym"], r["word"])
            for r in sax_words(
                df, "source", "t", "x", paa=paa, word=word, alphabet=alphabet
            ).collect()
        )
        exp = sorted(_sax_replay([int(v) for v in vals], paa, word, alphabet))
        assert got == exp, (alphabet, paa, word)


def test_sax_words_multi_key_and_params(spark):
    """Keys get independent breakpoints (a flat key is all-'a'); paa=1
    degenerates to raw symbolization; alphabet size changes the symbol
    range."""
    from rtsa_spark.operators.motif import sax_words

    rows = [("up", i, i) for i in range(8)] + [("flat", i, 5) for i in range(8)]
    df = spark.createDataFrame(rows, "source string, t long, x long")
    got = sax_words(df, "source", "t", "x", paa=1, word=2, alphabet=2).collect()
    by_key = {}
    for r in got:
        by_key.setdefault(r["source"], []).append(r)
    # flat key: every frame equals the single threshold -> all 'a'
    assert all(r["sym"] == "a" for r in by_key["flat"])
    # rising key: first half 'a', second half 'b' (equal depth)
    ups = sorted(by_key["up"], key=lambda r: r["frame"])
    assert [r["sym"] for r in ups] == ["a"] * 4 + ["b"] * 3
    assert ups[3]["word"] == "ab"


def test_sax_words_validation(spark):
    import pytest as _pytest

    from rtsa_spark.operators.motif import sax_words

    df = spark.createDataFrame([("s", 0, 1)], "source string, t long, x long")
    for kw in ({"paa": 0}, {"word": 0}, {"alphabet": 1}, {"alphabet": 27}):
        with _pytest.raises(ValueError):
            sax_words(df, "source", "t", "x", **kw)
