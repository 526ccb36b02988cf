from __future__ import annotations

import pandas as pd
import pyspark.sql.functions as F

from rtsa_spark.operators.rollup import (
    merge_token_histograms,
    rollup_ladder,
    rollup_next,
    rollup_raw,
    token_histogram,
)
from rtsa_spark.synth import synth_sequences
from tests.oracle import rollup_oracle, token_hist_oracle


def _norm(pdf: pd.DataFrame) -> pd.DataFrame:
    return pdf.sort_values(["source", "bucket_start"]).reset_index(drop=True)


def test_synth_deterministic(spark):
    a = synth_sequences(spark, 500, n_sources=4, seed=1, partitions=4)
    b = synth_sequences(spark, 500, n_sources=4, seed=1, partitions=16)
    ha = a.select(F.bit_xor(F.xxhash64(*a.columns)).alias("h")).first()["h"]
    hb = b.select(F.bit_xor(F.xxhash64(*b.columns)).alias("h")).first()["h"]
    assert ha == hb  # partitioning-independent content


def test_raw_tier_matches_pandas_oracle(spark, tiny_sequences):
    got = _norm(rollup_raw(tiny_sequences).drop("gapfilled").toPandas())
    src = tiny_sequences.select("source", "ts", "n_tok").toPandas()
    want = _norm(rollup_oracle(src, "raw"))
    pd.testing.assert_frame_equal(
        got[want.columns], want, check_dtype=False, rtol=1e-12
    )


def test_cascade_equals_direct(spark, tiny_sequences):
    """Algebraic-merge property: tier k+1 from tier k partials == tier k+1
    straight from raw sequences (the exact-tier-match requirement)."""
    tiers = rollup_ladder(tiny_sequences)
    src = tiny_sequences.select("source", "ts", "n_tok").toPandas()
    for tier in ["hourly", "daily", "monthly"]:
        got = _norm(tiers[tier].drop("gapfilled").toPandas())
        want = _norm(rollup_oracle(src, tier))
        pd.testing.assert_frame_equal(
            got[want.columns], want, check_dtype=False, rtol=1e-12
        )


def test_cascade_excludes_gapfilled_rows(spark, tiny_sequences):
    hr = rollup_next(rollup_raw(tiny_sequences), "hourly")
    fake = hr.withColumn("gapfilled", F.lit(True))
    assert rollup_next(fake, "daily").count() == 0


def test_token_histogram_matches_oracle(spark, tiny_sequences):
    small = tiny_sequences.limit(300).cache()
    got = {
        (r["source"], r["bucket_start"]): dict(r["tok_hist"])
        for r in token_histogram(small, "daily").collect()
    }
    want = token_hist_oracle(small.toPandas(), "daily")
    assert got == want


def test_token_histogram_merge_associative(spark, tiny_sequences):
    small = tiny_sequences.limit(300).cache()
    via_hourly = merge_token_histograms(token_histogram(small, "hourly"), "daily")
    direct = token_histogram(small, "daily")
    a = {(r["source"], r["bucket_start"]): dict(r["tok_hist"]) for r in via_hourly.collect()}
    b = {(r["source"], r["bucket_start"]): dict(r["tok_hist"]) for r in direct.collect()}
    assert a == b


def test_token_array_equality_invariant(spark, tiny_sequences):
    """BASELINE.json input_hint: byte-for-byte token-array equality — rows
    surviving any mask/filter stage carry identical token arrays vs source."""
    from rtsa_spark.operators.masks import apply_mask, mask_min_observations

    hr = rollup_next(rollup_raw(tiny_sequences), "hourly")
    mask = mask_min_observations(hr, 2)
    surviving = apply_mask(tiny_sequences, mask)
    joined = surviving.alias("a").join(
        tiny_sequences.alias("b"), on="doc_id", how="inner"
    )
    n_bad = joined.where(
        F.sha2(F.concat_ws(",", F.col("a.tokens")), 256)
        != F.sha2(F.concat_ws(",", F.col("b.tokens")), 256)
    ).count()
    assert n_bad == 0
    assert surviving.count() > 0


def test_plan_audits_round3(spark):
    """Plan-shape contracts for the round-3 paths: the dense derived tier
    never sort-merge-joins (tiny spine/source sides broadcast), and the
    media digest scan prunes to (doc_id, text) — payload-free columns
    never reach the scan."""
    import __spark_entry__ as E

    sf = "/root/testdata/sf0.001"
    dense_plan = (
        E._seq_daily_dense(spark, sf)._jdf.queryExecution().executedPlan().toString()
    )
    assert "SortMergeJoin" not in dense_plan
    assert "BroadcastHashJoin" in dense_plan

    media_plan = (
        E.q_media_features(spark, sf)._jdf.queryExecution().executedPlan().toString()
    )
    import re

    m = re.search(r"ReadSchema: ([^\n]*)", media_plan)
    assert m and set(re.findall(r"(\w+):", m.group(1))) <= {"doc_id", "text", "struct"}


def test_time_bucket_arbitrary_width_and_origin(spark):
    import datetime as dt

    from pyspark.sql import functions as F

    from rtsa_spark.operators.rollup import (
        rollup_series_next,
        time_bucket,
    )

    t0 = dt.datetime(2024, 1, 1)
    rows = [
        ("k", t0 + dt.timedelta(minutes=m), float(m)) for m in range(0, 90, 10)
    ]
    df = spark.createDataFrame(rows, "g string, ts timestamp, value double")
    out = {r["bucket_start"]: r for r in
           time_bucket(df, 1800, ["g"], "ts", "value").collect()}
    # 30-min buckets: [0,30), [30,60), [60,90) -> 3 rows of 3 events
    assert len(out) == 3 and all(r["n"] == 3 for r in out.values())
    assert out[t0]["v_sum"] == 0 + 10 + 20
    # origin shift by 600 s moves the boundaries
    shifted = time_bucket(df, 1800, ["g"], "ts", "value", origin_s=600)
    firsts = min(r["bucket_start"] for r in shifted.collect())
    assert firsts.minute in (40, 10)  # 600 s phase, bucket before t0
    import pytest as _pytest

    with _pytest.raises(ValueError):
        time_bucket(df, 0, ["g"])
    # cascade composes: 30-min buckets -> 90-min via rollup_series_next?
    # (named tiers only) -> instead re-bucket at 90 min directly and
    # check totals match the fine tier's totals
    coarse = time_bucket(df, 5400, ["g"], "ts", "value").collect()
    assert sum(r["v_sum"] for r in coarse) == sum(
        r["v_sum"] for r in out.values()
    )


def test_time_bucket_floors_before_origin(spark):
    """Timestamps EARLIER than origin_s must floor down to the bucket
    below the origin, not truncate up onto it (pmod recipe, not div)."""
    import datetime as dt

    from rtsa_spark.operators.rollup import time_bucket

    t0 = dt.datetime(2024, 1, 1)  # epoch 1704067200
    origin = 1704067200
    rows = [
        ("k", t0 - dt.timedelta(minutes=10), 1.0),  # 600 s BEFORE origin
        ("k", t0 + dt.timedelta(minutes=10), 2.0),  # 600 s after
    ]
    df = spark.createDataFrame(rows, "g string, ts timestamp, value double")
    got = {
        r["bucket_start"]: r["v_sum"]
        for r in time_bucket(
            df, 1800, ["g"], "ts", "value", origin_s=origin
        ).collect()
    }
    # pre-origin event belongs to [origin-1800, origin), i.e. floor
    assert got == {
        t0 - dt.timedelta(seconds=1800): 1.0,
        t0: 2.0,
    }


def test_rollup_ohlc_hand_case(spark):
    import datetime as dt

    from rtsa_spark.operators.rollup import rollup_ohlc

    t0 = dt.datetime(2024, 1, 1)
    rows = [
        ("k", t0 + dt.timedelta(hours=1), 1, 50.0),
        ("k", t0 + dt.timedelta(hours=2), 2, 90.0),
        ("k", t0 + dt.timedelta(hours=3), 3, 10.0),
        ("k", t0 + dt.timedelta(hours=4), 4, 70.0),
        # simultaneous events at the close: id breaks the tie
        ("k", t0 + dt.timedelta(hours=4), 5, 75.0),
    ]
    df = spark.createDataFrame(
        rows, "g string, ts timestamp, event_id long, value double"
    )
    [r] = rollup_ohlc(
        df, "daily", ["g"], "ts", "value", id_col="event_id"
    ).collect()
    assert (r["open"], r["high"], r["low"], r["close"]) == (
        50.0, 90.0, 10.0, 75.0,
    )
    assert r["n"] == 5


def test_token_diversity_hand_case(spark):
    import datetime as dt

    from rtsa_spark.operators.rollup import token_diversity

    t0 = dt.datetime(2024, 1, 1, 10)
    rows = [
        # day 1: tokens 1,1,1,2 -> T=4, types=2, coll=3*2=6, top=3
        ("a", t0, [1, 1, 1]),
        ("a", t0 + dt.timedelta(hours=2), [2]),
        # day 2: all distinct -> simpson 0
        ("a", t0 + dt.timedelta(days=1), [5, 6, 7]),
        # singleton bucket -> simpson NULL
        ("b", t0, [9]),
    ]
    df = spark.createDataFrame(rows, "source string, ts timestamp, tokens array<int>")
    got = {
        (r["source"], r["bucket_start"].day): r
        for r in token_diversity(df, "daily").collect()
    }
    d1 = got[("a", 1)]
    assert (d1["n_tok"], d1["n_types"]) == (4, 2)
    assert d1["ttr_e6"] == 500_000
    assert d1["simpson_e6"] == (1_000_000 * 6) // (4 * 3)
    assert d1["top_share_e6"] == 750_000
    d2 = got[("a", 2)]
    assert d2["simpson_e6"] == 0 and d2["ttr_e6"] == 1_000_000
    b = got[("b", 1)]
    assert b["simpson_e6"] is None and b["n_tok"] == 1


def test_token_diversity_cap_raises(spark):
    import datetime as dt

    import pytest as _pytest

    from rtsa_spark.operators import rollup as _r

    old = _r.DIVERSITY_TOKEN_CAP
    _r.DIVERSITY_TOKEN_CAP = 3
    try:
        df = spark.createDataFrame(
            [("a", dt.datetime(2024, 1, 1), [1, 2, 3, 4])],
            "source string, ts timestamp, tokens array<int>",
        )
        with _pytest.raises(Exception, match="token_diversity"):
            _r.token_diversity(df, "daily").collect()
        # the guard must survive column pruning: selecting only a derived
        # ratio (n_tok itself pruned from the output) still fires it
        with _pytest.raises(Exception, match="token_diversity"):
            _r.token_diversity(df, "daily").select("simpson_e6").collect()
    finally:
        _r.DIVERSITY_TOKEN_CAP = old


def test_vocab_growth_hand_case(spark):
    import datetime as dt

    from rtsa_spark.operators.rollup import vocab_growth

    t0 = dt.datetime(2024, 1, 1, 8)
    rows = [
        ("a", t0, [1, 2, 2]),                          # day1: new {1,2}
        ("a", t0 + dt.timedelta(days=1), [2, 3]),      # day2: new {3}
        ("a", t0 + dt.timedelta(days=2), [1, 2]),      # day3: nothing new
        ("a", t0 + dt.timedelta(days=3), [4, 5, 1]),   # day4: new {4,5}
        ("b", t0 + dt.timedelta(days=1), [1]),         # independent per source
    ]
    df = spark.createDataFrame(rows, "source string, ts timestamp, tokens array<int>")
    got = {
        (r["source"], r["bucket_start"].day): (r["new_types"], r["vocab_cum"])
        for r in vocab_growth(df, "daily").collect()
    }
    assert got[("a", 1)] == (2, 2)
    assert got[("a", 2)] == (1, 3)
    assert ("a", 3) not in got  # no first-seen tokens -> no row
    assert got[("a", 4)] == (2, 5)
    assert got[("b", 2)] == (1, 1)


def test_vocab_overlap_hand_case(spark):
    import datetime as dt

    from rtsa_spark.operators.rollup import vocab_overlap

    t0 = dt.datetime(2024, 1, 5)
    rows = [
        # month 1: A={1,2,3,4} (dup 2 counts once), B={3,4,5}, C={9}
        ("a", t0, [1, 2, 2, 3]),
        ("a", t0 + dt.timedelta(days=3), [4]),
        ("b", t0, [3, 4, 5]),
        ("c", t0, [9]),
        # month 2: A={1}, B={1} -> identical vocabularies
        ("a", t0 + dt.timedelta(days=40), [1]),
        ("b", t0 + dt.timedelta(days=40), [1]),
    ]
    df = spark.createDataFrame(rows, "source string, ts timestamp, tokens array<int>")
    got = {
        (r["src_a"], r["src_b"], r["bucket_start"].month): r
        for r in vocab_overlap(df, "monthly").collect()
    }
    ab = got[("a", "b", 1)]
    assert (ab["n_types_a"], ab["n_types_b"], ab["n_common"]) == (4, 3, 2)
    assert ab["jaccard_e6"] == (1_000_000 * 2) // 5
    assert ab["contain_a_e6"] == 500_000
    assert ab["contain_b_e6"] == 666_666
    # c shares nothing -> no rows with c
    assert not [k for k in got if "c" in (k[0], k[1])]
    ident = got[("a", "b", 2)]
    assert ident["jaccard_e6"] == 1_000_000
    assert len(got) == 2


def test_trailing_quantile_hand_case(spark):
    import datetime as dt

    from rtsa_spark.operators.rollup import trailing_quantile

    t0 = dt.datetime(2024, 1, 1)
    # hourly buckets with a gap: values 10, 30, 20, [gap], 40
    rows = [
        ("a", t0, 10),
        ("a", t0 + dt.timedelta(hours=1), 30),
        ("a", t0 + dt.timedelta(hours=2), 20),
        ("a", t0 + dt.timedelta(hours=5), 40),
    ]
    df = spark.createDataFrame(
        rows, "source string, bucket_start timestamp, x long"
    )
    got = {
        r["bucket_start"].hour: r
        for r in trailing_quantile(
            df, 3, 3600, ["source"], "x", {"w_p50": (1, 2), "w_max": (1, 1)}
        ).collect()
    }
    # h0: frame [10]; h1: [10,30] -> p50 = lower = 10; h2: [10,20,30] -> 20
    assert (got[0]["w_p50"], got[0]["n_in_window"]) == (10, 1)
    assert got[1]["w_p50"] == 10 and got[1]["w_max"] == 30
    assert got[2]["w_p50"] == 20 and got[2]["n_in_window"] == 3
    # h5: the 3-bucket RANGE window covers h3..h5 -> only the h5 row
    assert (got[5]["w_p50"], got[5]["n_in_window"]) == (40, 1)


def test_trailing_quantile_validates(spark):
    import pytest as _pytest

    from rtsa_spark.operators.rollup import QUANTILE_WINDOW_CAP, trailing_quantile

    df = spark.createDataFrame(
        [("a",)], "source string"
    )
    with _pytest.raises(ValueError, match="QUANTILE_WINDOW_CAP"):
        trailing_quantile(df, QUANTILE_WINDOW_CAP + 1, 3600, ["source"], "x")
    with _pytest.raises(ValueError, match="quantile"):
        trailing_quantile(df, 3, 3600, ["source"], "x", {"bad": (3, 2)})


def test_unigram_surprisal_hand_case(spark):
    """bits(t) = floor(log2(N / c_t)) via the integer bin-length identity;
    per-bucket mean is the exact-int e6 div. Fixture: N=8 occurrences,
    c(1)=4 -> 1 bit, c(2)=2 -> 2 bits, c(3)=1 -> 3 bits, c(4)=1 -> 3 bits."""
    import datetime as dt

    from rtsa_spark.operators.rollup import unigram_surprisal

    t0 = dt.datetime(2024, 1, 1, 10)
    rows = [
        ("a", t0, [1, 1, 1, 2]),                       # day 1: bits 1+1+1+2 = 5
        ("a", t0 + dt.timedelta(days=1), [1, 2, 3, 4]),  # day 2: 1+2+3+3 = 9
    ]
    df = spark.createDataFrame(rows, "source string, ts timestamp, tokens array<int>")
    got = {
        r["bucket_start"].day: r for r in unigram_surprisal(df, "daily").collect()
    }
    assert (got[1]["n_tok"], got[1]["sum_bits"]) == (4, 5)
    assert got[1]["mean_bits_e6"] == (1_000_000 * 5) // 4
    assert (got[2]["n_tok"], got[2]["sum_bits"]) == (4, 9)
    assert got[2]["mean_bits_e6"] == 2_250_000

    # degenerate: single token type -> N div c = 1 -> 0 bits everywhere
    solo = spark.createDataFrame(
        [("s", t0, [7, 7, 7])], "source string, ts timestamp, tokens array<int>"
    )
    [r] = unigram_surprisal(solo, "daily").collect()
    assert (r["sum_bits"], r["mean_bits_e6"]) == (0, 0)

    # degenerate: empty input -> no rows (no div-by-zero under ANSI)
    empty = spark.createDataFrame(
        [], "source string, ts timestamp, tokens array<int>"
    )
    assert unigram_surprisal(empty, "daily").count() == 0
