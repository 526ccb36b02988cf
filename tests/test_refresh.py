from __future__ import annotations

import os

import pyspark.sql.functions as F
import pytest

from rtsa_spark.pipeline import TierPipeline


def _tier_hash(spark, path):
    df = spark.read.parquet(path)
    return df.select(
        F.bit_xor(F.xxhash64(*sorted(df.columns))).alias("h"),
        F.count(F.lit(1)).alias("n"),
    ).first()


def test_refresh_months_matches_full_recompute(spark, tiny_sequences, tmp_path):
    """Late data lands in 2024-02; refresh_months must produce tier tables
    identical to a from-scratch run over the corrected input, touching only
    the affected month's rows."""
    base = str(tmp_path / "tiers")
    p = TierPipeline(spark, base, gapfill_tiers=(), metrics_tiers=())
    p.run(tiny_sequences)

    # "late" replayed data: double every 2024-02 row's n_tok
    feb = F.date_format(F.col("ts"), "yyyy-MM") == "2024-02"
    corrected = tiny_sequences.withColumn(
        "n_tok", F.when(feb, F.col("n_tok") * 2).otherwise(F.col("n_tok"))
    )

    replaced = p.refresh_months(corrected, ["2024-02"])
    assert replaced["rollup_raw"] > 0

    # ground truth: full recompute on the corrected table
    truth_base = str(tmp_path / "truth")
    TierPipeline(spark, truth_base, gapfill_tiers=(), metrics_tiers=()).run(corrected)

    for tier in ("raw", "hourly", "daily", "monthly"):
        got = _tier_hash(spark, f"{base}/rollup_{tier}")
        want = _tier_hash(spark, f"{truth_base}/rollup_{tier}")
        assert got == want, tier

    # idempotence: refreshing again changes nothing
    before = {t: _tier_hash(spark, f"{base}/rollup_{t}") for t in ("raw", "monthly")}
    p.refresh_months(corrected, ["2024-02"])
    after = {t: _tier_hash(spark, f"{base}/rollup_{t}") for t in ("raw", "monthly")}
    assert before == after

    # untouched months really were untouched (January rows identical)
    jan_got = (
        spark.read.parquet(f"{base}/rollup_monthly")
        .where("date_format(bucket_start, 'yyyy-MM') = '2024-01'")
    )
    jan_want = (
        spark.read.parquet(f"{truth_base}/rollup_monthly")
        .where("date_format(bucket_start, 'yyyy-MM') = '2024-01'")
    )
    assert jan_got.exceptAll(jan_want).count() == 0

    # lineage records the refresh
    statuses = {r["status"] for r in p._ledger()}
    assert "REFRESH" in statuses


def _file_digests(root):
    import hashlib
    import os

    out = {}
    for dirpath, _dirs, files in os.walk(root):
        for f in files:
            if f.endswith(".parquet"):
                p = os.path.join(dirpath, f)
                out[os.path.relpath(p, root)] = hashlib.md5(
                    open(p, "rb").read()
                ).hexdigest()
    return out


def test_refresh_touches_only_affected_partitions(spark, tiny_sequences, tmp_path):
    """Month-partitioned tiers: refreshing 2024-02 must leave every other
    month's parquet files BYTE-IDENTICAL on disk (no full-table rewrite)."""
    import pyspark.sql.functions as F

    base = str(tmp_path / "tiers")
    p = TierPipeline(spark, base, gapfill_tiers=(), metrics_tiers=())
    p.run(tiny_sequences)

    before = {
        k: v
        for k, v in _file_digests(f"{base}/rollup_daily").items()
        if "p_month=2024-02" not in k
    }
    assert before, "expected month-partitioned layout"

    feb = F.date_format(F.col("ts"), "yyyy-MM") == "2024-02"
    corrected = tiny_sequences.withColumn(
        "n_tok", F.when(feb, F.col("n_tok") * 2).otherwise(F.col("n_tok"))
    )
    p.refresh_months(corrected, ["2024-02"])

    after = {
        k: v
        for k, v in _file_digests(f"{base}/rollup_daily").items()
        if "p_month=2024-02" not in k
    }
    assert before == after  # untouched months byte-identical


def test_content_fingerprint_detects_same_count_change(spark, tiny_sequences, tmp_path):
    """A corrected input with IDENTICAL row count must invalidate the
    stage-skip (row-count fingerprints missed this; content hash catches)."""
    import pyspark.sql.functions as F

    base = str(tmp_path / "fp")
    p = TierPipeline(spark, base, gapfill_tiers=(), metrics_tiers=())
    p.run(tiny_sequences)
    monthly_before = _tier_hash(spark, f"{base}/rollup_monthly")

    corrected = tiny_sequences.withColumn("n_tok", F.col("n_tok") + 1)
    assert corrected.count() == tiny_sequences.count()
    TierPipeline(spark, base, gapfill_tiers=(), metrics_tiers=()).run(corrected)
    monthly_after = _tier_hash(spark, f"{base}/rollup_monthly")
    assert monthly_before != monthly_after  # stage was recomputed


def test_refresh_removes_fully_deleted_month(spark, tiny_sequences, tmp_path):
    """Late-data correction that DELETES every row of a month must remove
    that month's partition from every tier (dynamic overwrite alone would
    leave it stale forever)."""
    import os

    import pyspark.sql.functions as F

    base = str(tmp_path / "del")
    p = TierPipeline(spark, base, gapfill_tiers=(), metrics_tiers=())
    p.run(tiny_sequences)
    assert os.path.exists(f"{base}/rollup_daily/p_month=2024-02")

    corrected = tiny_sequences.where(
        F.date_format(F.col("ts"), "yyyy-MM") != "2024-02"
    )
    p.refresh_months(corrected, ["2024-02"])
    for tier in ("raw", "hourly", "daily", "monthly"):
        assert not os.path.exists(f"{base}/rollup_{tier}/p_month=2024-02"), tier
    # the deletion is RECORDED in the partition manifest (rows=0), one row
    # per rollup tier — never a silent omission
    import json

    with open(p._partition_ledger_path) as f:
        zero = [
            r
            for line in f
            if line.strip()
            for r in [json.loads(line)]
            if r["status"] == "REFRESH" and r["p_month"] == "2024-02"
        ]
    assert len(zero) == 4 and all(
        r["rows"] == 0 and r["n_files"] == 0 and r["bytes"] == 0 for r in zero
    )
    # and the tables now equal a from-scratch run on the corrected input
    truth = str(tmp_path / "del_truth")
    TierPipeline(spark, truth, gapfill_tiers=(), metrics_tiers=()).run(corrected)
    got = _tier_hash(spark, f"{base}/rollup_monthly")
    want = _tier_hash(spark, f"{truth}/rollup_monthly")
    assert got == want


def test_refresh_hist_matches_run_semantics(spark, tiny_sequences, tmp_path):
    """Refreshed hist partitions must carry run()'s construction semantics
    (coarser tiers = merge of the finer tier's truncated maps), so a
    refresh followed by run() yields tables identical to a fresh run()."""
    import pyspark.sql.functions as F

    base = str(tmp_path / "hist")
    kw = dict(gapfill_tiers=(), metrics_tiers=(),
              hist_tiers=("hourly", "daily"), hist_top_k=4)
    p = TierPipeline(spark, base, **kw)
    p.run(tiny_sequences)

    feb = F.date_format(F.col("ts"), "yyyy-MM") == "2024-02"
    corrected = tiny_sequences.withColumn(
        "n_tok", F.when(feb, F.col("n_tok") * 2).otherwise(F.col("n_tok"))
    )
    p.refresh_months(corrected, ["2024-02"])

    truth = str(tmp_path / "hist_truth")
    TierPipeline(spark, truth, **kw).run(corrected)
    for stage in ("hist_hourly", "hist_daily"):
        got = spark.read.parquet(f"{base}/{stage}").select(
            "source", "bucket_start", F.to_json("tok_hist").alias("h")
        )
        want = spark.read.parquet(f"{truth}/{stage}").select(
            "source", "bucket_start", F.to_json("tok_hist").alias("h")
        )
        assert got.exceptAll(want).count() == 0 and want.exceptAll(got).count() == 0, stage


def test_refresh_requires_prior_run(spark, tiny_sequences, tmp_path):
    """Partition-scoped refresh over a base that never ran would publish a
    partial tier under the full-input fingerprint (permanently hiding the
    other months from run()) — it must refuse loudly instead."""
    import pytest

    p = TierPipeline(
        spark, str(tmp_path / "fresh"), gapfill_tiers=(), metrics_tiers=()
    )
    with pytest.raises(ValueError, match="requires a completed run"):
        p.refresh_months(tiny_sequences, ["2024-02"])


def test_refresh_builds_encoded_stage_enabled_after_first_run(
    spark, tiny_sequences, tmp_path
):
    """Encoding enabled only AFTER the original publish: refresh_months
    must build the WHOLE encoded tier (all months), not just the refreshed
    month — and a later run() must not skip past a partial stage."""
    base = str(tmp_path / "tiers")
    TierPipeline(spark, base, gapfill_tiers=(), metrics_tiers=()).run(
        tiny_sequences
    )

    p = TierPipeline(
        spark, base, gapfill_tiers=(), metrics_tiers=(),
        encode_tiers=("hourly",),
    )
    feb = F.date_format(F.col("ts"), "yyyy-MM") == "2024-02"
    corrected = tiny_sequences.withColumn(
        "n_tok", F.when(feb, F.col("n_tok") * 2).otherwise(F.col("n_tok"))
    )
    p.refresh_months(corrected, ["2024-02"])

    src_months = {
        r["m"]
        for r in corrected.select(
            F.date_format("ts", "yyyy-MM").alias("m")
        ).distinct().collect()
    }
    enc_months = {
        r["m"]
        for r in spark.read.parquet(f"{base}/encoded_hourly")
        .select(F.date_format("block_day", "yyyy-MM").alias("m"))
        .distinct()
        .collect()
    }
    assert enc_months == src_months

    # run() over the same corrected input must keep every month visible
    p2 = TierPipeline(
        spark, base, gapfill_tiers=(), metrics_tiers=(),
        encode_tiers=("hourly",),
    )
    p2.run(corrected)
    enc_after = {
        r["m"]
        for r in spark.read.parquet(f"{base}/encoded_hourly")
        .select(F.date_format("block_day", "yyyy-MM").alias("m"))
        .distinct()
        .collect()
    }
    assert enc_after == src_months


def test_refresh_builds_hist_stage_enabled_after_first_run(
    spark, tiny_sequences, tmp_path
):
    """Same fallback for hist stages enabled after the original run()."""
    base = str(tmp_path / "tiers")
    TierPipeline(spark, base, gapfill_tiers=(), metrics_tiers=()).run(
        tiny_sequences
    )
    p = TierPipeline(
        spark, base, gapfill_tiers=(), metrics_tiers=(),
        hist_tiers=("hourly",), hist_top_k=4,
    )
    feb = F.date_format(F.col("ts"), "yyyy-MM") == "2024-02"
    corrected = tiny_sequences.withColumn(
        "n_tok", F.when(feb, F.col("n_tok") * 2).otherwise(F.col("n_tok"))
    )
    p.refresh_months(corrected, ["2024-02"])

    src_months = {
        r["m"]
        for r in corrected.select(
            F.date_format("ts", "yyyy-MM").alias("m")
        ).distinct().collect()
    }
    hist_months = {
        r["m"]
        for r in spark.read.parquet(f"{base}/hist_hourly")
        .select(F.date_format("bucket_start", "yyyy-MM").alias("m"))
        .distinct()
        .collect()
    }
    assert hist_months == src_months


def test_month_fingerprints_combine_to_global(spark, tiny_sequences):
    """Month-grain fingerprints must fold (sum counts, xor hashes) into
    EXACTLY the global content fingerprint — recording month lineage is
    then free, the same single scan the global hash already paid."""
    from rtsa_spark.pipeline import (
        combine_month_fingerprints,
        content_fingerprint,
        month_fingerprints,
    )

    months = month_fingerprints(tiny_sequences)
    assert len(months) >= 2  # fixture spans multiple calendar months
    assert combine_month_fingerprints(months) == content_fingerprint(
        tiny_sequences
    )
    # empty-input degenerate: both sides agree on "0:0"
    empty = tiny_sequences.where(F.lit(False))
    assert combine_month_fingerprints(month_fingerprints(empty)) == "0:0"
    assert content_fingerprint(empty) == "0:0"


def test_detect_changed_months(spark, tiny_sequences, tmp_path):
    """detect_changed_months diffs a new input against the PUBLISHED month
    map: content edits -> changed, new months -> added, emptied -> removed,
    identical input -> all empty."""
    import pytest

    base = str(tmp_path / "detect")
    p = TierPipeline(spark, base, gapfill_tiers=(), metrics_tiers=())

    # before any completed run there is no published map: loud refusal
    with pytest.raises(ValueError, match="no published input month map"):
        p.detect_changed_months(tiny_sequences)

    p.run(tiny_sequences)
    same = p.detect_changed_months(tiny_sequences)
    assert same == {"changed": [], "added": [], "removed": []}

    feb = F.date_format(F.col("ts"), "yyyy-MM") == "2024-02"
    corrected = tiny_sequences.withColumn(
        "n_tok", F.when(feb, F.col("n_tok") * 2).otherwise(F.col("n_tok"))
    )
    diff = p.detect_changed_months(corrected)
    assert diff == {"changed": ["2024-02"], "added": [], "removed": []}

    dropped = tiny_sequences.where(~feb)
    diff = p.detect_changed_months(dropped)
    assert diff == {"changed": [], "added": [], "removed": ["2024-02"]}

    extended = tiny_sequences.unionByName(
        tiny_sequences.limit(7).withColumn(
            "ts", F.col("ts") + F.expr("INTERVAL 2000 DAYS")
        )
    )
    diff = p.detect_changed_months(extended)
    assert diff["changed"] == [] and diff["removed"] == []
    assert len(diff["added"]) >= 1


def test_refresh_changed_autodetects_and_matches_truth(
    spark, tiny_sequences, tmp_path
):
    """refresh_changed: no-op on identical input; on a corrected input it
    refreshes EXACTLY the differing months (other months' files stay
    byte-identical) and the tiers equal a from-scratch run; afterwards the
    published map is current so a second call is again a no-op."""
    base = str(tmp_path / "auto")
    p = TierPipeline(spark, base, gapfill_tiers=(), metrics_tiers=())
    p.run(tiny_sequences)

    assert p.refresh_changed(tiny_sequences) == {}

    feb = F.date_format(F.col("ts"), "yyyy-MM") == "2024-02"
    corrected = tiny_sequences.withColumn(
        "n_tok", F.when(feb, F.col("n_tok") * 2).otherwise(F.col("n_tok"))
    )
    before = {
        k: v
        for k, v in _file_digests(f"{base}/rollup_daily").items()
        if "p_month=2024-02" not in k
    }
    replaced = p.refresh_changed(corrected)
    assert replaced["rollup_raw"] > 0
    after = {
        k: v
        for k, v in _file_digests(f"{base}/rollup_daily").items()
        if "p_month=2024-02" not in k
    }
    assert before == after  # untouched months byte-identical

    truth = str(tmp_path / "auto_truth")
    TierPipeline(spark, truth, gapfill_tiers=(), metrics_tiers=()).run(corrected)
    for tier in ("raw", "hourly", "daily", "monthly"):
        got = _tier_hash(spark, f"{base}/rollup_{tier}")
        want = _tier_hash(spark, f"{truth}/rollup_{tier}")
        assert got == want, tier

    # map was updated: the same corrected input is now a no-op
    assert p.refresh_changed(corrected) == {}


def test_refresh_subset_keeps_unrefreshed_months_detectable(
    spark, tiny_sequences, tmp_path
):
    """If a caller refresh_months() a SUBSET of the months that actually
    changed, the published map must keep the old fingerprints for the
    others so detect_changed_months still flags them later (writing the
    whole new map would silently hide them)."""
    base = str(tmp_path / "subset")
    p = TierPipeline(spark, base, gapfill_tiers=(), metrics_tiers=())
    p.run(tiny_sequences)

    changed = F.date_format(F.col("ts"), "yyyy-MM").isin("2024-01", "2024-02")
    corrected = tiny_sequences.withColumn(
        "n_tok",
        F.when(changed, F.col("n_tok") * 2).otherwise(F.col("n_tok")),
    )
    assert set(p.detect_changed_months(corrected)["changed"]) == {
        "2024-01",
        "2024-02",
    }
    p.refresh_months(corrected, ["2024-02"])  # caller under-names the set
    diff = p.detect_changed_months(corrected)
    assert diff == {"changed": ["2024-01"], "added": [], "removed": []}


def test_refresh_changed_publishes_added_month(spark, tiny_sequences, tmp_path):
    """A correction that APPENDS a brand-new month must publish that
    month's partitions across every tier via refresh_changed (dynamic
    overwrite creates the new dirs) and match a from-scratch run."""
    import os

    base = str(tmp_path / "added")
    p = TierPipeline(spark, base, gapfill_tiers=(), metrics_tiers=())
    p.run(tiny_sequences)

    extended = tiny_sequences.unionByName(
        tiny_sequences.limit(50).withColumn(
            "ts", F.col("ts") + F.expr("INTERVAL 2000 DAYS")
        )
    )
    diff = p.detect_changed_months(extended)
    assert diff["changed"] == [] and diff["removed"] == []
    added = diff["added"]
    assert added

    p.refresh_changed(extended)
    for m in added:
        assert os.path.exists(f"{base}/rollup_daily/p_month={m}"), m

    truth = str(tmp_path / "added_truth")
    TierPipeline(spark, truth, gapfill_tiers=(), metrics_tiers=()).run(extended)
    for tier in ("raw", "hourly", "daily", "monthly"):
        got = _tier_hash(spark, f"{base}/rollup_{tier}")
        want = _tier_hash(spark, f"{truth}/rollup_{tier}")
        assert got == want, tier

    # map updated: same extended input is now a no-op
    assert p.refresh_changed(extended) == {}


def test_sync_picks_cheapest_correct_action(
    spark, tiny_sequences, tmp_path, monkeypatch
):
    """sync(): full run on a fresh base, month-scoped refresh on a
    corrected input, no-op on an unchanged one — and the result always
    equals a from-scratch run on the same input.  A refresh-mode sync
    scans the input's month map once, for detection and refresh alike."""
    import rtsa_spark.pipeline as pipeline_mod

    base = str(tmp_path / "sync")
    p = TierPipeline(spark, base, gapfill_tiers=(), metrics_tiers=())

    r1 = p.sync(tiny_sequences)
    assert r1["mode"] == "run" and "rollup_monthly" in r1["stages"]

    r2 = p.sync(tiny_sequences)
    assert r2 == {"mode": "refresh", "replaced": {}}

    feb = F.date_format(F.col("ts"), "yyyy-MM") == "2024-02"
    corrected = tiny_sequences.withColumn(
        "n_tok", F.when(feb, F.col("n_tok") * 2).otherwise(F.col("n_tok"))
    )
    scans = []
    real = pipeline_mod.month_fingerprints
    with monkeypatch.context() as mp:
        mp.setattr(
            pipeline_mod,
            "month_fingerprints",
            lambda *a, **kw: scans.append(1) or real(*a, **kw),
        )
        r3 = p.sync(corrected)
    assert r3["mode"] == "refresh" and r3["replaced"]["rollup_raw"] > 0
    assert len(scans) == 1

    truth = str(tmp_path / "sync_truth")
    TierPipeline(spark, truth, gapfill_tiers=(), metrics_tiers=()).run(corrected)
    for tier in ("raw", "monthly"):
        got = _tier_hash(spark, f"{base}/rollup_{tier}")
        want = _tier_hash(spark, f"{truth}/rollup_{tier}")
        assert got == want, tier

    # pre-month-map base (map deleted): sync falls back to run(), which
    # resumes via fingerprints (no stage rebuilt) and re-records the map
    os.remove(p._input_months_path)
    r4 = p.sync(corrected)
    assert r4["mode"] == "run"
    assert os.path.exists(p._input_months_path)
    assert p.sync(corrected) == {"mode": "refresh", "replaced": {}}


def test_empty_input_rails(spark, tiny_sequences, tmp_path):
    """An all-empty input must never wipe published tiers: run(), sync(),
    refresh_months() and refresh_changed() all refuse loudly, the table
    survives, and partial-month deletions (rows elsewhere) keep working.
    refresh_months() also refuses an empty or malformed month list before
    any write or ledger row."""
    import pytest

    base = str(tmp_path / "rails")
    p = TierPipeline(spark, base, gapfill_tiers=(), metrics_tiers=())

    empty = tiny_sequences.where(F.lit(False))
    with pytest.raises(ValueError, match="input is empty"):
        p.run(empty)

    p.run(tiny_sequences)
    rows = p.read_stage("rollup_daily").count()
    for fn in (
        lambda: p.sync(empty),
        lambda: p.refresh_changed(empty),
        lambda: p.refresh_months(empty, ["2024-01"]),
    ):
        with pytest.raises(ValueError, match="empty"):
            fn()
    ledger = len(p._ledger())
    manifest = os.path.getsize(p._partition_ledger_path)
    for bad in ([], ["2024-3"], ["2024-13"], "2024-03", [202403]):
        with pytest.raises(ValueError, match="YYYY-MM"):
            p.refresh_months(tiny_sequences, bad)
    assert len(p._ledger()) == ledger
    assert os.path.getsize(p._partition_ledger_path) == manifest
    assert p.read_stage("rollup_daily").count() == rows  # untouched

    # a NON-empty correction naming every published month with no
    # replacement rows in them would also empty the stage: same rail
    published = sorted(p._read_input_months())
    shifted = tiny_sequences.withColumn(
        "ts", F.col("ts") + F.expr("INTERVAL 4000 DAYS")
    )
    with pytest.raises(ValueError, match="would empty"):
        p.refresh_months(shifted, published)
    assert p.read_stage("rollup_daily").count() == rows


def test_read_stage_degenerate_ranges(spark, tiny_sequences, tmp_path):
    """Inverted / half-open ranges and an empty source list return empty
    or correctly filtered frames, never crash."""
    base = str(tmp_path / "ranges")
    p = TierPipeline(spark, base, gapfill_tiers=(), metrics_tiers=())
    p.run(tiny_sequences)

    assert (
        p.read_stage(
            "rollup_hourly",
            start="2024-03-01T00:00:00",
            end="2024-02-01T00:00:00",
        ).count()
        == 0
    )
    full = p.read_stage("rollup_hourly")
    lo = p.read_stage("rollup_hourly", start="2024-03-01T00:00:00").count()
    hi = p.read_stage("rollup_hourly", end="2024-03-01T00:00:00").count()
    assert lo + hi == full.count() and lo > 0 and hi > 0
    assert p.read_stage("rollup_hourly", sources=[]).count() == 0


def test_table_status_reflects_current_partitions(
    spark, tiny_sequences, tmp_path
):
    """table_status(): one row per LIVE (stage, month) with the latest
    manifest state — refreshed months show REFRESH, deleted months
    disappear, and rows match the tables on disk. Metadata-only."""
    base = str(tmp_path / "status")
    p = TierPipeline(spark, base, gapfill_tiers=(), metrics_tiers=())
    p.run(tiny_sequences)

    corrected = tiny_sequences.where(
        F.date_format(F.col("ts"), "yyyy-MM") != "2024-02"
    )
    p.refresh_months(corrected, ["2024-02"])

    st = p.table_status().where(F.col("stage") == "rollup_daily").collect()
    months = {r["p_month"]: r for r in st}
    assert "2024-02" not in months  # deleted month gone from status
    on_disk = {
        r["m"]: r["n"]
        for r in spark.read.parquet(f"{base}/rollup_daily")
        .groupBy(F.col("p_month").alias("m"))
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    assert {m: r["rows"] for m, r in months.items()} == on_disk
    assert months["2024-01"]["status"] in ("SUCCESS", "REFRESH")

    # fresh pipeline object (no state carried): metadata alone answers
    p2 = TierPipeline(spark, base, gapfill_tiers=(), metrics_tiers=())
    assert p2.table_status().count() == p.table_status().count()

    import pytest

    with pytest.raises(ValueError, match="no partition manifest"):
        TierPipeline(spark, str(tmp_path / "none")).table_status()


def test_subset_refresh_does_not_mask_other_stale_months(
    spark, tmp_path
):
    """A refresh naming a SUBSET of the truly-changed months must record
    the truthful published fingerprint, so a later run(corrected)
    recomputes the months the subset call skipped."""
    from rtsa_spark.pipeline import TierPipeline
    from rtsa_spark.synth import synth_sequences
    from pyspark.sql import functions as F

    seqs = synth_sequences(spark, 6000, n_sources=4).cache()
    base = str(tmp_path / "subset")
    p = TierPipeline(spark, base, gapfill_tiers=(), metrics_tiers=())
    p.run(seqs)

    # correction touches BOTH January and February
    corrected = seqs.withColumn("n_tok", F.col("n_tok") + 1)
    p.refresh_months(corrected, ["2024-01"])  # subset: Feb still stale

    # a later full run over the corrected input must NOT skip: it has to
    # recompute the stale February
    p2 = TierPipeline(
        spark, base, gapfill_tiers=(), metrics_tiers=(), run_id="second"
    )
    p2.run(corrected)
    want = {
        r["source"]: r["s"]
        for r in corrected.groupBy("source")
        .agg(F.sum("n_tok").alias("s"))
        .collect()
    }
    got = {
        r["source"]: r["s"]
        for r in p2.read_stage("rollup_monthly")
        .groupBy("source")
        .agg(F.sum("n_tok_sum").alias("s"))
        .collect()
    }
    assert got == want


@pytest.mark.parametrize(
    "kw",
    [{}, {"encode_tiers": ("hourly",), "snapshot_tiers": ("hourly", "daily")}],
    ids=["plain", "snapshot"],
)
def test_rerun_after_sync_rebuilds_what_the_sync_replaced(
    spark, tiny_sequences, tmp_path, kw
):
    """run(A), sync(B), run(A): the first run's SUCCESS rows still carry
    A's fingerprints, but the latest rows carry B's, so the second run(A)
    must rebuild every stage and leave the base equal to a fresh run(A).
    It also records A's month map, so a following sync(B) refreshes."""
    from rtsa_spark.pipeline import content_fingerprint

    a = tiny_sequences
    drop = (F.date_format("ts", "yyyy-MM") == "2024-02") & (
        F.pmod(F.xxhash64("doc_id"), F.lit(10)) == 0
    )
    b = a.where(~drop)
    assert b.count() < a.count()
    base = str(tmp_path / "base")
    TierPipeline(spark, base, **kw).run(a)
    assert TierPipeline(spark, base, **kw).sync(b)["mode"] == "refresh"
    p = TierPipeline(spark, base, **kw)
    p.run(a)

    fresh = TierPipeline(spark, str(tmp_path / "fresh"), **kw)
    for stage in fresh.run(a):
        assert content_fingerprint(p.read_stage(stage)) == content_fingerprint(
            fresh.read_stage(stage)
        ), stage

    again = TierPipeline(spark, base, **kw).sync(b)
    assert again["mode"] == "refresh" and again["replaced"]["rollup_raw"] > 0


def test_sync_fingerprints_come_from_its_writes_and_a_repeat_is_a_noop(
    spark, tiny_sequences, tmp_path, monkeypatch
):
    """A refresh-mode sync scans each refreshed tier back once and learns
    the gapfilled stage's fingerprint, the input of its metrics stage,
    from the gapfill write.  Refreshing the same input again appends no
    ledger or manifest row and rewrites no file."""
    import rtsa_spark.pipeline as pipeline_mod

    base = str(tmp_path / "sync_fp")
    p = TierPipeline(
        spark, base, encode_tiers=("hourly",), snapshot_tiers=("hourly", "daily")
    )
    p.run(tiny_sequences)
    feb = F.date_format(F.col("ts"), "yyyy-MM") == "2024-02"
    corrected = tiny_sequences.withColumn(
        "n_tok", F.when(feb, F.col("n_tok") * 2).otherwise(F.col("n_tok"))
    )
    calls = []
    real = pipeline_mod.content_fingerprint
    with monkeypatch.context() as mp:
        mp.setattr(
            pipeline_mod,
            "content_fingerprint",
            lambda df: calls.append(1) or real(df),
        )
        res = p.sync(corrected)
    assert res["mode"] == "refresh" and res["replaced"]["rollup_raw"] > 0
    assert len(calls) == len(p.tiers) == 4
    metrics = [r for r in p._ledger() if r["stage"] == "metrics_daily"][-1]
    assert metrics["run_id"] == p.run_id and metrics["status"] == "SUCCESS"
    assert metrics["fingerprint"] == real(p.read_stage("gapfilled_daily"))

    ledger = p._ledger()
    manifest = os.path.getsize(p._partition_ledger_path)
    digests = _file_digests(base)
    assert p.refresh_months(corrected, ["2024-02"]) == {}
    assert p._ledger() == ledger
    assert os.path.getsize(p._partition_ledger_path) == manifest
    assert _file_digests(base) == digests


def test_refresh_that_leaves_a_tier_unchanged_skips_what_is_built_on_it(
    spark, tiny_sequences, tmp_path
):
    """A correction that moves rows between minutes of the same hour
    changes the raw tier but not the hourly one: the refresh rewrites
    only the raw and hourly rollups, and every stage still equals a fresh
    run over the corrected input."""
    from rtsa_spark.pipeline import content_fingerprint

    base = str(tmp_path / "same_hour")
    p = TierPipeline(spark, base)
    p.run(tiny_sequences)
    feb = F.date_format(F.col("ts"), "yyyy-MM") == "2024-02"
    corrected = tiny_sequences.withColumn(
        "ts", F.when(feb, F.date_trunc("hour", "ts")).otherwise(F.col("ts"))
    )
    n_ledger = len(p._ledger())
    replaced = p.refresh_changed(corrected)
    assert set(replaced) == {"rollup_raw", "rollup_hourly"}
    assert [r["stage"] for r in p._ledger()[n_ledger:]] == [
        "rollup_raw",
        "rollup_hourly",
    ]

    fresh = TierPipeline(spark, str(tmp_path / "same_hour_truth"))
    for stage in fresh.run(corrected):
        assert content_fingerprint(p.read_stage(stage)) == content_fingerprint(
            fresh.read_stage(stage)
        ), stage


def test_run_after_a_stage_store_delete_rebuilds_the_stage(
    spark, tiny_sequences, tmp_path
):
    """A ``stage_store`` delete commits a snapshot but writes no lineage
    row, so the stage's latest row no longer describes it.  The next
    run(A) must rebuild the stage instead of skipping it (and rolling the
    deletion up the ladder): every stage then equals a fresh run(A)."""
    from rtsa_spark.pipeline import content_fingerprint

    kw = {"snapshot_tiers": ("hourly",)}
    base = str(tmp_path / "deleted")
    p = TierPipeline(spark, base, **kw)
    p.run(tiny_sequences)
    before = p.read_stage("rollup_hourly").count()
    assert p.stage_store("rollup_hourly").delete_where(F.col("source") == "s001")
    assert p.read_stage("rollup_hourly").count() < before

    again = TierPipeline(spark, base, **kw)
    again.run(tiny_sequences)
    fresh = TierPipeline(spark, str(tmp_path / "deleted_truth"), **kw)
    for stage in fresh.run(tiny_sequences):
        assert content_fingerprint(again.read_stage(stage)) == content_fingerprint(
            fresh.read_stage(stage)
        ), stage


def test_run_after_compaction_rewrites_nothing(spark, tiny_sequences, tmp_path):
    """A stage store ``rewrite()`` commits a layout-only snapshot and no
    lineage row; a following run(A) skips every stage."""
    kw = {"snapshot_tiers": ("hourly",)}
    base = str(tmp_path / "compacted")
    p = TierPipeline(spark, base, **kw)
    p.run(tiny_sequences)
    store = p.stage_store("rollup_hourly")
    store.rewrite()
    assert store.data_commits()[-1]["op"] == "rewrite"
    n_ledger, head = len(p._ledger()), store.current_snapshot()

    TierPipeline(spark, base, **kw).run(tiny_sequences)
    assert len(p._ledger()) == n_ledger
    assert store.current_snapshot() == head


def test_refresh_without_a_month_map_records_the_whole_input(
    spark, tiny_sequences, tmp_path
):
    """A base with no input month map (published before maps existed):
    refresh_months records the whole input's map, the one that agrees
    with the full-input fingerprint its stages record, so the input it
    just refreshed with reads as unchanged."""
    base = str(tmp_path / "mapless")
    p = TierPipeline(spark, base, gapfill_tiers=(), metrics_tiers=())
    p.run(tiny_sequences)
    os.remove(p._input_months_path)

    feb = F.date_format(F.col("ts"), "yyyy-MM") == "2024-02"
    corrected = tiny_sequences.withColumn(
        "n_tok", F.when(feb, F.col("n_tok") * 2).otherwise(F.col("n_tok"))
    )
    p.refresh_months(corrected, ["2024-02"])
    months = {
        r["m"]
        for r in corrected.select(F.date_format("ts", "yyyy-MM").alias("m"))
        .distinct()
        .collect()
    }
    assert set(p._read_input_months()) == months
    assert p.detect_changed_months(corrected) == {
        "changed": [], "added": [], "removed": []
    }
    assert p.sync(corrected) == {"mode": "refresh", "replaced": {}}
