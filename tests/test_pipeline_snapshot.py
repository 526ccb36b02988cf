"""TierPipeline x SnapshotStore: snapshot-backed rollup tiers.

The properties: a snapshot-backed tier behaves identically to the plain
layout for run/resume/refresh AND adds time travel (read_stage asof),
non-destructive refreshes, per-partition manifest rows carrying the
snapshot id, and explicit history expiry.
"""
from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from rtsa_spark.pipeline import TierPipeline
from rtsa_spark.synth import synth_sequences


@pytest.fixture(scope="module")
def seqs(spark):
    return synth_sequences(spark, 6000, n_sources=4).cache()


def _mk(spark, base, **kw):
    return TierPipeline(
        spark,
        base,
        tiers=["raw", "hourly", "daily", "monthly"],
        gapfill_tiers=(),
        metrics_tiers=(),
        snapshot_tiers=("hourly",),
        **kw,
    )


def _totals(df):
    return {
        r["source"]: (r["n"], r["s"])
        for r in df.groupBy("source")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("n_tok_sum").alias("s"))
        .collect()
    }


def test_run_matches_plain_layout_and_resumes(spark, seqs, tmp_path):
    snap = _mk(spark, str(tmp_path / "snap"))
    snap.run(seqs)
    plain = TierPipeline(
        spark, str(tmp_path / "plain"),
        tiers=["raw", "hourly", "daily", "monthly"],
        gapfill_tiers=(), metrics_tiers=(),
    )
    plain.run(seqs)
    assert _totals(snap.read_stage("rollup_hourly")) == _totals(
        plain.read_stage("rollup_hourly")
    )
    # resume: a second run() over identical input appends no ledger rows
    n1 = len(snap._ledger())
    _mk(spark, str(tmp_path / "snap")).run(seqs)
    assert len(snap._ledger()) == n1


def test_refresh_time_travels_and_downstream_cascades(spark, seqs, tmp_path):
    base = str(tmp_path / "tiers")
    p = _mk(spark, base)
    p.run(seqs)
    feb = F.date_format(F.col("ts"), "yyyy-MM") == "2024-02"
    corrected = seqs.withColumn(
        "n_tok", F.when(feb, F.col("n_tok") * 2).otherwise(F.col("n_tok"))
    )
    p.refresh_months(corrected, ["2024-02"])

    # current snapshot reflects the correction; checkpoint 1 reads original
    ref = TierPipeline(
        spark, str(tmp_path / "ref"),
        tiers=["raw", "hourly"], gapfill_tiers=(), metrics_tiers=(),
    )
    ref.run(corrected)
    assert _totals(p.read_stage("rollup_hourly")) == _totals(
        ref.read_stage("rollup_hourly")
    )
    tok_then = {
        s: v[1] for s, v in _totals(p.read_stage("rollup_hourly", asof=1)).items()
    }
    tok_orig = {
        r["source"]: r["s"]
        for r in seqs.groupBy("source").agg(F.sum("n_tok").alias("s")).collect()
    }
    assert tok_then == tok_orig

    # downstream plain tiers (daily/monthly) cascade from the refreshed
    # current snapshot
    tok_monthly = {
        r["source"]: r["s"]
        for r in p.read_stage("rollup_monthly")
        .groupBy("source").agg(F.sum("n_tok_sum").alias("s")).collect()
    }
    tok_corrected = {
        r["source"]: r["s"]
        for r in corrected.groupBy("source")
        .agg(F.sum("n_tok").alias("s")).collect()
    }
    assert tok_monthly == tok_corrected

    # a subsequent run() over the corrected input skips every stage
    n1 = len(p._ledger())
    _mk(spark, base).run(corrected)
    assert len(p._ledger()) == n1


def test_manifest_rows_carry_snapshot_id(spark, seqs, tmp_path):
    p = _mk(spark, str(tmp_path / "tiers"))
    p.run(seqs)
    feb = F.date_format(F.col("ts"), "yyyy-MM") == "2024-02"
    p.refresh_months(
        seqs.withColumn(
            "n_tok", F.when(feb, F.col("n_tok") + 1).otherwise(F.col("n_tok"))
        ),
        ["2024-02"],
    )
    man = p.partition_lineage().where(F.col("stage") == "rollup_hourly")
    sids = {
        r["status"]: r["snapshot_id"]
        for r in man.select("status", "snapshot_id").distinct().collect()
    }
    assert sids == {"SUCCESS": 1, "REFRESH": 2}
    # refresh accounting is month-scoped
    refreshed = man.where(F.col("status") == "REFRESH")
    assert {r["p_month"] for r in refreshed.collect()} == {"2024-02"}


def test_expire_snapshots_and_guards(spark, seqs, tmp_path):
    p = _mk(spark, str(tmp_path / "tiers"))
    p.run(seqs)
    feb = F.date_format(F.col("ts"), "yyyy-MM") == "2024-02"
    p.refresh_months(
        seqs.withColumn(
            "n_tok", F.when(feb, F.col("n_tok") + 1).otherwise(F.col("n_tok"))
        ),
        ["2024-02"],
    )
    res = p.expire_snapshots(keep_last=1)
    assert res["rollup_hourly"]["expired_snapshots"] == [1]
    with pytest.raises(ValueError, match="expired"):
        p.read_stage("rollup_hourly", asof=1)
    # current still reads
    assert _totals(p.read_stage("rollup_hourly"))
    # asof on a plain stage refuses loudly
    with pytest.raises(ValueError, match="not snapshot-backed"):
        p.read_stage("rollup_daily", asof=1)


def test_encode_downstream_of_snapshot_tier(spark, seqs, tmp_path):
    """The encoded stage refreshes from the snapshot tier's CURRENT
    months — the month-filtered read goes through the store."""
    base = str(tmp_path / "tiers")
    p = _mk(spark, base, encode_tiers=("hourly",))
    p.run(seqs)
    feb = F.date_format(F.col("ts"), "yyyy-MM") == "2024-02"
    corrected = seqs.withColumn(
        "n_tok", F.when(feb, F.col("n_tok") * 2).otherwise(F.col("n_tok"))
    )
    p.refresh_months(corrected, ["2024-02"])
    from rtsa_spark.operators.encode import decode_blocks

    # the encoded stage is snapshot-backed now (policy follows the tier):
    # read through the stage API, not the raw dir layout
    decoded = decode_blocks(p.read_stage("encoded_hourly"))
    tok_dec = {
        r["source"]: r["s"]
        for r in decoded.groupBy("source")
        .agg(F.sum(F.col("value").cast("long")).alias("s"))
        .collect()
    }
    tok_corrected = {
        r["source"]: r["s"]
        for r in corrected.groupBy("source")
        .agg(F.sum("n_tok").alias("s")).collect()
    }
    assert tok_dec == tok_corrected


def test_read_stage_changes_incremental_consumption(spark, seqs, tmp_path):
    """stage_store(stage).read_changes: a consumer holding the
    last-processed snapshot id reads exactly the correction delta (DELETE
    old / INSERT new for the refreshed month only); plain stages refuse
    loudly."""
    base = str(tmp_path / "chg")
    p = _mk(spark, base)
    p.run(seqs)
    pre = p._store("rollup_hourly").current_snapshot()
    feb = F.date_format(F.col("ts"), "yyyy-MM") == "2024-02"
    corrected = seqs.withColumn(
        "n_tok", F.when(feb, F.col("n_tok") + 1).otherwise(F.col("n_tok"))
    )
    p.refresh_months(corrected, ["2024-02"])

    ch = p.stage_store("rollup_hourly").read_changes(since=pre).cache()
    months = {
        r["m"]
        for r in ch.select(
            F.date_format("bucket_start", "yyyy-MM").alias("m")
        ).distinct().collect()
    }
    assert months == {"2024-02"}  # only the refreshed month appears
    # delta applied to the old tier == current tier, per source
    ins = ch.where("_change_type = 'INSERT'")
    dele = ch.where("_change_type = 'DELETE'")
    old_t = _totals(p.read_stage("rollup_hourly", asof=pre))
    cur_t = _totals(p.read_stage("rollup_hourly"))
    ins_t = _totals(ins)
    del_t = _totals(dele)
    for src, (n, s) in cur_t.items():
        n0, s0 = old_t[src]
        ni, si = ins_t.get(src, (0, 0))
        nd, sd = del_t.get(src, (0, 0))
        assert (n, s) == (n0 + ni - nd, s0 + si - sd), src

    with pytest.raises(ValueError, match="not snapshot-backed"):
        p.stage_store("rollup_daily").read_changes(since=pre)


def test_stage_tags_pin_and_read(spark, seqs, tmp_path):
    """stage_store(stage).tag/drop_tag: a named checkpoint reads via
    asof=name, survives expire_snapshots, and plain stages refuse."""
    base = str(tmp_path / "tags")
    p = _mk(spark, base)
    p.run(seqs)
    assert p.stage_store("rollup_hourly").tag("baseline") == 1
    feb = F.date_format(F.col("ts"), "yyyy-MM") == "2024-02"
    corrected = seqs.withColumn(
        "n_tok", F.when(feb, F.col("n_tok") + 1).otherwise(F.col("n_tok"))
    )
    p.refresh_months(corrected, ["2024-02"])
    p.refresh_months(seqs, ["2024-02"])
    orig = _totals(p.read_stage("rollup_hourly", asof=1))
    p.expire_snapshots(keep_last=1)
    assert _totals(p.read_stage("rollup_hourly", asof="baseline")) == orig
    p.stage_store("rollup_hourly").drop_tag("baseline")
    p.expire_snapshots(keep_last=1)
    with pytest.raises(ValueError, match="unknown tag"):
        p.read_stage("rollup_hourly", asof="baseline")
    with pytest.raises(ValueError, match="not snapshot-backed"):
        p.stage_store("rollup_daily").tag("x")


def test_stage_branch_write_audit_publish(spark, seqs, tmp_path):
    pipe = _mk(spark, str(tmp_path / "wap"))
    pipe.run(seqs)
    before = _totals(pipe.read_stage("rollup_hourly"))

    store = pipe.stage_store("rollup_hourly")
    store.branch("audit")
    hourly = pipe.read_stage("rollup_hourly")
    feb = F.date_format("bucket_start", "yyyy-MM") == "2024-02"
    store.refresh_months(
        hourly.where(feb).withColumn("n_tok_sum", F.col("n_tok_sum") * 2),
        ["2024-02"], branch="audit",
    )
    # main unchanged, branch auditable through the pipeline read
    assert _totals(pipe.read_stage("rollup_hourly")) == before
    staged = _totals(pipe.read_stage("rollup_hourly", asof="audit"))
    assert staged != before

    store.fast_forward("audit")
    store.drop_branch("audit")
    assert _totals(pipe.read_stage("rollup_hourly")) == staged

    # plain stages refuse branch ops
    with pytest.raises(ValueError, match="not snapshot-backed"):
        pipe.stage_store("rollup_daily").branch("x")


def test_read_stage_timestamp_as_of(spark, seqs, tmp_path):
    import time as _time

    pipe = _mk(spark, str(tmp_path / "ts"))
    pipe.run(seqs)
    before = _totals(pipe.read_stage("rollup_hourly"))
    _time.sleep(0.05)
    t_mid = _time.time()
    _time.sleep(0.05)
    corrected = seqs.withColumn("n_tok", F.col("n_tok") + 1)
    pipe.refresh_months(corrected, ["2024-02"])
    assert _totals(pipe.read_stage("rollup_hourly", asof_ts=t_mid)) == before
    assert _totals(pipe.read_stage("rollup_hourly")) != before
    with pytest.raises(ValueError, match="not snapshot-backed"):
        pipe.read_stage("rollup_daily", asof_ts=t_mid)


def test_sync_stage_next_maintains_daily_from_hourly(spark, seqs, tmp_path):
    from rtsa_spark.operators.rollup import rollup_next
    from rtsa_spark.sync import sync_next

    pipe = TierPipeline(
        spark, str(tmp_path / "cdc"),
        tiers=["raw", "hourly"], gapfill_tiers=(), metrics_tiers=(),
        snapshot_tiers=("hourly", "daily"),
    )

    def sync_daily():
        return sync_next(
            pipe.stage_store("rollup_hourly"),
            pipe.stage_store("rollup_daily"),
            "daily",
        )

    pipe.run(seqs)
    assert sync_daily() is not None
    want = rollup_next(pipe.read_stage("rollup_hourly"), "daily")
    assert _totals(pipe.read_stage("rollup_daily")) == _totals(want)

    # a pipeline-level correction flows: hourly refresh -> CDC sync
    corrected = seqs.withColumn("n_tok", F.col("n_tok") + 1)
    pipe.refresh_months(corrected, ["2024-02"])
    assert sync_daily() is not None
    want2 = rollup_next(pipe.read_stage("rollup_hourly"), "daily")
    assert _totals(pipe.read_stage("rollup_daily")) == _totals(want2)
    # and a no-change re-sync is a no-op
    assert sync_daily() is None


def test_encoded_stage_snapshot_backed(spark, seqs, tmp_path):
    """When a tier checkpoints through the snapshot store, its encoded
    block stage does too: publish -> snapshot 1, partition-scoped refresh
    -> snapshot 2, with time travel across both and the version diff
    scoped to the refreshed month."""
    pipe = TierPipeline(
        spark, str(tmp_path / "es"),
        tiers=["raw", "hourly"], gapfill_tiers=(), metrics_tiers=(),
        snapshot_tiers=("hourly",), encode_tiers=("hourly",),
    )
    pipe.run(seqs)
    est = pipe.stage_store("encoded_hourly")
    assert est.current_snapshot() == 1
    enc1_rows = pipe.read_stage("encoded_hourly").count()
    assert enc1_rows > 0

    corrected = seqs.withColumn("n_tok", F.col("n_tok") + 1)
    pipe.refresh_months(corrected, ["2024-02"])
    assert est.current_snapshot() == 2
    (row,) = [
        r for r in pipe._ledger()
        if r["stage"] == "encoded_hourly" and r["status"] == "REFRESH"
    ]
    assert row["snapshot_id"] == est.current_snapshot()
    # history intact; version diff scoped to the refreshed month
    assert pipe.read_stage("encoded_hourly", asof=1).count() == enc1_rows
    before, after = est.months(asof=1), est.months(asof=2)
    assert {m for m in before if before[m] != after.get(m)} == {"2024-02"}

    # the current encoded stage decodes to the refreshed tier exactly
    from rtsa_spark.operators.encode import decode_blocks

    dec = decode_blocks(pipe.read_stage("encoded_hourly"))
    hr = pipe.read_stage("rollup_hourly")
    assert dec.count() == hr.count()
    assert (
        dec.agg(F.sum("value")).collect()[0][0]
        == hr.agg(F.sum("n_tok_sum")).collect()[0][0]
    )

    # expiry covers the encoded stage
    acc = pipe.expire_snapshots(keep_last=1)
    assert "encoded_hourly" in acc
    with pytest.raises(ValueError, match="expired"):
        pipe.read_stage("encoded_hourly", asof=1)
