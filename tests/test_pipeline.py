from __future__ import annotations

import os

import pytest

from rtsa_spark.pipeline import TierPipeline


def _hashes(spark, path):
    import pyspark.sql.functions as F

    df = spark.read.parquet(path)
    return df.select(
        F.bit_xor(F.xxhash64(*sorted(df.columns))).alias("h"), F.count(F.lit(1)).alias("n")
    ).first()


def test_pipeline_end_to_end_and_resume(spark, tiny_sequences, tmp_path):
    full_dir = str(tmp_path / "full")
    out = TierPipeline(spark, full_dir).run(tiny_sequences)
    assert set(out) >= {
        "rollup_raw", "rollup_hourly", "rollup_daily", "rollup_monthly",
        "gapfilled_hourly", "gapfilled_daily", "metrics_daily",
    }

    # kill after hourly rollup, then resume: identical final tables
    resume_dir = str(tmp_path / "resume")
    p1 = TierPipeline(spark, resume_dir)
    with pytest.raises(RuntimeError, match="injected failure"):
        p1.run(tiny_sequences, fail_after="rollup_hourly")
    assert not os.path.exists(os.path.join(resume_dir, "rollup_monthly"))
    p2 = TierPipeline(spark, resume_dir)
    out2 = p2.run(tiny_sequences)
    for stage in out:
        assert _hashes(spark, out[stage]) == _hashes(spark, out2[stage]), stage

    # resumed run reused the pre-crash tiers (no duplicate SUCCESS rows)
    ledger = p2._ledger()
    raw_rows = [r for r in ledger if r["stage"] == "rollup_raw" and r["status"] == "SUCCESS"]
    assert len(raw_rows) == 1

    # second full re-run is a complete no-op, and fail_after still fires
    # on a skipped stage of any kind (metrics here)
    before = len(p2._ledger())
    with pytest.raises(RuntimeError, match="injected failure"):
        p2.run(tiny_sequences, fail_after="metrics_daily")
    assert len(p2._ledger()) == before


def test_lineage_table(spark, tiny_sequences, tmp_path):
    d = str(tmp_path / "lin")
    p = TierPipeline(spark, d, metrics_tiers=())
    p.run(tiny_sequences)
    lin = p.lineage()
    rows = {r["stage"]: r for r in lin.collect()}
    assert rows["rollup_raw"]["rows_in"] == tiny_sequences.count()
    assert all(r["status"] == "SUCCESS" for r in rows.values())
    # cascade row counts are monotone non-increasing up the ladder
    assert rows["rollup_hourly"]["rows_out"] <= rows["rollup_raw"]["rows_out"]
    assert rows["rollup_monthly"]["rows_out"] <= rows["rollup_daily"]["rows_out"]


def _manifest(p):
    import json

    if not os.path.exists(p._partition_ledger_path):
        return []
    with open(p._partition_ledger_path) as f:
        return [json.loads(line) for line in f if line.strip()]


def _jobs_in_group(spark, group, action):
    """Spark jobs ``action()`` launches, counted by job group. A control
    job in a second group is seen only after every earlier job event
    reached the status store, so the count is not a race."""
    import time

    sc = spark.sparkContext
    tracker = sc.statusTracker()
    try:
        sc.setJobGroup(group, group)
        action()
        sc.setJobGroup(group + "-control", "control job")
        spark.range(1).count()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    deadline = time.time() + 30
    while not tracker.getJobIdsForGroup(group + "-control"):
        assert time.time() < deadline, "control job never reached the tracker"
        time.sleep(0.1)
    return len(tracker.getJobIdsForGroup(group))


def test_partition_lineage_manifest(spark, tiny_sequences, tmp_path):
    """Every manifest row's ``rows`` equals an independent Spark count of
    ``read_stage(stage)`` for its month — plain, snapshot-backed and
    non-partitioned stages, after run and a month-deleting refresh — and
    accounting a stage launches no Spark job."""
    import pyspark.sql.functions as F

    p = TierPipeline(spark, str(tmp_path / "plin"), snapshot_tiers=("hourly",))

    def appended_by(op):
        n = len(_manifest(p))
        op()
        return _manifest(p)[n:]

    def assert_counts(rows, whole=False):
        """``whole``: the rows account entire stages, so each stage's
        manifest months must also be exactly the months it holds."""
        by_stage: dict[str, dict] = {}
        for r in rows:
            by_stage.setdefault(r["stage"], {})[r["p_month"]] = r
        for stage, got in by_stage.items():
            df = p.read_stage(stage)
            ts = next(
                (c for c in ("bucket_start", "block_day") if c in df.columns),
                None,
            )
            month = (
                F.date_format(ts, "yyyy-MM") if ts else F.lit(None).cast("string")
            )
            want = {
                r["m"]: r["count"]
                for r in df.groupBy(month.alias("m")).count().collect()
            }
            if whole:
                assert set(got) == set(want), (stage, sorted(got, key=str), want)
            for m, r in got.items():
                assert r["rows"] == want.get(m, 0), (stage, m, r, want)
                assert (r["n_files"] >= 1 and r["bytes"] > 0) == (
                    r["rows"] > 0
                ), r
        return by_stage

    built = assert_counts(appended_by(lambda: p.run(tiny_sequences)), whole=True)
    assert set(built) == {r["stage"] for r in p._ledger()}
    assert set(built["metrics_daily"]) == {None}
    # every month-partitioned stage covers exactly the input's months
    months = sorted(
        r["m"]
        for r in tiny_sequences.select(F.date_format("ts", "yyyy-MM").alias("m"))
        .distinct()
        .collect()
    )
    assert len(months) >= 2
    for stage, got in built.items():
        if stage != "metrics_daily":
            assert sorted(got) == months, stage
    assert all("snapshot_id" in r for r in built["rollup_hourly"].values())

    # a correction that empties the last month: REFRESH rows record rows=0
    last = months[-1]
    corrected = tiny_sequences.where(F.date_format("ts", "yyyy-MM") != last)
    refreshed = assert_counts(
        appended_by(lambda: p.refresh_months(corrected, [last]))
    )
    for t in p.tiers:
        assert set(refreshed[f"rollup_{t}"]) == {last}
        assert refreshed[f"rollup_{t}"][last]["rows"] == 0

    # accounting reads parquet footers only: no Spark job in its group
    n_audit = len(_manifest(p))
    audit = lambda: [p._append_manifest(stage, "AUDIT") for stage in built]
    assert _jobs_in_group(spark, "manifest-accounting", audit) == 0
    # the whole-stage audit still covers exactly the months each stage holds
    assert_counts(_manifest(p)[n_audit:], whole=True)


def test_partition_lineage_refresh_scoped(spark, tiny_sequences, tmp_path):
    """refresh_months appends REFRESH manifest rows ONLY for the refreshed
    months of the partition-swapped tiers (derived stages are fully
    rewritten and log SUCCESS rows)."""
    import pyspark.sql.functions as F

    d = str(tmp_path / "plref")
    p = TierPipeline(spark, d, gapfill_tiers=(), metrics_tiers=())
    p.run(tiny_sequences)
    n_before = len(_manifest(p))
    month = tiny_sequences.select(
        F.date_format("ts", "yyyy-MM").alias("m")
    ).agg(F.min("m")).first()[0]
    # a correction inside the month: refreshing an unchanged input is a
    # no-op that appends no manifest row
    corrected = tiny_sequences.withColumn(
        "n_tok",
        F.when(F.date_format("ts", "yyyy-MM") == month, F.col("n_tok") * 2)
        .otherwise(F.col("n_tok")),
    )
    p.refresh_months(corrected, [month])
    fresh = _manifest(p)[n_before:]
    refresh_rows = [r for r in fresh if r["status"] == "REFRESH"]
    assert refresh_rows and all(r["p_month"] == month for r in refresh_rows)
    assert {r["stage"] for r in refresh_rows} == {
        f"rollup_{t}" for t in p.tiers
    }


def test_encoded_stage_publish_resume_refresh(spark, tiny_sequences, tmp_path):
    """Opt-in encoded-block stage: published month-partitioned, decodes
    back to the tier bit-exactly, resumes like any stage, and refreshes
    partition-scoped (only the affected months' blocks are re-encoded)."""
    import hashlib
    import os

    import pyspark.sql.functions as F

    from rtsa_spark.operators.encode import decode_blocks

    def _file_digests(root):
        return {
            os.path.relpath(os.path.join(dp, f), root): hashlib.md5(
                open(os.path.join(dp, f), "rb").read()
            ).hexdigest()
            for dp, _dirs, files in os.walk(root)
            for f in files
            if f.endswith(".parquet")
        }

    base = str(tmp_path / "tiers")
    kw = dict(
        tiers=["raw", "hourly"], gapfill_tiers=(), metrics_tiers=(),
        encode_tiers=("hourly",),
    )
    p = TierPipeline(spark, base, **kw)
    out = p.run(tiny_sequences)
    assert "encoded_hourly" in out
    assert any(
        d.startswith("p_month=") for d in os.listdir(out["encoded_hourly"])
    )
    # decoded content == the published hourly tier (exact ints via float64)
    hourly = spark.read.parquet(out["rollup_hourly"]).drop("p_month")
    pts = decode_blocks(spark.read.parquet(out["encoded_hourly"]).drop("p_month"))
    want = hourly.select(
        "source", "bucket_start", F.col("n_tok_sum").cast("double").alias("value")
    )
    assert pts.count() == want.count() > 0
    assert pts.exceptAll(want).count() == 0
    # resume: a fresh pipeline over the same input skips every stage
    n_ledger = len(p._ledger())
    TierPipeline(spark, base, **kw).run(tiny_sequences)
    assert len(p._ledger()) == n_ledger
    # late data in 2024-02: refresh re-encodes ONLY that month's blocks
    before = _file_digests(os.path.join(base, "encoded_hourly"))
    feb = F.date_format(F.col("ts"), "yyyy-MM") == "2024-02"
    corrected = tiny_sequences.withColumn(
        "n_tok", F.when(feb, F.col("n_tok") * 2).otherwise(F.col("n_tok"))
    )
    n_manifest = len(_manifest(p))
    p.refresh_months(corrected, ["2024-02"])
    # the REFRESH ledger row counts the refreshed month, not the stage
    e_ledger = [
        r for r in p._ledger()
        if r["stage"] == "encoded_hourly" and r["status"] == "REFRESH"
    ]
    e_manifest = [
        r for r in _manifest(p)[n_manifest:] if r["stage"] == "encoded_hourly"
    ]
    feb_blocks = spark.read.parquet(os.path.join(base, "encoded_hourly")).where(
        F.col("p_month") == "2024-02"
    )
    assert len(e_ledger) == 1 and [r["p_month"] for r in e_manifest] == ["2024-02"]
    assert e_ledger[0]["rows_out"] == sum(r["rows"] for r in e_manifest)
    assert e_ledger[0]["rows_out"] == feb_blocks.count() > 0
    after = _file_digests(os.path.join(base, "encoded_hourly"))
    changed = {k for k in before if after.get(k) != before[k]}
    assert changed and all("p_month=2024-02" in k for k in changed)
    # refreshed blocks decode to the corrected hourly tier
    hourly2 = spark.read.parquet(os.path.join(base, "rollup_hourly")).drop("p_month")
    pts2 = decode_blocks(
        spark.read.parquet(os.path.join(base, "encoded_hourly")).drop("p_month")
    )
    want2 = hourly2.select(
        "source", "bucket_start", F.col("n_tok_sum").cast("double").alias("value")
    )
    assert pts2.exceptAll(want2).count() == 0
    # and a run over the corrected input now skips the encoded stage too
    n_ledger = len(p._ledger())
    TierPipeline(spark, base, **kw).run(corrected)
    assert len(p._ledger()) == n_ledger


def test_encoded_stage_refresh_deletes_emptied_month(spark, tiny_sequences, tmp_path):
    """A correction that removes every 2024-02 row must delete the encoded
    stage's p_month=2024-02 dir (not leave a stale block partition), and
    the surviving blocks must decode to the corrected hourly tier."""
    import os

    import pyspark.sql.functions as F

    from rtsa_spark.operators.encode import decode_blocks

    base = str(tmp_path / "tiers")
    p = TierPipeline(
        spark, base, tiers=["raw", "hourly"], gapfill_tiers=(),
        metrics_tiers=(), encode_tiers=("hourly",),
    )
    p.run(tiny_sequences)
    feb_dir = os.path.join(base, "encoded_hourly", "p_month=2024-02")
    assert os.path.exists(feb_dir)
    corrected = tiny_sequences.where(
        F.date_format(F.col("ts"), "yyyy-MM") != "2024-02"
    )
    p.refresh_months(corrected, ["2024-02"])
    assert not os.path.exists(feb_dir)
    hourly = spark.read.parquet(os.path.join(base, "rollup_hourly")).drop("p_month")
    pts = decode_blocks(
        spark.read.parquet(os.path.join(base, "encoded_hourly")).drop("p_month")
    )
    want = hourly.select(
        "source", "bucket_start", F.col("n_tok_sum").cast("double").alias("value")
    )
    assert pts.count() == want.count() > 0
    assert pts.exceptAll(want).count() == 0


# plain (raw, daily, monthly, gapfilled, metrics), snapshot-backed
# (hourly) and encoded (snapshot-backed encoded_hourly) stages in one run
_FP_KW = dict(encode_tiers=("hourly",), snapshot_tiers=("hourly",))
# (stage, the stage whose content is its input fingerprint)
_FP_PARENTS = (
    ("rollup_hourly", "rollup_raw"),
    ("gapfilled_hourly", "rollup_hourly"),
    ("encoded_hourly", "rollup_hourly"),
    ("rollup_daily", "rollup_hourly"),
    ("gapfilled_daily", "rollup_daily"),
    ("metrics_daily", "gapfilled_daily"),
    ("rollup_monthly", "rollup_daily"),
)


def _success_rows(p):
    return {
        r["stage"]: (r["fingerprint"], r["rows_in"], r["rows_out"])
        for r in p._ledger()
        if r["status"] == "SUCCESS"
    }


@pytest.fixture
def fp_calls(monkeypatch):
    """Count ``content_fingerprint`` calls the pipeline makes."""
    import rtsa_spark.pipeline as pipeline

    calls = []
    real = pipeline.content_fingerprint

    def counted(df):
        calls.append(1)
        return real(df)

    monkeypatch.setattr(pipeline, "content_fingerprint", counted)
    return calls


def test_cold_run_fingerprints_come_from_the_publish_writes(
    spark, tiny_sequences, tmp_path, fp_calls
):
    """A cold run learns every published stage's content fingerprint from
    the write that publishes it: no read-back fingerprint scan, and each
    dependent stage's input fingerprint equals a scan of its parent."""
    from rtsa_spark.pipeline import content_fingerprint

    p = TierPipeline(spark, str(tmp_path / "cold"), **_FP_KW)
    n_jobs = _jobs_in_group(spark, "cold-run", lambda: p.run(tiny_sequences))
    assert fp_calls == []
    got = _success_rows(p)
    for stage, parent in _FP_PARENTS:
        want = content_fingerprint(p.read_stage(parent))
        assert got[stage][0] == want, (stage, parent)
        assert got[stage][1] == int(want.split(":")[0])
    # a full-table snapshot commit records the fingerprint of its write
    for stage in ("rollup_hourly", "encoded_hourly"):
        assert p.stage_store(stage).fingerprint() == content_fingerprint(
            p.read_stage(stage)
        )
    # pinned: a range exchange (one sampling job per clustered publish)
    # plus read-back fingerprint scans made this run launch 46 jobs
    assert n_jobs == 29, n_jobs


def test_resumed_run_fingerprints_equal_a_cold_run(
    spark, tiny_sequences, tmp_path, fp_calls
):
    """A crash after ``gapfilled_hourly`` and a resume give the ledger
    fingerprints of a cold run; only the stages the resume skipped and
    builds on (raw, hourly) scan their read-back."""
    cold = TierPipeline(spark, str(tmp_path / "cold"), **_FP_KW)
    cold.run(tiny_sequences)
    base = str(tmp_path / "resume")
    with pytest.raises(RuntimeError, match="injected failure"):
        TierPipeline(spark, base, **_FP_KW).run(
            tiny_sequences, fail_after="gapfilled_hourly"
        )
    del fp_calls[:]
    resumed = TierPipeline(spark, base, **_FP_KW)
    resumed.run(tiny_sequences)
    assert len(fp_calls) == 2
    assert _success_rows(resumed) == _success_rows(cold)


def test_publish_refuses_an_observed_count_its_footers_disagree_with(
    spark, tiny_sequences, tmp_path, monkeypatch
):
    import rtsa_spark.pipeline as pipeline

    monkeypatch.setattr(pipeline, "fingerprint_text", lambda row: "1:0")
    p = TierPipeline(
        spark, str(tmp_path / "bad"), tiers=["raw"], gapfill_tiers=(),
        metrics_tiers=(),
    )
    with pytest.raises(RuntimeError, match="parquet footers count"):
        p.run(tiny_sequences)
    assert p._ledger() == []
