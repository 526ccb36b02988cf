"""Publish layout: month-rebalanced sorted publish
(``write.distribution-mode=hash``) of tier files.

The pipeline's writes emulate Iceberg's ``write.distribution-mode=hash``
+ sort order (rtsa_spark/storage.py::cluster_for_publish): without it, a
month-partitioned write sprays every shuffle partition into every month
dir (shuffle_partitions x months files) and parquet row groups carry
useless (source, bucket_start) min/max stats. These tests pin both
effects at tiny scale: file counts bounded by partitions + months (not
their product), and every data file internally sorted so row-group
pruning stays tight at 100 TB.  Every engine write path also leaves
exactly one file per current month dir, which is why the engine has no
small-file compaction step.
"""

from __future__ import annotations

import os

import pyspark.sql.functions as F

from rtsa_spark.pipeline import TierPipeline


def _parquet_files(root):
    out = []
    for dirpath, _dirs, files in os.walk(root):
        out.extend(
            os.path.join(dirpath, f) for f in files if f.endswith(".parquet")
        )
    return out


def _assert_one_file_per_month(p, stages):
    """Every current month dir of every stage holds exactly one parquet
    file: the publish exchange gives each month one write task, so no
    engine write leaves a month fragmented."""
    for stage in stages:
        counts = {
            m: len(_parquet_files(d)) for m, d in p._month_dirs(stage).items()
        }
        assert counts and None not in counts, (stage, counts)
        assert set(counts.values()) == {1}, (stage, counts)


def _assert_sorted_files(files, keys):
    import pyarrow.parquet as pq

    assert files
    for path in files:
        t = pq.read_table(path, columns=keys).to_pandas()
        if len(t) < 2:
            continue
        ordered = t.sort_values(keys, kind="mergesort").reset_index(drop=True)
        assert t.reset_index(drop=True).equals(ordered), (
            f"rows not sorted by {keys} in {path}"
        )


def test_publish_is_clustered_and_sorted(spark, tiny_sequences, tmp_path):
    """run(): every tier data file is sorted by (source, bucket_start) and
    the file count is bounded by shuffle_partitions + months, not their
    product (the unclustered spray)."""
    base = str(tmp_path / "layout")
    p = TierPipeline(spark, base, gapfill_tiers=(), metrics_tiers=())
    p.run(tiny_sequences)

    n_shuffle = int(spark.conf.get("spark.sql.shuffle.partitions"))
    months = (
        tiny_sequences.select(
            F.date_format("ts", "yyyy-MM").alias("m")
        )
        .distinct()
        .count()
    )
    for tier in ("raw", "hourly", "daily"):
        files = _parquet_files(f"{base}/rollup_{tier}")
        assert len(files) <= n_shuffle + months, (
            tier,
            len(files),
            n_shuffle,
            months,
        )
        _assert_sorted_files(files, ["source", "bucket_start"])
    _assert_one_file_per_month(p, [f"rollup_{t}" for t in p.tiers])


def test_refresh_writes_clustered_partitions(spark, tiny_sequences, tmp_path):
    """refresh_months(): the rewritten month's files are also sorted (the
    dynamic-overwrite path must not regress to the unclustered layout)."""
    base = str(tmp_path / "layout_r")
    p = TierPipeline(spark, base, gapfill_tiers=(), metrics_tiers=())
    p.run(tiny_sequences)

    feb = F.date_format(F.col("ts"), "yyyy-MM") == "2024-02"
    corrected = tiny_sequences.withColumn(
        "n_tok", F.when(feb, F.col("n_tok") * 2).otherwise(F.col("n_tok"))
    )
    p.refresh_months(corrected, ["2024-02"])
    files = _parquet_files(f"{base}/rollup_hourly/p_month=2024-02")
    _assert_sorted_files(files, ["source", "bucket_start"])
    _assert_one_file_per_month(p, [f"rollup_{t}" for t in p.tiers])


def test_snapshot_publish_is_sorted(spark, tiny_sequences, tmp_path):
    """Snapshot-store versions carry the same sorted layout, and each
    current month stays one file through a refresh and the stage store's
    merge and delete_where."""
    from rtsa_spark.operators.rollup import merge_rollup

    base = str(tmp_path / "layout_s")
    p = TierPipeline(
        spark,
        base,
        gapfill_tiers=(),
        metrics_tiers=(),
        snapshot_tiers=("hourly",),
    )
    p.run(tiny_sequences)
    files = _parquet_files(f"{base}/rollup_hourly")
    _assert_sorted_files(files, ["source", "bucket_start"])
    stages = [f"rollup_{t}" for t in p.tiers]
    _assert_one_file_per_month(p, stages)

    feb = F.date_format(F.col("ts"), "yyyy-MM") == "2024-02"
    corrected = tiny_sequences.withColumn(
        "n_tok", F.when(feb, F.col("n_tok") * 2).otherwise(F.col("n_tok"))
    )
    assert "rollup_hourly" in p.refresh_months(corrected, ["2024-02"])
    _assert_one_file_per_month(p, stages)

    store = p.stage_store("rollup_hourly")
    head = store.current_snapshot()
    delta = p.read_stage("rollup_hourly").where(F.col("source") == "s002")
    store.merge(delta, combine=merge_rollup)
    assert store.delete_where(F.col("source") == "s001")
    assert store.current_snapshot() == head + 2
    _assert_one_file_per_month(p, ["rollup_hourly"])
    _assert_sorted_files(
        [
            f
            for d in p._month_dirs("rollup_hourly").values()
            for f in _parquet_files(d)
        ],
        ["source", "bucket_start"],
    )


def _scan_lines(df, marker):
    import contextlib
    import io

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return [ln for ln in buf.getvalue().splitlines() if marker in ln]


def test_read_stage_time_range_prunes_and_matches(
    spark, tiny_sequences, tmp_path
):
    """read_stage(start, end, sources): content equals the manually
    filtered full read (half-open [start, end)), the p_month range lands
    as a PARTITION filter (directory pruning), and the row predicates are
    pushed to the parquet scan (where the sorted layout makes row-group
    stats tight)."""
    base = str(tmp_path / "pruned")
    p = TierPipeline(spark, base, gapfill_tiers=(), metrics_tiers=())
    p.run(tiny_sequences)

    start, end = "2024-02-10T00:00:00", "2024-03-05T00:00:00"
    got = p.read_stage(
        "rollup_hourly", start=start, end=end, sources=["s001", "s003"]
    )
    full = p.read_stage("rollup_hourly")
    want = full.where(
        (F.col("bucket_start") >= start)
        & (F.col("bucket_start") < end)
        & F.col("source").isin("s001", "s003")
    )
    assert got.exceptAll(want).count() == 0
    assert want.exceptAll(got).count() == 0
    assert got.count() > 0

    # half-open: a bucket exactly at `end` is excluded, at `start` included
    assert (
        got.where(F.col("bucket_start") == F.lit(end).cast("timestamp")).count()
        == 0
    )

    part = _scan_lines(got, "PartitionFilters")
    assert part and "p_month" in part[0], part
    pushed = _scan_lines(got, "PushedFilters")
    assert pushed and "bucket_start" in pushed[0] and "source" in pushed[0], (
        pushed
    )


def test_read_stage_snapshot_manifest_prunes_months(
    spark, tiny_sequences, tmp_path
):
    """Snapshot-backed stage: the time range prunes the MANIFEST listing —
    only in-range month dirs are ever handed to the reader."""
    base = str(tmp_path / "pruned_s")
    p = TierPipeline(
        spark,
        base,
        gapfill_tiers=(),
        metrics_tiers=(),
        snapshot_tiers=("daily",),
    )
    p.run(tiny_sequences)

    got = p.read_stage(
        "rollup_daily", start="2024-02-01T00:00:00", end="2024-03-01T00:00:00"
    )
    months = {f.split("p_month=")[1].split("/")[0] for f in got.inputFiles()}
    assert months == {"2024-02"}
    want = p.read_stage("rollup_daily").where(
        F.date_format("bucket_start", "yyyy-MM") == "2024-02"
    )
    assert got.exceptAll(want).count() == 0
    assert want.exceptAll(got).count() == 0


def test_read_stage_rejects_time_args_on_timeless_stage(
    spark, tiny_sequences, tmp_path
):
    """metrics stages have no time column: start/end must refuse loudly,
    not silently return the unfiltered table."""
    import pytest

    base = str(tmp_path / "pruned_m")
    p = TierPipeline(
        spark, base, gapfill_tiers=(), metrics_tiers=("daily",)
    )
    p.run(tiny_sequences)
    with pytest.raises(ValueError, match="no time column"):
        p.read_stage("metrics_daily", start="2024-02-01T00:00:00")


def test_vacuum_removes_crash_orphans_only(spark, tiny_sequences, tmp_path):
    """vacuum(): orphan ._tmp_/._compact_/._old_ leftovers from dead runs
    are removed; live data, ledgers, and the CURRENT run's own in-flight
    dirs survive."""
    base = str(tmp_path / "vac")
    p = TierPipeline(spark, base, gapfill_tiers=(), metrics_tiers=())
    p.run(tiny_sequences)

    # fabricate crash debris from a "dead" run
    dead = [
        f"{base}/rollup_daily._tmp_deadbeef0000",
        f"{base}/rollup_hourly/p_month=2024-02._compact_deadbeef0000",
        f"{base}/rollup_hourly/p_month=2024-02._old_deadbeef0000",
    ]
    for d in dead:
        os.makedirs(d)
        open(os.path.join(d, "part-0.parquet"), "w").write("junk")
    live_own = f"{base}/rollup_daily._tmp_{p.run_id}"
    os.makedirs(live_own)

    before = spark.read.parquet(f"{base}/rollup_daily").count()
    removed = p.vacuum()
    assert sorted(removed) == sorted(dead)
    for d in dead:
        assert not os.path.exists(d)
    assert os.path.exists(live_own)  # current run's in-flight build kept
    os.rmdir(live_own)

    # tables and ledgers untouched
    assert spark.read.parquet(f"{base}/rollup_daily").count() == before
    assert os.path.exists(p._ledger_path)
    assert p.vacuum() == []


def test_vacuum_heals_interrupted_compaction_swap(
    spark, tiny_sequences, tmp_path
):
    """A crash inside the two-rename month swap of the in-place compaction
    that earlier releases ran leaves the month's ONLY copy under
    p_month=M._old_<dead-run>; vacuum must RESTORE it,
    never reap it (that would be silent month loss the fingerprint skip
    would then propagate forever)."""
    base = str(tmp_path / "heal")
    p = TierPipeline(spark, base, gapfill_tiers=(), metrics_tiers=())
    p.run(tiny_sequences)

    mdir = f"{base}/rollup_hourly/p_month=2024-02"
    before = spark.read.parquet(f"{base}/rollup_hourly").count()
    # simulate the crash window: live dir moved aside, replacement missing
    os.rename(mdir, mdir + "._old_deadbeef0000")
    removed = p.vacuum()
    # healed, not deleted: the live path is back and reads are whole again
    assert os.path.exists(mdir)
    assert not os.path.exists(mdir + "._old_deadbeef0000")
    assert mdir + "._old_deadbeef0000" not in removed
    assert spark.read.parquet(f"{base}/rollup_hourly").count() == before
    # an ._old_ whose live dir EXISTS is still ordinary debris
    os.makedirs(mdir + "._old_deadbeef0001")
    assert mdir + "._old_deadbeef0001" in p.vacuum()
