"""SnapshotStore: snapshot isolation, time travel, rollback, expiry.

The properties under test are the Iceberg ones the north rule's
"resumable from Iceberg snapshot checkpoints" implies: every commit is a
readable snapshot, a refresh never mutates what an older snapshot reads,
rollback is metadata-only, expiry deletes exactly the unreferenced
version dirs and makes expired ids unreadable LOUDLY.
"""
from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from rtsa_spark.operators.rollup import rollup_raw
from rtsa_spark.snapshot import SnapshotStore
from rtsa_spark.synth import synth_sequences


@pytest.fixture(scope="module")
def tier(spark):
    return rollup_raw(synth_sequences(spark, 4000, n_sources=4)).cache()


def _totals(df):
    return {
        (r["source"], r["m"]): (r["n"], r["s"])
        for r in df.groupBy(
            "source", F.date_format("bucket_start", "yyyy-MM").alias("m")
        )
        .agg(F.count(F.lit(1)).alias("n"), F.sum("n_tok_sum").alias("s"))
        .collect()
    }


def test_publish_read_roundtrip(spark, tier, tmp_path):
    st = SnapshotStore(spark, str(tmp_path / "st"))
    sid = st.publish(tier)
    assert sid == 1 and st.current_snapshot() == 1
    got = st.read()
    assert sorted(got.columns) == sorted(tier.columns)
    assert _totals(got) == _totals(tier)


def test_refresh_time_travel(spark, tier, tmp_path):
    st = SnapshotStore(spark, str(tmp_path / "st"))
    st.publish(tier)
    feb = F.date_format(F.col("bucket_start"), "yyyy-MM") == "2024-02"
    corrected = tier.withColumn(
        "n_tok_sum", F.when(feb, F.col("n_tok_sum") * 2).otherwise(F.col("n_tok_sum"))
    )
    sid2 = st.refresh_months(corrected.where(feb), ["2024-02"])
    assert sid2 == 2
    # current sees the correction, snapshot 1 still reads the original
    assert _totals(st.read()) == _totals(corrected)
    assert _totals(st.read(asof=1)) == _totals(tier)


def test_refresh_filters_out_of_scope_rows(spark, tier, tmp_path):
    """Rows outside the requested months must not leak into the commit."""
    st = SnapshotStore(spark, str(tmp_path / "st"))
    st.publish(tier)
    st.refresh_months(
        tier.withColumn("n_tok_sum", F.col("n_tok_sum") + 1), ["2024-02"]
    )
    want = _totals(
        tier.withColumn(
            "n_tok_sum",
            F.when(
                F.date_format("bucket_start", "yyyy-MM") == "2024-02",
                F.col("n_tok_sum") + 1,
            ).otherwise(F.col("n_tok_sum")),
        )
    )
    assert _totals(st.read()) == want


def test_refresh_deletes_emptied_month_but_history_survives(
    spark, tier, tmp_path
):
    st = SnapshotStore(spark, str(tmp_path / "st"))
    st.publish(tier)
    none_left = tier.where(F.lit(False))
    st.refresh_months(none_left, ["2024-02"])
    months_now = {
        r["m"]
        for r in st.read()
        .select(F.date_format("bucket_start", "yyyy-MM").alias("m"))
        .distinct()
        .collect()
    }
    assert "2024-02" not in months_now and months_now
    # time travel still sees the deleted month
    months_then = {
        r["m"]
        for r in st.read(asof=1)
        .select(F.date_format("bucket_start", "yyyy-MM").alias("m"))
        .distinct()
        .collect()
    }
    assert "2024-02" in months_then


def test_rollback_is_metadata_only(spark, tier, tmp_path):
    st = SnapshotStore(spark, str(tmp_path / "st"))
    st.publish(tier)
    st.refresh_months(
        tier.withColumn("n_tok_sum", F.col("n_tok_sum") * 3), ["2024-02"]
    )

    def n_version_dirs():
        data = os.path.join(str(tmp_path / "st"), "data")
        return sum(
            1
            for m in os.listdir(data)
            if m.startswith("p_month=")
            for v in os.listdir(os.path.join(data, m))
            if v.startswith("v=")
        )

    before = n_version_dirs()
    sid3 = st.rollback(1)
    assert sid3 == 3
    assert n_version_dirs() == before  # zero data movement
    assert _totals(st.read()) == _totals(tier)


def test_manifest_driven_read_lists_only_mapped_dirs(spark, tier, tmp_path):
    """The read must open EXACTLY the mapped version dirs — retained old
    versions (and orphans) cost nothing at read time."""
    st = SnapshotStore(spark, str(tmp_path / "st"))
    st.publish(tier)
    feb = F.date_format(F.col("bucket_start"), "yyyy-MM") == "2024-02"
    st.refresh_months(tier.where(feb), ["2024-02"])
    files = st.read().inputFiles()
    mapping = st._snapshot_row(st.current_snapshot())["months"]
    assert files
    for f in files:
        month = f.split("p_month=")[1].split("/")[0]
        ver = f.split("v=")[1].split("/")[0]
        assert mapping[month] == ver
    # each mapped month appears, no unmapped version dir is listed
    assert {f.split("p_month=")[1].split("/")[0] for f in files} == set(mapping)


def test_expire_deletes_unreferenced_and_orphans(spark, tier, tmp_path):
    st = SnapshotStore(spark, str(tmp_path / "st"))
    st.publish(tier)
    for k in (2, 3):
        st.refresh_months(
            tier.withColumn("n_tok_sum", F.col("n_tok_sum") + k), ["2024-02"]
        )
    # orphan: a crashed writer's version dir no snapshot references.
    # Backdate its mtime past the in-flight grace window — a FRESH
    # never-referenced dir must survive (it may be an uncommitted write)
    orphan = st.version_dir("2024-02", "deadbeef0000")
    os.makedirs(orphan)
    with open(os.path.join(orphan, "part-junk.parquet"), "wb") as f:
        f.write(b"x" * 128)
    fresh = st.version_dir("2024-02", "feedface0000")
    os.makedirs(fresh)
    import time as _time

    old = _time.time() - 7200
    os.utime(orphan, (old, old))

    res = st.expire(keep_last=2)
    assert os.path.exists(fresh)  # fresh unreferenced dir: grace-protected
    os.rmdir(fresh)
    assert res["expired_snapshots"] == [1]
    assert res["deleted_dirs"] >= 2  # snapshot 1's feb version + orphan
    assert res["freed_bytes"] > 0
    assert not os.path.exists(orphan)
    # retained snapshots still read correctly
    assert _totals(st.read(asof=2)) == _totals(
        tier.withColumn(
            "n_tok_sum",
            F.when(
                F.date_format("bucket_start", "yyyy-MM") == "2024-02",
                F.col("n_tok_sum") + 2,
            ).otherwise(F.col("n_tok_sum")),
        )
    )
    with pytest.raises(ValueError, match="expired"):
        st.read(asof=1)
    # idempotent: nothing further to drop
    assert st.expire(keep_last=2)["expired_snapshots"] == []


def test_expired_months_outside_refresh_survive(spark, tier, tmp_path):
    """Months never refreshed keep their single shared version across all
    retained snapshots — expire must not touch them."""
    st = SnapshotStore(spark, str(tmp_path / "st"))
    st.publish(tier)
    st.refresh_months(
        tier.withColumn("n_tok_sum", F.col("n_tok_sum") + 1), ["2024-02"]
    )
    st.expire(keep_last=1)
    got = st.read()
    assert _totals(got) == _totals(
        tier.withColumn(
            "n_tok_sum",
            F.when(
                F.date_format("bucket_start", "yyyy-MM") == "2024-02",
                F.col("n_tok_sum") + 1,
            ).otherwise(F.col("n_tok_sum")),
        )
    )


def test_guards(spark, tier, tmp_path):
    st = SnapshotStore(spark, str(tmp_path / "st"))
    with pytest.raises(ValueError, match="no snapshots"):
        st.read()
    with pytest.raises(ValueError, match="prior publish"):
        st.refresh_months(tier, ["2024-02"])
    st.publish(tier)
    with pytest.raises(ValueError, match="unknown snapshot"):
        st.read(asof=99)
    with pytest.raises(ValueError, match="partition columns"):
        st.publish(tier.withColumn("v", F.lit("x")))
    with pytest.raises(ValueError, match="schema mismatch"):
        st.publish(tier.withColumnRenamed("n_tok_sum", "tok_total"))
    with pytest.raises(ValueError, match="ts_col"):
        SnapshotStore(spark, str(tmp_path / "st2")).publish(
            tier.drop("bucket_start")
        )
    with pytest.raises(ValueError, match="keep_last"):
        st.expire(keep_last=0)


def test_rewrite_compacts_without_breaking_time_travel(spark, tmp_path):
    """rewrite(): a layout-only commit — content identical, all months on
    ONE fresh version, older snapshots still readable byte-for-byte, and
    expire() reclaims the fragmented versions afterwards."""
    import os

    import pyspark.sql.functions as F

    from rtsa_spark.snapshot import SnapshotStore
    from rtsa_spark.synth import synth_sequences

    seq = synth_sequences(spark, 2000, n_sources=3, seed=11)
    st = SnapshotStore(spark, str(tmp_path / "rw"), ts_col="ts")
    st.publish(seq)
    # fragment history: refresh one month twice (accretes versions)
    feb = seq.where(F.date_format("ts", "yyyy-MM") == "2024-02")
    st.refresh_months(feb.withColumn("n_tok", F.col("n_tok") + 1), ["2024-02"])
    st.refresh_months(feb, ["2024-02"])
    before = st.read().orderBy("doc_id").collect()
    pre_rewrite = st.current_snapshot()

    sid = st.rewrite()
    assert sid == pre_rewrite + 1
    assert st.read().orderBy("doc_id").collect() == before  # content same
    assert len(set(st.months().values())) == 1  # one version everywhere

    # time travel to the pre-rewrite snapshot still works
    assert st.read(asof=pre_rewrite).orderBy("doc_id").collect() == before

    # expire drops the fragmented versions' dirs
    acc = st.expire(keep_last=1)
    assert acc["deleted_dirs"] > 0 and acc["freed_bytes"] > 0
    assert st.read().orderBy("doc_id").collect() == before


def test_read_changes_changelog(spark, tier, tmp_path):
    """read_changes: incremental consumption between two snapshots —
    updates appear as DELETE(old)+INSERT(new), added months as INSERTs,
    deleted months as DELETEs, unchanged months never scanned, a
    layout-only rewrite yields an EMPTY changelog, and applying the
    changelog to the old snapshot reproduces the new one exactly."""
    st = SnapshotStore(spark, str(tmp_path / "cl"))
    jan = tier.where(F.date_format("bucket_start", "yyyy-MM") == "2024-01")
    feb = tier.where(F.date_format("bucket_start", "yyyy-MM") == "2024-02")
    s1 = st.publish(jan.unionByName(feb))

    # update feb (+1 token everywhere), delete jan, add mar
    feb2 = feb.withColumn("n_tok_sum", F.col("n_tok_sum") + 1)
    mar = tier.where(F.date_format("bucket_start", "yyyy-MM") == "2024-03")
    s2 = st.refresh_months(
        feb2.unionByName(mar), ["2024-01", "2024-02", "2024-03"]
    )

    # pruning: only the changed months' version dirs are listed (probe
    # before cache() — the cache manager hides the scan leaves from
    # inputFiles on any plan-identical frame afterwards)
    scanned = {
        f.split("p_month=")[1].split("/")[0]
        for f in st.read_changes(s1, s2).inputFiles()
    }
    assert scanned == {"2024-01", "2024-02", "2024-03"}

    ch = st.read_changes(s1, s2).cache()
    n_feb, n_jan, n_mar = feb.count(), jan.count(), mar.count()
    assert ch.where("_change_type = 'INSERT'").count() == n_feb + n_mar
    assert ch.where("_change_type = 'DELETE'").count() == n_feb + n_jan

    # applying the changelog to the s1 read reproduces the s2 read
    cols = [c for c in ch.columns if c != "_change_type"]
    applied = (
        st.read(asof=s1)
        .select(cols)
        .exceptAll(ch.where("_change_type = 'DELETE'").select(cols))
        .unionByName(ch.where("_change_type = 'INSERT'").select(cols))
    )
    assert applied.exceptAll(st.read(asof=s2)).count() == 0
    assert st.read(asof=s2).exceptAll(applied).count() == 0

    # layout-only rewrite -> empty changelog
    s3 = st.rewrite()
    assert st.read_changes(s2, s3).count() == 0
    # since == until -> empty with the changelog schema
    empty = st.read_changes(s2, s2)
    assert empty.count() == 0 and "_change_type" in empty.columns

    with pytest.raises(ValueError, match="forward"):
        st.read_changes(s3, s2)
    st.expire(keep_last=1)
    with pytest.raises(ValueError, match="expired"):
        st.read_changes(s1)


def test_tags_pin_history_and_resolve_reads(spark, tier, tmp_path):
    """Tags: read/rollback/changelog accept the name; a tagged snapshot
    (and its version dirs) survives expire(keep_last=1) until dropped;
    after drop_tag the next expire reaps it; guards are loud."""
    st = SnapshotStore(spark, str(tmp_path / "tg"))
    st.publish(tier)
    assert st.tag("v1.0") == 1
    st.refresh_months(
        tier.withColumn("n_tok_sum", F.col("n_tok_sum") + 1), ["2024-02"]
    )
    st.refresh_months(
        tier.withColumn("n_tok_sum", F.col("n_tok_sum") + 2), ["2024-02"]
    )

    # name resolves everywhere an id does
    assert _totals(st.read(asof="v1.0")) == _totals(tier)
    assert st.months(asof="v1.0") == st.months(asof=1)
    assert st.read_changes("v1.0", 2).count() > 0

    # expire keeps the tagged snapshot alive past keep_last
    acc = st.expire(keep_last=1)
    assert 1 not in acc["expired_snapshots"]
    assert 2 in acc["expired_snapshots"]
    assert _totals(st.read(asof="v1.0")) == _totals(tier)

    # rollback by tag is metadata-only and restores the tagged content
    st.rollback("v1.0")
    assert _totals(st.read()) == _totals(tier)

    # drop releases the pin; the next expire reaps snapshot 1's dirs
    st.drop_tag("v1.0")
    acc2 = st.expire(keep_last=1)
    assert 1 in acc2["expired_snapshots"]
    with pytest.raises(ValueError, match="expired"):
        st.read(asof=1)
    with pytest.raises(ValueError, match="unknown tag"):
        st.read(asof="v1.0")

    # guards
    st.tag("prod")
    with pytest.raises(ValueError, match="already exists"):
        st.tag("prod")
    with pytest.raises(ValueError, match="unknown tag"):
        st.drop_tag("nope")
    with pytest.raises(ValueError, match="non-empty string"):
        st.tag("")
    with pytest.raises(ValueError, match="expired"):
        st.tag("old", snapshot_id=1)


def test_schema_evolution_add_column(spark, tier, tmp_path):
    st = SnapshotStore(spark, str(tmp_path / "st"))
    st.publish(tier)
    evolved = tier.withColumn(
        "quality", (F.col("n_tok_sum") % F.lit(7)).cast("int")
    )
    feb = F.date_format(F.col("bucket_start"), "yyyy-MM") == "2024-02"
    sid2 = st.refresh_months(evolved.where(feb), ["2024-02"])

    # current schema gained the column; snapshot 1 keeps the old schema
    assert "quality" in st.read().columns
    assert "quality" not in st.read(asof=1).columns
    assert [f.name for f in st.schema().fields][-1] == "quality"
    assert "quality" not in [f.name for f in st.schema(asof=1).fields]

    # old-version months null-fill; refreshed month carries real values
    cur = st.read()
    jan = cur.where(F.date_format("bucket_start", "yyyy-MM") != "2024-02")
    febd = cur.where(F.date_format("bucket_start", "yyyy-MM") == "2024-02")
    assert jan.where(F.col("quality").isNotNull()).count() == 0
    assert febd.where(F.col("quality").isNull()).count() == 0
    assert febd.count() > 0

    # totals on the shared columns are untouched by evolution
    assert _totals(cur) == _totals(tier)

    # changelog reads under the until-schema: both sides carry `quality`
    ch = st.read_changes(1, sid2)
    assert "quality" in ch.columns
    assert ch.where(F.col("_change_type") == "INSERT").count() > 0

    # rollback keeps the evolved schema over the old mapping (Iceberg)
    st.rollback(1)
    rb = st.read()
    assert "quality" in rb.columns
    assert rb.where(F.col("quality").isNotNull()).count() == 0


def test_schema_evolution_guards(spark, tier, tmp_path):
    st = SnapshotStore(spark, str(tmp_path / "st"))
    st.publish(tier)
    # rename / drop / type change / reorder all refuse
    with pytest.raises(ValueError, match="additive"):
        st.publish(tier.withColumnRenamed("n_tok_sum", "tok_sum"))
    with pytest.raises(ValueError, match="additive"):
        st.publish(tier.drop("n_tok_max"))
    with pytest.raises(ValueError, match="additive"):
        st.publish(
            tier.withColumn("n_tok_sum", F.col("n_tok_sum").cast("double"))
        )
    with pytest.raises(ValueError, match="additive"):
        st.publish(tier.select(list(reversed(tier.columns))))
    # a mid-schema insert is not additive either
    cols = tier.columns
    with pytest.raises(ValueError, match="additive"):
        st.publish(
            tier.withColumn("early", F.lit(1)).select(
                cols[:1] + ["early"] + cols[1:]
            )
        )
    # writers on the old schema refuse once the table has evolved
    st.publish(tier.withColumn("quality", F.lit(1)))
    with pytest.raises(ValueError, match="additive"):
        st.publish(tier)


def test_schema_evolution_rewrite_materializes_nulls(spark, tier, tmp_path):
    st = SnapshotStore(spark, str(tmp_path / "st"))
    st.publish(tier)
    st.publish(tier.withColumn("quality", F.lit(2)))
    st.rollback(1)  # old mapping, evolved schema
    sid = st.rewrite()
    got = st.read(asof=sid)
    assert "quality" in got.columns
    assert got.where(F.col("quality").isNotNull()).count() == 0
    assert _totals(got) == _totals(tier)


def test_branch_write_audit_publish(spark, tier, tmp_path):
    st = SnapshotStore(spark, str(tmp_path / "st"))
    st.publish(tier)
    base = st.branch("audit")
    assert base == 1 and st.branches() == {"audit": 1}

    corrected = tier.withColumn("n_tok_sum", F.col("n_tok_sum") * 2)
    sid = st.publish(corrected, branch="audit")
    # branch head advanced; main is untouched until fast-forward
    assert st.current_snapshot() == 1
    assert st.current_snapshot("audit") == sid
    assert _totals(st.read()) == _totals(tier)
    assert _totals(st.read(asof="audit")) == _totals(corrected)

    ff = st.fast_forward("audit")
    assert st.current_snapshot() == ff
    assert _totals(st.read()) == _totals(corrected)

    st.drop_branch("audit")
    refs = {(r["name"], r["type"], r["snapshot_id"])
            for r in st.refs().collect()}
    assert refs == {("main", "branch", ff)}
    with pytest.raises(ValueError, match="unknown tag or branch"):
        st.read(asof="audit")


def test_branch_guards_and_divergence(spark, tier, tmp_path):
    st = SnapshotStore(spark, str(tmp_path / "st"))
    st.publish(tier)
    st.branch("wip")
    st.publish(tier.withColumn("n_tok_sum", F.col("n_tok_sum") + 1),
               branch="wip")
    # main advances underneath -> the histories diverged, ff refuses
    st.refresh_months(
        tier.withColumn("n_tok_sum", F.col("n_tok_sum") + 5), ["2024-02"]
    )
    with pytest.raises(ValueError, match="not a fast-forward"):
        st.fast_forward("wip")
    # an empty branch has nothing to publish
    st.branch("empty")
    with pytest.raises(ValueError, match="no commits"):
        st.fast_forward("empty")
    # ref names share one namespace; main is reserved
    st.tag("rel")
    with pytest.raises(ValueError, match="already exists"):
        st.branch("rel")
    with pytest.raises(ValueError, match="already exists"):
        st.branch("wip")
    with pytest.raises(ValueError, match="already exists"):
        st.branch("main")
    with pytest.raises(ValueError, match="already exists"):
        st.tag("wip")
    with pytest.raises(ValueError, match="unknown branch"):
        st.publish(tier, branch="nope")
    with pytest.raises(ValueError, match="unknown branch"):
        st.drop_branch("nope")
    with pytest.raises(ValueError, match="unknown branch"):
        st.fast_forward("nope")
    with pytest.raises(ValueError, match="unknown branch"):
        st.current_snapshot("nope")


def test_branch_pins_chain_against_expiry(spark, tier, tmp_path):
    st = SnapshotStore(spark, str(tmp_path / "st"))
    st.publish(tier)  # 1
    st.branch("stage")
    # branch refresh shares the base's version dirs for untouched months
    st.refresh_months(
        tier.withColumn("n_tok_sum", F.col("n_tok_sum") * 3),
        ["2024-02"], branch="stage",
    )  # 2
    st.publish(tier.withColumn("n_tok_sum", F.col("n_tok_sum") + 7))  # 3
    st.publish(tier.withColumn("n_tok_sum", F.col("n_tok_sum") + 9))  # 4

    stage_before = _totals(st.read(asof="stage"))
    acc = st.expire(keep_last=1)
    # main history outside the window goes; the live branch chain stays
    assert 3 in acc["expired_snapshots"]
    assert 2 not in acc["expired_snapshots"]
    assert 1 in acc["expired_snapshots"]
    # the branch still reads exactly, including months inherited from the
    # expired base (their version dirs are pinned via the branch's row)
    assert _totals(st.read(asof="stage")) == stage_before
    with pytest.raises(ValueError, match="expired"):
        st.read(asof=1)

    # dropping the branch releases the chain for the next expire
    st.drop_branch("stage")
    acc2 = st.expire(keep_last=1)
    assert 2 in acc2["expired_snapshots"]
    assert acc2["deleted_dirs"] > 0


def test_files_metadata_view(spark, tier, tmp_path):
    st = SnapshotStore(spark, str(tmp_path / "st"))
    st.publish(tier)
    f = st.files().collect()
    months = st.months()
    assert {r["p_month"] for r in f} == set(months)
    assert all(r["version"] == months[r["p_month"]] for r in f)
    assert all(r["bytes"] > 0 and r["file"].endswith(".parquet") for r in f)
    # the view is per-snapshot: a refresh changes only that month's rows
    st.refresh_months(tier, ["2024-02"])
    f2 = {(r["p_month"], r["version"]) for r in st.files().collect()}
    f1 = {(r["p_month"], r["version"]) for r in st.files(asof=1).collect()}
    assert (f2 - f1) and all(m == "2024-02" for m, _ in (f2 - f1))
    assert {m for m, _ in f1 - f2} == {"2024-02"}


def test_merge_upsert_by_key(spark, tier, tmp_path):
    st = SnapshotStore(spark, str(tmp_path / "st"))
    st.publish(tier)
    feb = F.date_format("bucket_start", "yyyy-MM") == "2024-02"
    # delta: corrected February rows for one source + brand-new rows for a
    # source the table has never seen (same months)
    corrected = tier.where(feb & (F.col("source") == "s000")).withColumn(
        "n_tok_sum", F.col("n_tok_sum") * 10
    )
    fresh = tier.where(feb & (F.col("source") == "s001")).withColumn(
        "source", F.lit("s_new")
    )
    sid = st.merge(
        corrected.unionByName(fresh), keys=["source", "bucket_start"]
    )

    got = _totals(st.read())
    want = _totals(
        tier.withColumn(
            "n_tok_sum",
            F.when(
                feb & (F.col("source") == "s000"), F.col("n_tok_sum") * 10
            ).otherwise(F.col("n_tok_sum")),
        ).unionByName(fresh)
    )
    assert got == want
    # months outside the delta kept their version dirs (pruned commit)
    before, after = st.months(asof=1), st.months(asof=sid)
    assert {m for m in before if before[m] != after.get(m)} == {"2024-02"}
    # history intact
    assert _totals(st.read(asof=1)) == _totals(tier)


def test_merge_combine_fold(spark, tier, tmp_path):
    from rtsa_spark.operators.rollup import merge_rollup

    st = SnapshotStore(spark, str(tmp_path / "st"))
    st.publish(tier)
    feb = F.date_format("bucket_start", "yyyy-MM") == "2024-02"
    delta = tier.where(feb)  # same buckets again -> counts/sums double
    st.merge(delta, combine=merge_rollup)
    want = _totals(
        tier.withColumn(
            "n_seq", F.when(feb, F.col("n_seq") * 2).otherwise(F.col("n_seq"))
        ).withColumn(
            "n_tok_sum",
            F.when(feb, F.col("n_tok_sum") * 2).otherwise(F.col("n_tok_sum")),
        )
    )
    assert _totals(st.read()) == want


def test_delete_where_row_level(spark, tier, tmp_path):
    st = SnapshotStore(spark, str(tmp_path / "st"))
    st.publish(tier)
    feb = F.date_format("bucket_start", "yyyy-MM") == "2024-02"
    cond = feb & (F.col("source") == "s001")
    sid = st.delete_where(cond)
    assert sid is not None
    # exactness: rows matching the predicate are gone, everything else
    # survives bit-for-bit; history intact
    assert _totals(st.read()) == _totals(tier.where(~cond))
    assert _totals(st.read(asof=1)) == _totals(tier)
    # minimality: only the month containing matches changed versions
    before, after = st.months(asof=1), st.months(asof=sid)
    assert {m for m in before if before[m] != after.get(m)} == {"2024-02"}
    # no-match delete commits nothing (no empty commits)
    head = st.current_snapshot()
    assert st.delete_where(F.col("source") == "nope") is None
    assert st.current_snapshot() == head
    # NULL predicate rows are KEPT (SQL DELETE semantics: only TRUE
    # deletes) — a null-yielding comparison must not wipe the table
    null_cond = F.lit(None).cast("boolean") | (
        feb & (F.col("source") == "s002")
    )
    st.delete_where(null_cond)
    assert _totals(st.read()) == _totals(
        tier.where(~cond).where(
            ~F.coalesce(feb & (F.col("source") == "s002"), F.lit(False))
        )
    )
    # deleting every row of a month removes the month from the mapping
    jan = F.date_format("bucket_start", "yyyy-MM") == "2024-01"
    sid3 = st.delete_where(jan)
    assert "2024-01" not in st.months(asof=sid3)
    # guard: empty store
    empty = SnapshotStore(spark, str(tmp_path / "empty"))
    with pytest.raises(ValueError, match="prior publish"):
        empty.delete_where(feb)


def test_merge_upsert_with_additive_schema_evolution(spark, tier, tmp_path):
    st = SnapshotStore(spark, str(tmp_path / "st"))
    st.publish(tier)
    feb = F.date_format("bucket_start", "yyyy-MM") == "2024-02"
    # delta carries an APPENDED column: surviving head rows null-fill it,
    # the table schema evolves at the commit
    delta = tier.where(feb & (F.col("source") == "s000")).withColumn(
        "quality", F.lit(7).cast("int")
    )
    st.merge(delta, keys=["source", "bucket_start"])
    got = st.read()
    assert got.schema["quality"].dataType.simpleString() == "int"
    assert (
        got.where(F.col("quality").isNotNull()).count() == delta.count()
    )
    assert _totals(got) == _totals(tier)  # values untouched by the column
    # a delta MISSING current columns is refused (no silent null updates)
    with pytest.raises(ValueError, match="lacks table columns"):
        st.merge(
            tier.where(feb).drop("n_tok_sum"),
            keys=["source", "bucket_start"],
        )


def test_merge_guards_and_branch(spark, tier, tmp_path):
    from rtsa_spark.operators.rollup import merge_rollup

    st = SnapshotStore(spark, str(tmp_path / "st"))
    st.publish(tier)
    with pytest.raises(ValueError, match="exactly one"):
        st.merge(tier)
    with pytest.raises(ValueError, match="exactly one"):
        st.merge(tier, keys=["source"], combine=merge_rollup)
    with pytest.raises(ValueError, match="empty delta"):
        st.merge(tier.where(F.lit(False)), keys=["source", "bucket_start"])
    with pytest.raises(ValueError, match="merge key columns"):
        st.merge(tier, keys=["nope"])
    # merging onto a branch leaves main untouched until fast-forward
    st.branch("stage")
    st.merge(
        tier.withColumn("n_tok_sum", F.col("n_tok_sum") + 1),
        keys=["source", "bucket_start"], branch="stage",
    )
    assert _totals(st.read()) == _totals(tier)
    assert _totals(st.read(asof="stage")) == _totals(
        tier.withColumn("n_tok_sum", F.col("n_tok_sum") + 1)
    )


def _second_handle(spark, path):
    return SnapshotStore(spark, path)


def test_concurrent_disjoint_refreshes_both_land(spark, tier, tmp_path):
    """Optimistic commits: writer A's untouched months resolve against
    the head AT COMMIT TIME, so a commit B lands mid-flight is kept, not
    clobbered (the lost-update hazard of resolve-at-read)."""
    from rtsa_spark.snapshot import SnapshotStore as _SS

    path = str(tmp_path / "st")
    st_a = _SS(spark, path)
    st_a.publish(tier)
    st_b = _SS(spark, path)
    m1, m2 = sorted(st_a.months())[:2]

    plus = lambda k: tier.withColumn("n_tok_sum", F.col("n_tok_sum") + k)
    orig = st_a._write_version

    def hooked(df):  # B commits while A's write is done but uncommitted
        out = orig(df)
        st_a._write_version = orig
        st_b.refresh_months(plus(100), [m2])
        return out

    st_a._write_version = hooked
    st_a.refresh_months(plus(1), [m1])

    month = F.date_format("bucket_start", "yyyy-MM")
    want = _totals(
        tier.withColumn(
            "n_tok_sum",
            F.when(month == m1, F.col("n_tok_sum") + 1)
            .when(month == m2, F.col("n_tok_sum") + 100)
            .otherwise(F.col("n_tok_sum")),
        )
    )
    assert _totals(st_a.read()) == want


def test_merge_conflict_raises_not_stale_fold(spark, tier, tmp_path):
    """Merge is read-modify-write: a competing commit to a month it read
    must raise CommitConflict, never silently fold over stale data."""
    from rtsa_spark.snapshot import CommitConflict, SnapshotStore as _SS

    path = str(tmp_path / "st")
    st_a = _SS(spark, path)
    st_a.publish(tier)
    st_b = _SS(spark, path)
    m = sorted(st_a.months())[0]
    month = F.date_format("bucket_start", "yyyy-MM")

    orig = st_a._write_version

    def hooked(df):
        out = orig(df)
        st_a._write_version = orig
        st_b.refresh_months(
            tier.withColumn("n_tok_sum", F.col("n_tok_sum") + 100), [m]
        )
        return out

    st_a._write_version = hooked
    with pytest.raises(CommitConflict, match="changed since"):
        st_a.merge(
            tier.where(month == m).withColumn(
                "n_tok_sum", F.col("n_tok_sum") * 2
            ),
            keys=["source", "bucket_start"],
        )
    # B's commit is the surviving head; the retry path then succeeds
    want_b = _totals(
        tier.withColumn(
            "n_tok_sum",
            F.when(month == m, F.col("n_tok_sum") + 100)
            .otherwise(F.col("n_tok_sum")),
        )
    )
    assert _totals(st_a.read()) == want_b
    st_a.merge(
        st_a.read().where(month == m).withColumn(
            "n_tok_sum", F.col("n_tok_sum") * 2
        ),
        keys=["source", "bucket_start"],
    )
    want_retry = _totals(
        tier.withColumn(
            "n_tok_sum",
            F.when(month == m, (F.col("n_tok_sum") + 100) * 2)
            .otherwise(F.col("n_tok_sum")),
        )
    )
    assert _totals(st_a.read()) == want_retry


def test_rewrite_conflict_raises(spark, tier, tmp_path):
    from rtsa_spark.snapshot import CommitConflict, SnapshotStore as _SS

    path = str(tmp_path / "st")
    st_a = _SS(spark, path)
    st_a.publish(tier)
    st_b = _SS(spark, path)
    m = sorted(st_a.months())[0]

    orig = st_a._write_version

    def hooked(df):
        out = orig(df)
        st_a._write_version = orig
        st_b.refresh_months(
            tier.withColumn("n_tok_sum", F.col("n_tok_sum") + 1), [m]
        )
        return out

    st_a._write_version = hooked
    with pytest.raises(CommitConflict, match="changed while rewriting"):
        st_a.rewrite()
    # the stale copy never became a snapshot; expire reaps its orphan
    # dirs once past the in-flight grace (forced here with grace 0)
    assert st_a.expire(keep_last=2, orphan_grace_s=0)["deleted_dirs"] > 0


def test_timestamp_as_of(spark, tier, tmp_path):
    import time as _time

    st = SnapshotStore(spark, str(tmp_path / "st"))
    t0 = _time.time()
    st.publish(tier)
    _time.sleep(0.05)
    t1 = _time.time()
    _time.sleep(0.05)
    st.refresh_months(
        tier.withColumn("n_tok_sum", F.col("n_tok_sum") + 1), ["2024-02"]
    )
    assert st.snapshot_as_of_ts(t1) == 1
    assert st.snapshot_as_of_ts(_time.time()) == 2
    assert _totals(st.read(asof_ts=t1)) == _totals(tier)
    with pytest.raises(ValueError, match="no snapshot"):
        st.snapshot_as_of_ts(t0)
    with pytest.raises(ValueError, match="at most one"):
        st.read(asof=1, asof_ts=t1)
    # expired targets resolve loudly
    st.refresh_months(tier, ["2024-02"])
    st.expire(keep_last=1)
    with pytest.raises(ValueError, match="expired"):
        st.read(asof_ts=t1)


def test_expire_older_than_age_policy(spark, tier, tmp_path):
    import time as _time

    st = SnapshotStore(spark, str(tmp_path / "st"))
    st.publish(tier)                                            # 1
    st.refresh_months(
        tier.withColumn("n_tok_sum", F.col("n_tok_sum") + 1), ["2024-02"]
    )                                                           # 2
    _time.sleep(0.05)
    cutoff = _time.time()
    _time.sleep(0.05)
    st.refresh_months(
        tier.withColumn("n_tok_sum", F.col("n_tok_sum") + 2), ["2024-02"]
    )                                                           # 3
    st.refresh_months(
        tier.withColumn("n_tok_sum", F.col("n_tok_sum") + 3), ["2024-02"]
    )                                                           # 4
    # keep_last=1 alone would drop 2 and 3; the age policy keeps 3
    acc = st.expire(keep_last=1, older_than=cutoff)
    assert acc["expired_snapshots"] == [1, 2]
    assert _totals(st.read(asof=3)) is not None
    with pytest.raises(ValueError, match="expired"):
        st.read(asof=2)


def test_empty_branch_base_survives_expiry(spark, tier, tmp_path):
    """A freshly-cut branch with no commits heads at its base (a main
    commit); expire must pin that base or the ref would dangle."""
    st = SnapshotStore(spark, str(tmp_path / "st"))
    st.publish(tier)                                            # 1
    st.branch("fresh")                                          # head = 1
    st.publish(tier.withColumn("n_tok_sum", F.col("n_tok_sum") + 1))  # 2
    st.publish(tier.withColumn("n_tok_sum", F.col("n_tok_sum") + 2))  # 3
    acc = st.expire(keep_last=1)
    assert 1 not in acc["expired_snapshots"]
    assert _totals(st.read(asof="fresh")) == _totals(tier)
    st.drop_branch("fresh")
    assert 1 in st.expire(keep_last=1)["expired_snapshots"]


def test_hardening_guards(spark, tier, tmp_path):
    """Round-4 review batch: reserved commit fields, null ts_col rows,
    duplicate merge keys all refuse loudly."""
    st = SnapshotStore(spark, str(tmp_path / "st"))
    st.publish(tier)
    with pytest.raises(ValueError, match="reserved commit fields"):
        st.publish(tier, extra={"op": "ingest"})
    with pytest.raises(ValueError, match="null 'bucket_start'"):
        st.publish(
            tier.withColumn(
                "bucket_start",
                F.when(F.lit(False), F.col("bucket_start")),
            )
        )
    dup = tier.limit(1).unionByName(tier.limit(1))
    with pytest.raises(ValueError, match="multiple rows for one merge key"):
        st.merge(dup, keys=["source", "bucket_start"])
    with pytest.raises(ValueError, match="null 'bucket_start'"):
        st.merge(
            tier.limit(5).withColumn(
                "bucket_start", F.when(F.lit(False), F.col("bucket_start"))
            ),
            keys=["source", "bucket_start"],
        )


def test_model_based_random_walk(spark, tier, tmp_path):
    """Seeded random walk over the commit verbs vs a pure-Python model of
    per-(source, month) totals: after every op the live read, and a
    random historical as-of read, must match the model exactly."""
    import random

    from rtsa_spark.operators.rollup import merge_rollup

    rng = random.Random(20260819)
    st = SnapshotStore(spark, str(tmp_path / "st"))

    base = _totals(tier)  # {(source, month): (n, tok)}
    all_months = sorted({m for _, m in base})
    all_sources = sorted({s for s, _ in base})

    def model_apply(model, months, k):
        """Model a refresh of `months` from tier shifted by +k tokens."""
        out = dict(model)
        for (s, m), (n, t) in base.items():
            if m in months:
                out[(s, m)] = (n, t + k * n)
        return out

    st.publish(tier)
    model = dict(base)
    history = {1: dict(model)}

    for step in range(18):
        op = rng.choice(
            ["refresh", "merge_combine", "rollback", "delete", "noop_read"]
        )
        if op == "refresh":
            m = rng.choice(all_months)
            k = rng.randint(1, 9)
            sid = st.refresh_months(
                tier.withColumn("n_tok_sum", F.col("n_tok_sum") + k), [m]
            )
            model = model_apply(model, {m}, k)
            history[sid] = dict(model)
        elif op == "merge_combine":
            m = rng.choice(all_months)
            feb = F.date_format("bucket_start", "yyyy-MM") == m
            sid = st.merge(tier.where(feb), combine=merge_rollup)
            # the fold MERGES overlapping buckets: row count unchanged,
            # tokens gain the replayed base month's sums
            model = {
                (s, mm): ((n, t + base[(s, mm)][1]) if mm == m else (n, t))
                for (s, mm), (n, t) in model.items()
            }
            history[sid] = dict(model)
        elif op == "rollback":
            target = rng.choice(sorted(history))
            sid = st.rollback(target)
            model = dict(history[target])
            history[sid] = dict(model)
        elif op == "delete":
            m = rng.choice(all_months)
            s = rng.choice(all_sources)
            sid = st.delete_where(
                (F.date_format("bucket_start", "yyyy-MM") == m)
                & (F.col("source") == s)
            )
            if sid is not None:
                model = {k: v for k, v in model.items() if k != (s, m)}
                history[sid] = dict(model)
            else:  # nothing matched: no commit, model unchanged
                assert (s, m) not in model, f"step {step} delete missed"
        # live read matches the model after every op
        assert _totals(st.read()) == model, f"step {step} op {op}"
        # a random retained snapshot still reads its recorded state
        probe = rng.choice(sorted(history))
        assert _totals(st.read(asof=probe)) == history[probe], (
            f"step {step} asof {probe}"
        )


def test_numeric_looking_version_id_reads_back(spark, tier, tmp_path, monkeypatch):
    """A version id like ``63e465427428`` parses as a decimal with a huge
    exponent; left to partition-type inference, the read spun the driver
    in ``BigDecimal`` for as long as the process ran. The store declares
    its partition columns as strings, so the read is quick."""
    import threading
    import types
    import uuid

    ids = iter(["63e465427428", "12e345678901"])
    monkeypatch.setattr(
        uuid, "uuid4", lambda: types.SimpleNamespace(hex=next(ids) + "0" * 20)
    )
    st = SnapshotStore(spark, str(tmp_path / "st"))
    st.publish(tier)
    feb = F.date_format(F.col("bucket_start"), "yyyy-MM") == "2024-02"
    st.refresh_months(tier.where(feb), ["2024-02"])
    monkeypatch.undo()
    assert set(st.months().values()) == {"63e465427428", "12e345678901"}
    got = {}

    def read():
        got["current"] = _totals(st.read())
        got["changes"] = st.read_changes(1).count()

    # bounded in a thread, so a regression fails here instead of hanging
    # the session
    t = threading.Thread(target=read, daemon=True)
    t.start()
    t.join(timeout=60)
    assert not t.is_alive(), "snapshot read hung on a numeric-looking version id"
    assert got == {"current": _totals(tier), "changes": 0}
