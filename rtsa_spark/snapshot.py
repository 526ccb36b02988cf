"""Snapshot store: Iceberg-style versioned month partitions + time travel.

``TierPipeline`` publishes atomically and refreshes partition-scoped, but
its overwrites are DESTRUCTIVE: once a late-data refresh swaps a
``p_month`` dir, the month's previous contents are gone and no read can
reproduce what a consumer saw before the correction.  The north rule's
"resumable from Iceberg snapshot checkpoints" needs the other half of the
Iceberg model too — snapshot isolation: every commit yields a snapshot id,
any retained snapshot is readable AS OF, rollback is a metadata-only
commit, and old versions die only when explicitly expired.

``SnapshotStore`` is that half, as the sandbox parquet emulation
(SURVEY.md §7 "Iceberg in sandbox" — real Iceberg is a config flip):

- layout ``<base>/data/p_month=YYYY-MM/v=<version>/part-*.parquet``:
  every commit writes NEW ``v=`` dirs in ``append`` mode and never touches
  an existing file, so concurrent readers of older snapshots are never
  torn (the Iceberg write path: new data files + manifest swap);
- ``<base>/snapshots.jsonl`` is the catalog: one row per commit holding
  the COMPLETE month->version mapping of that snapshot (months absent =
  deleted).  A crash between data write and log append leaves an orphan
  ``v=`` dir that no snapshot references — invisible to every read and
  reaped by :meth:`expire`;
- reads resolve the mapping and list EXACTLY the mapped version dirs
  (manifest-driven file listing, O(selected partitions) — never a
  recursive scan over all versions), so a store carrying 50 retained
  snapshots reads at the same cost as one;
- :meth:`rollback` re-commits an older snapshot's mapping under a new id
  (Iceberg ``rollback_to_snapshot``): pure metadata, zero data movement;
- :meth:`tag` / :meth:`branch` are the Iceberg refs model: tags pin a
  snapshot immutably, branches are mutable heads that commits can target
  (``publish(df, branch="audit")``) for write-audit-publish staging,
  landed on main via :meth:`fast_forward`;
- :meth:`expire` retains the last N snapshots, deletes every version dir
  none of them references, and marks the dropped ids so a later
  ``read(asof=expired)`` fails loudly instead of resurrecting a partial
  table from whatever files happen to survive.

Scale shape (100 TB): commits append O(new files); the log row is
O(months) — thousands of entries at a decade of months, trivially
driver-side; reads open O(selected months) dirs; expiry is pure file
deletion.  Concurrency is the Iceberg optimistic-commit model in
miniature: data writes hold no lock; the metadata step serializes under
a commit lock, re-reads the true head, and re-resolves the mapping
there — disjoint-month writers both land, and read-modify-write ops
(:meth:`merge`, :meth:`rewrite`) raise :class:`CommitConflict` instead
of folding over stale data (production seam: the same protocol against
an Iceberg catalog's atomic swap, reads via ``VERSION AS OF``, expiry
via ``expire_snapshots``).

The reference has no analog — it recomputes every result stack from
scratch per call (``/root/reference/R/rtsa.stl.R:441-489``); checkpointed
history is this engine's own surface.
"""

from __future__ import annotations

import fcntl
import json
import os
import shutil
import time
import uuid
from contextlib import contextmanager

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StringType, StructField, StructType

from rtsa_spark.storage import (
    cluster_for_publish,
    fingerprint_text,
    observe_fingerprint,
)

__all__ = ["CommitConflict", "SnapshotStore"]


class CommitConflict(RuntimeError):
    """A concurrent commit invalidated this one: the months this
    operation read were replaced before it could commit (serializable
    validation on read-modify-write ops like :meth:`SnapshotStore.merge`).
    Re-run the operation against the new head."""

P_MONTH = "p_month"
V_COL = "v"
#: commit ops that carry a month->version mapping (data commits); an
#: "expire" row changes no mapping and never counts toward retention.
_DATA_OPS = ("publish", "refresh", "rollback", "rewrite", "fast_forward")
MAIN = "main"


class SnapshotStore:
    """Versioned month-partitioned parquet table with snapshot isolation.

    ``ts_col`` names the event-time column the month partitioning derives
    from (``bucket_start`` for rollup tiers, ``block_day`` for encoded
    blocks).  Input frames must NOT already carry ``p_month``/``v``
    columns — those are the store's physical partition keys.
    """

    def __init__(
        self,
        spark: SparkSession,
        base_dir: str,
        ts_col: str = "bucket_start",
    ):
        self.spark = spark
        self.base = base_dir
        self.ts_col = ts_col
        os.makedirs(self.base, exist_ok=True)

    # ------------------------------------------------------------ paths
    @property
    def _data_dir(self) -> str:
        return os.path.join(self.base, "data")

    def version_dir(self, month: str, version: str) -> str:
        """Data dir of one month's version (``p_month=…/v=…``) — how
        callers outside the store locate a snapshot's files."""
        return os.path.join(
            self._data_dir, f"{P_MONTH}={month}", f"{V_COL}={version}"
        )

    @property
    def _log_path(self) -> str:
        return os.path.join(self.base, "snapshots.jsonl")

    @property
    def _schema_path(self) -> str:
        return os.path.join(self.base, "schema.json")

    # -------------------------------------------------------------- log
    def _log(self) -> list[dict]:
        """Parsed commit log, cached on (mtime_ns, size) — one operation
        consults the log many times (head, expiry set, refs, schema);
        the stat check keeps the cache multi-process-safe while cutting
        the re-parse cost from O(calls) to O(log changes)."""
        if not os.path.exists(self._log_path):
            return []
        st = os.stat(self._log_path)
        key = (st.st_mtime_ns, st.st_size)
        cached = getattr(self, "_log_cache", None)
        if cached is not None and cached[0] == key:
            return cached[1]
        with open(self._log_path) as f:
            rows = [json.loads(line) for line in f if line.strip()]
        self._log_cache = (key, rows)
        return rows

    def _append_log(self, row: dict) -> None:
        with open(self._log_path, "a") as f:
            f.write(json.dumps(row) + "\n")

    def _data_commits(self, branch: str | None = None) -> list[dict]:
        rows = [r for r in self._log() if r["op"] in _DATA_OPS]
        if branch is None:
            return rows
        return [r for r in rows if r.get("branch", MAIN) == branch]

    def _expired_ids(self) -> set[int]:
        out: set[int] = set()
        for r in self._log():
            if r["op"] == "expire":
                out.update(r["expired_snapshots"])
        return out

    def current_snapshot(self, branch: str = MAIN) -> int | None:
        """Head snapshot of ``branch`` (default: main).  A branch with no
        commits of its own heads at the snapshot it was created from."""
        if branch != MAIN:
            state = self._branch_state()
            if branch not in state:
                raise ValueError(f"unknown branch {branch!r}")
            return state[branch]["head"]
        commits = self._data_commits(MAIN)
        return commits[-1]["snapshot_id"] if commits else None

    def _next_sid(self) -> int:
        commits = self._data_commits()
        return (commits[-1]["snapshot_id"] + 1) if commits else 1

    def snapshot_log(self) -> DataFrame:
        """The commit log as a DataFrame (the catalog's snapshot table)."""
        return self.spark.read.json(self._log_path)

    # ------------------------------------------------------------ schema
    @staticmethod
    def _schema_key(schema: StructType) -> list[tuple[str, str]]:
        """Name+type shape, ignoring nullability/metadata — aggregation
        flips nullable flags (sum over non-null ints is nullable), and a
        merge-then-refresh must not read as schema evolution."""
        return [(f.name, f.dataType.simpleString()) for f in schema.fields]

    def _load_schemas(self) -> list[StructType]:
        """Schema registry in registration order; index == schema_id.
        Legacy stores (single pinned schema dict) read as ``[that]``."""
        if not os.path.exists(self._schema_path):
            return []
        with open(self._schema_path) as f:
            doc = json.load(f)
        if isinstance(doc, dict) and "schemas" in doc:
            return [StructType.fromJson(s) for s in doc["schemas"]]
        return [StructType.fromJson(doc)]

    def _save_schemas(self, schemas: list[StructType]) -> None:
        with open(self._schema_path, "w") as f:
            json.dump({"schemas": [s.jsonValue() for s in schemas]}, f)

    def _pin_schema(self, df: DataFrame) -> int:
        """Resolve ``df``'s schema against the registry; returns the
        schema_id the commit should carry.

        Evolution is ADDITIVE-ONLY (the safe core of Iceberg's
        ``add_column``): a new schema must start with the current
        schema's fields — same names, same types, same order — and only
        APPEND new fields.  Files written under older schemas are never
        rewritten; reads null-fill the added columns (Iceberg reads by
        field id; the parquet emulation reads by name, which additive
        evolution keeps unambiguous).  Renames, drops, type changes, and
        reorders raise — those need real Iceberg field-id metadata to be
        safe, and the production seam is exactly that config flip.

        The registry read-modify-write runs under the commit lock so two
        concurrent evolvers can't clobber each other's entry (ids stay
        stable because the registry is append-only)."""
        with self._commit_lock():
            schemas = self._load_schemas()
            key = self._schema_key(df.schema)
            if not schemas:
                self._save_schemas([df.schema])
                return 0
            cur_id = len(schemas) - 1
            cur_key = self._schema_key(schemas[cur_id])
            if key == cur_key:
                return cur_id
            if len(key) > len(cur_key) and key[: len(cur_key)] == cur_key:
                schemas.append(df.schema)
                self._save_schemas(schemas)
                return len(schemas) - 1
            raise ValueError(
                "schema mismatch vs current store schema and not an "
                "additive evolution (existing columns must keep "
                "name/type/order; new columns append at the end): "
                f"current={cur_key} got={key}"
            )

    def schema(self, asof: int | str | None = None) -> StructType:
        """The logical table schema AS OF ``asof`` (default: current
        snapshot) — schema travels with the snapshot, like Iceberg's
        per-snapshot ``schema-id``."""
        cur = self.current_snapshot()
        if cur is None:
            raise ValueError("store has no snapshots yet")
        row = self._snapshot_row(asof if asof is not None else cur)
        return self._load_schemas()[row.get("schema_id", 0)]

    # ------------------------------------------------------------ commits
    def _validate_input(self, df: DataFrame) -> None:
        if self.ts_col not in df.columns:
            raise ValueError(f"input lacks ts_col {self.ts_col!r}")
        clash = {P_MONTH, V_COL} & set(df.columns)
        if clash:
            raise ValueError(
                f"input must not carry store partition columns {sorted(clash)}"
            )

    def _write_version(self, df: DataFrame) -> tuple[str, list[str], str]:
        """Append ``df`` under a fresh version id; returns
        ``(version, months_written, fingerprint)``.  One job: the
        distinct-months accounting rides the write via a post-write listing
        of the version's own dirs, and the content fingerprint of the
        written rows is observed on the write (no second scan of the
        input)."""
        ver = uuid.uuid4().hex[:12]
        with_month = df.withColumn(
            P_MONTH, F.date_format(F.col(self.ts_col), "yyyy-MM")
        )
        # month-rebalanced sorted publish like the plain pipeline's. V_COL
        # is a constant added above the observation: below it, the writer
        # would no longer see it as one and sort every row again on it
        observed, obs = observe_fingerprint(
            cluster_for_publish(with_month, ("source", self.ts_col)), df.columns
        )
        (
            observed.withColumn(V_COL, F.lit(ver))
            .write.mode("append")
            .partitionBy(P_MONTH, V_COL)
            .parquet(self._data_dir)
        )
        months = sorted(
            d.split("=", 1)[1]
            for d in os.listdir(self._data_dir)
            if d.startswith(f"{P_MONTH}=")
            and os.path.isdir(os.path.join(self._data_dir, d, f"{V_COL}={ver}"))
        )
        if "__HIVE_DEFAULT_PARTITION__" in months:
            # rows with a null ts_col land in Hive's default partition —
            # a bogus "month" that would corrupt range pruning ('_' sorts
            # above every digit).  Refuse before the commit; the written
            # version dirs are unreferenced orphans, reaped by expire().
            raise ValueError(
                f"input has rows with null {self.ts_col!r}; month "
                f"partitioning is undefined for them (no commit was made)"
            )
        return ver, months, fingerprint_text(obs.get)

    @contextmanager
    def _commit_lock(self):
        """Exclusive inter-process lock serializing the metadata step of
        every commit (the jsonl emulation of the Iceberg catalog's
        atomic swap).  Data-file writes never hold it — only the cheap
        driver-side read-head/resolve/append critical section does."""
        with open(os.path.join(self.base, "commit.lock"), "w") as lk:
            fcntl.flock(lk, fcntl.LOCK_EX)
            try:
                yield
            finally:
                fcntl.flock(lk, fcntl.LOCK_UN)

    def _commit(
        self, op: str, prepare, branch: str = MAIN,
        extra: dict | None = None,
    ) -> int:
        """Append a data commit to ``branch`` — OPTIMISTICALLY, the
        Iceberg concurrency model: the expensive data write happened
        outside any lock; under :meth:`_commit_lock` the branch head is
        re-read and ``prepare(parent_row) -> (mapping, extra_fields)``
        resolves the commit against the TRUE parent.  Two writers
        refreshing disjoint months therefore BOTH land (the second
        re-resolves over the first's mapping instead of clobbering it);
        read-modify-write ops raise :class:`CommitConflict` from
        ``prepare`` when validation against the true parent fails.
        Snapshot ids are global (monotone across all branches, like
        Iceberg's); ``parent`` is the target branch's head, so each
        branch's history is a chain."""
        extra = dict(extra or {})
        reserved = {
            "snapshot_id", "parent", "op", "branch", "committed_at", "months",
            "fingerprint",
        }
        bad = reserved & set(extra)
        if bad:
            raise ValueError(
                f"extra metadata must not use reserved commit fields "
                f"{sorted(bad)}"
            )
        with self._commit_lock():
            cur = self.current_snapshot(branch)
            parent_row = self._snapshot_row(cur) if cur is not None else None
            mapping, more = prepare(parent_row)
            fields = {**extra, **more}
            if "schema_id" in fields and parent_row is not None:
                # a racing additive evolution may have advanced the table
                # schema between this writer's pin and its commit; the
                # registry is append-only and additive, so the LATER id is
                # always a superset — re-resolve to it so the head's
                # visible schema never regresses
                fields["schema_id"] = max(
                    fields["schema_id"], parent_row.get("schema_id", 0)
                )
            sid = self._next_sid()
            self._append_log(
                {
                    "snapshot_id": sid,
                    "parent": cur,
                    "op": op,
                    "branch": branch,
                    "committed_at": time.time(),
                    "months": mapping,
                    **fields,
                }
            )
            return sid

    def _validate_branch(self, branch: str) -> None:
        if branch != MAIN and branch not in self._branch_state():
            raise ValueError(f"unknown branch {branch!r}")

    def publish(
        self,
        df: DataFrame,
        extra: dict | None = None,
        branch: str = MAIN,
        expect_empty: bool = False,
    ) -> int:
        """Full-table publish: every month in ``df`` maps to the new
        version; months present in the parent but absent from ``df`` are
        deleted in the new snapshot (it IS the full table).  ``extra``
        rides along on the commit row (e.g. a streaming sink's batch id
        for retry idempotence).  ``branch`` targets a ref created with
        :meth:`branch` (write-audit-publish: stage on a branch, audit it,
        :meth:`fast_forward` main).  ``expect_empty=True`` makes the
        commit validate under the lock that the branch STILL has no
        snapshots — the bootstrap guard for publish-if-absent callers
        (a full publish otherwise silently replaces whatever a racing
        writer landed first); raises :class:`CommitConflict`."""
        self._validate_input(df)
        self._validate_branch(branch)
        schema_id = self._pin_schema(df)
        ver, months, fp = self._write_version(df)

        def prep(parent_row):
            if expect_empty and parent_row is not None:
                raise CommitConflict(
                    "branch gained a snapshot while this bootstrap publish "
                    "was writing; fold into the existing head instead"
                )
            return {m: ver for m in months}, {"fingerprint": fp}

        return self._commit(
            "publish", prep,
            branch=branch, extra={"schema_id": schema_id, **(extra or {})},
        )

    def rewrite(self) -> int:
        """Layout-only compaction commit: republish the CURRENT table
        contents as one fresh version per month (``op="rewrite"``) — the
        snapshot-safe answer to small-file accretion, which never touches
        a version dir in place.  Data files are append-only here, so the rewrite is a new snapshot whose
        months all map to the new version: readers of older snapshots
        keep their exact files, time travel stays intact, and
        :meth:`expire` reclaims the fragmented versions once history
        allows.  Content is bit-identical (same rows re-read through the
        current snapshot); the clustered write path
        (:func:`rtsa_spark.storage.cluster_for_publish`) re-sorts and
        re-bins the copy, so each month lands in O(1) files with tight
        row-group stats.  The copy is written under the CURRENT schema,
        so a rewrite also materializes null-filled added columns into
        the physical files (Iceberg rewrite_data_files does the same).
        Read-modify-write: if any commit lands between the copy's read
        and this commit, :class:`CommitConflict` is raised (the copy is
        stale) and the orphaned copy is reaped by the next
        :meth:`expire`."""
        read_mapping = self.months()
        cur = self.read()
        schema_id = self._pin_schema(cur)
        ver, months, _ = self._write_version(cur)

        def prep(parent_row):
            parent = dict(parent_row["months"]) if parent_row else {}
            if parent != read_mapping:
                raise CommitConflict(
                    "table changed while rewriting; re-run rewrite()"
                )
            return {m: ver for m in months}, {}

        return self._commit("rewrite", prep, extra={"schema_id": schema_id})

    def data_commits(self, branch: str | None = None) -> list[dict]:
        """Data-commit rows (publish/refresh/rollback/rewrite/
        fast_forward) in commit order — driver-side metadata, O(commits).
        ``branch`` filters to one ref's chain."""
        return self._data_commits(branch)

    def fingerprint(self, asof: int | str | None = None) -> str | None:
        """Content fingerprint (``rows:xor-hash``, the
        ``pipeline.content_fingerprint`` recipe) of snapshot ``asof``
        (default: current), recorded by :meth:`publish` from its own
        write — the snapshot-summary analog of Iceberg's
        ``total-records``.  None for every other commit."""
        return self._snapshot_row(
            asof if asof is not None else self.current_snapshot()
        ).get("fingerprint")

    def refresh_months(
        self,
        df: DataFrame,
        months: list[str],
        extra: dict | None = None,
        branch: str = MAIN,
        expect_versions: dict[str, str | None] | None = None,
    ) -> int:
        """Partition-scoped commit: re-publish ONLY ``months`` from ``df``
        (defensively filtered to them); all other months keep the parent's
        versions.  A requested month ``df`` has no rows for is DELETED in
        the new snapshot — same degenerate-month semantics as
        ``TierPipeline.refresh_months``.  ``branch`` targets a ref (the
        branch's head is the parent the untouched months come from).

        The untouched months resolve against the head AT COMMIT TIME
        (under the commit lock), so two writers refreshing disjoint
        months both land — optimistic concurrency, not last-write-wins.
        ``expect_versions`` adds serializable validation for
        read-modify-write callers (:meth:`merge`): ``{month:
        version-or-None}`` the caller's read saw; a mismatch against the
        true parent raises :class:`CommitConflict` instead of committing
        a fold over stale data (the written files become orphans,
        reaped by :meth:`expire`)."""
        self._validate_input(df)
        self._validate_branch(branch)
        cur = self.current_snapshot(branch)
        if cur is None:
            raise ValueError("refresh_months requires a prior publish()")
        schema_id = self._pin_schema(df)
        scoped = df.where(
            F.date_format(F.col(self.ts_col), "yyyy-MM").isin(months)
        )
        ver, written, _ = self._write_version(scoped)

        def prep(parent_row):
            parent = dict(parent_row["months"]) if parent_row else {}
            if expect_versions is not None:
                stale = sorted(
                    m
                    for m, v in expect_versions.items()
                    if parent.get(m) != v
                )
                if stale:
                    raise CommitConflict(
                        f"months {stale} changed since this operation read "
                        f"them; re-run it against the new head"
                    )
            for m in months:
                parent.pop(m, None)
            parent.update({m: ver for m in written})
            return parent, {}

        return self._commit(
            "refresh", prep, branch=branch,
            extra={
                "refreshed": sorted(months),
                "schema_id": schema_id,
                **(extra or {}),
            },
        )

    def merge(
        self,
        delta: DataFrame,
        keys: list[str] | None = None,
        combine=None,
        months: list[str] | None = None,
        extra: dict | None = None,
        branch: str = MAIN,
    ) -> int:
        """Month-pruned MERGE INTO analog: fold ``delta`` into the branch
        head and commit, touching ONLY the months ``delta`` spans.

        Exactly one of:

        - ``keys``: upsert — a delta row REPLACES the head row with the
          same key, non-matching head rows survive, unmatched delta rows
          insert (``MERGE WHEN MATCHED THEN UPDATE WHEN NOT MATCHED THEN
          INSERT``);
        - ``combine``: ``callable(existing, delta) -> DataFrame`` for
          algebraic folds where matched rows must MERGE rather than
          replace (e.g. :func:`rtsa_spark.operators.rollup.merge_rollup`
          count+count / sum+sum — the continuous-aggregate fold the
          streaming sink commits per micro-batch).

        ``months`` short-circuits the delta's month scan when the caller
        already knows them.  Cost shape: one O(months) collect, a
        manifest-pruned read of only those months, the fold (one shuffle
        on the fold keys over existing∪delta — delta-sized, because the
        read never lists unaffected months), and a month-scoped refresh
        commit.  History-sized work never happens, which is what makes
        late-data ingestion O(late months) at any table size.

        Merge is read-modify-write, so it commits with serializable
        validation: if another writer replaces any of the read months
        before this commit lands, :class:`CommitConflict` is raised
        (never a silent fold over stale data) — catch it and re-run the
        merge against the new head, exactly the Iceberg retry loop."""
        self._validate_input(delta)
        self._validate_branch(branch)
        if (keys is None) == (combine is None):
            raise ValueError("pass exactly one of keys= or combine=")
        head = self.current_snapshot(branch)
        if head is None:
            raise ValueError("merge requires a prior publish()")
        if months is None:
            raw_months = [
                r["m"]
                for r in delta.select(
                    F.date_format(F.col(self.ts_col), "yyyy-MM").alias("m")
                )
                .distinct()
                .collect()
            ]
            if None in raw_months:
                raise ValueError(
                    f"delta has rows with null {self.ts_col!r}; month "
                    f"partitioning is undefined for them"
                )
            months = sorted(raw_months)
        if not months:
            raise ValueError("empty delta: nothing to merge")
        head_mapping = self.months(asof=head)
        expected = {m: head_mapping.get(m) for m in months}
        existing = self.read(asof=head, months=months)
        if combine is not None:
            merged = combine(existing, delta)
        else:
            missing = [k for k in keys if k not in delta.columns]
            if missing:
                raise ValueError(f"delta lacks merge key columns {missing}")
            # SQL/Iceberg MERGE errors on multiple source matches; a
            # multi-row key here would silently insert duplicates forever
            # (one delta-sized agg, cheap next to the commit itself)
            if (
                delta.groupBy(*keys)
                .count()
                .where(F.col("count") > 1)
                .limit(1)
                .count()
            ):
                raise ValueError(
                    f"delta has multiple rows for one merge key {keys}; "
                    f"pre-aggregate it (MERGE requires unique source keys)"
                )
            lacking = [c for c in existing.columns if c not in delta.columns]
            if lacking:
                raise ValueError(
                    f"delta lacks table columns {lacking}; an upsert "
                    f"delta must carry every current column (it may "
                    f"APPEND new ones — additive schema evolution)"
                )
            # allowMissingColumns: a delta carrying appended columns
            # (additive evolution) null-fills the surviving head rows;
            # refresh_months pins the evolved schema at commit
            merged = existing.join(
                delta.select(*keys).distinct(), list(keys), "left_anti"
            ).unionByName(delta, allowMissingColumns=True)
        return self.refresh_months(
            merged, months, extra=extra, branch=branch,
            expect_versions=expected,
        )

    def delete_where(
        self,
        condition,
        months: list[str] | None = None,
        extra: dict | None = None,
        branch: str = MAIN,
    ) -> int | None:
        """Row-level DELETE (copy-on-write, month-pruned): commit a
        snapshot where rows matching ``condition`` (a boolean Column) are
        gone, touching ONLY the months that actually contain matches —
        the Iceberg ``DELETE FROM ... WHERE`` analog next to
        :meth:`publish` / :meth:`refresh_months` / :meth:`merge`.

        ``months`` pre-prunes the match scan when the caller knows the
        predicate's time range (otherwise the scan reads the whole head —
        one pass, manifest-pruned reads thereafter).  Rows where the
        predicate evaluates to NULL are KEPT (SQL DELETE semantics:
        only TRUE deletes).  Returns the commit id, or ``None`` when
        nothing matched (no empty commits).  Read-modify-write: commits
        with serializable validation, so a writer replacing any affected
        month first raises :class:`CommitConflict` — re-run against the
        new head."""
        self._validate_branch(branch)
        head = self.current_snapshot(branch)
        if head is None:
            raise ValueError("delete_where requires a prior publish()")
        hit = F.coalesce(condition, F.lit(False))
        hit_months = sorted(
            r["m"]
            for r in self.read(asof=head, months=months)
            .where(hit)
            .select(
                F.date_format(F.col(self.ts_col), "yyyy-MM").alias("m")
            )
            .distinct()
            .collect()
        )
        if not hit_months:
            return None
        head_mapping = self.months(asof=head)
        expected = {m: head_mapping.get(m) for m in hit_months}
        kept = self.read(asof=head, months=hit_months).where(~hit)
        return self.refresh_months(
            kept, hit_months, extra=extra, branch=branch,
            expect_versions=expected,
        )

    def rollback(self, snapshot_id: int | str) -> int:
        """Metadata-only commit that restores ``snapshot_id``'s mapping
        under a NEW snapshot id (history stays append-only, like Iceberg's
        ``rollback_to_snapshot``).  The target must not be expired; a
        string names a tag.  Schema does NOT revert — like Iceberg,
        rollback restores the data mapping while the table keeps its
        current schema (old files read null-filled for added columns)."""
        row = self._snapshot_row(snapshot_id)

        def prep(parent_row):
            # re-validate under the commit lock: a racing expire() may
            # have reclaimed the target between resolution and commit
            if row["snapshot_id"] in self._expired_ids():
                raise ValueError(
                    f"snapshot {row['snapshot_id']} has been expired"
                )
            return dict(row["months"]), {
                "rolled_back_to": row["snapshot_id"],
                "schema_id": (parent_row or {}).get("schema_id", 0),
            }

        return self._commit("rollback", prep)

    # -------------------------------------------------------------- tags
    def tags(self) -> dict[str, int]:
        """Current tag-name -> snapshot-id mapping (log replay; drops
        win over earlier tags of the same name)."""
        out: dict[str, int] = {}
        for r in self._log():
            if r["op"] == "tag":
                out[r["name"]] = r["snapshot_id"]
            elif r["op"] == "drop_tag":
                out.pop(r["name"], None)
        return out

    def tag(self, name: str, snapshot_id: int | None = None) -> int:
        """Name a snapshot (default: current) — Iceberg tag semantics: a
        tagged snapshot is PINNED, :meth:`expire` never reclaims it (or
        its version dirs) until :meth:`drop_tag` releases the name, and
        every read accepting ``asof`` also accepts the tag name.  Names
        are immutable while held (re-tagging requires an explicit drop —
        a moved release label is a lie) and metadata-only: one log row,
        zero data movement.  Returns the pinned snapshot id."""
        if not isinstance(name, str) or not name:
            raise ValueError(f"tag name must be a non-empty string: {name!r}")
        with self._commit_lock():  # check-then-append must be atomic
            if name in self.tags():
                raise ValueError(
                    f"tag {name!r} already exists; drop_tag() it first"
                )
            if name == MAIN or name in self._branch_state():
                raise ValueError(
                    f"ref name {name!r} already exists as a branch"
                )
            cur = self.current_snapshot()
            if cur is None:
                raise ValueError("store has no snapshots yet")
            row = self._snapshot_row(
                snapshot_id if snapshot_id is not None else cur
            )
            sid = row["snapshot_id"]
            self._append_log(
                {"op": "tag", "name": name, "snapshot_id": sid,
                 "committed_at": time.time()}
            )
            return sid

    def drop_tag(self, name: str) -> None:
        """Release a tag (metadata-only).  The snapshot it pinned becomes
        ordinary history — reclaimable by the next :meth:`expire` if it
        falls outside ``keep_last``."""
        with self._commit_lock():
            if name not in self.tags():
                raise ValueError(f"unknown tag {name!r}")
            self._append_log(
                {"op": "drop_tag", "name": name, "committed_at": time.time()}
            )

    # ----------------------------------------------------------- branches
    def _branch_state(self) -> dict[str, dict]:
        """Live branches from log replay: name -> {head, base}.  ``base``
        is the snapshot the branch was created from (the fast-forward
        anchor); ``head`` advances with each data commit on the branch."""
        out: dict[str, dict] = {}
        for r in self._log():
            op = r["op"]
            if op == "branch":
                out[r["name"]] = {
                    "head": r["from_snapshot"], "base": r["from_snapshot"]
                }
            elif op == "drop_branch":
                out.pop(r["name"], None)
            elif op in _DATA_OPS:
                b = r.get("branch", MAIN)
                if b in out:
                    out[b]["head"] = r["snapshot_id"]
        return out

    def branches(self) -> dict[str, int]:
        """Live branch-name -> head-snapshot-id mapping."""
        return {n: s["head"] for n, s in self._branch_state().items()}

    def branch(self, name: str, snapshot_id: int | str | None = None) -> int:
        """Create a MUTABLE named ref at ``snapshot_id`` (default: main's
        head) — the other half of the Iceberg refs model (:meth:`tag` is
        the immutable half).  Commits with ``branch=name`` advance only
        this ref; main never sees them until :meth:`fast_forward`.  The
        write-audit-publish flow: ``branch("audit")`` ->
        ``publish(df, branch="audit")`` -> validate ``read(asof="audit")``
        -> ``fast_forward("audit")`` -> ``drop_branch("audit")``.  A live
        branch pins its whole commit chain against :meth:`expire`.
        Names share one namespace with tags (any ``asof`` resolves
        either); ``main`` is reserved.  Returns the base snapshot id."""
        if not isinstance(name, str) or not name:
            raise ValueError(
                f"branch name must be a non-empty string: {name!r}"
            )
        with self._commit_lock():  # check-then-append must be atomic
            if (
                name == MAIN
                or name in self._branch_state()
                or name in self.tags()
            ):
                raise ValueError(f"ref name {name!r} already exists")
            cur = self.current_snapshot()
            if cur is None:
                raise ValueError("store has no snapshots yet")
            row = self._snapshot_row(
                snapshot_id if snapshot_id is not None else cur
            )
            sid = row["snapshot_id"]
            self._append_log(
                {"op": "branch", "name": name, "from_snapshot": sid,
                 "committed_at": time.time()}
            )
            return sid

    def drop_branch(self, name: str) -> None:
        """Delete a branch ref (metadata-only).  Its commits become
        ordinary unreferenced history: time travel by id still works
        until the next :meth:`expire` reaps them."""
        with self._commit_lock():
            if name not in self._branch_state():
                raise ValueError(f"unknown branch {name!r}")
            self._append_log(
                {"op": "drop_branch", "name": name,
                 "committed_at": time.time()}
            )

    def fast_forward(self, name: str) -> int:
        """Advance main to branch ``name``'s head (Iceberg
        ``fast_forward``): a metadata-only commit on main carrying the
        branch head's mapping and schema.  Refused unless main's head is
        still the branch's base — if main advanced since the branch was
        cut, the histories diverged and a blind copy would silently drop
        main's commits (re-cut the branch instead).  The branch ref stays;
        :meth:`drop_branch` releases it.  The divergence check re-runs
        under the commit lock against the true main head, so a commit
        racing the fast-forward makes it fail instead of landing a blind
        copy."""
        if name not in self._branch_state():
            raise ValueError(f"unknown branch {name!r}")

        def prep(parent_row):
            state = self._branch_state()
            if name not in state:
                raise ValueError(f"unknown branch {name!r}")
            base, head = state[name]["base"], state[name]["head"]
            cur = parent_row["snapshot_id"] if parent_row else None
            if cur != base:
                raise ValueError(
                    f"not a fast-forward: main is at {cur}, branch "
                    f"{name!r} was cut from {base}; re-create the branch "
                    f"from main's head and replay"
                )
            if head == base:
                raise ValueError(
                    f"branch {name!r} has no commits to publish"
                )
            row = self._snapshot_row(head)
            return dict(row["months"]), {
                "schema_id": row.get("schema_id", 0),
                "from_branch": name,
                "fast_forwarded_to": head,
            }

        return self._commit("fast_forward", prep)

    # -------------------------------------------------------------- reads
    def _snapshot_row(self, snapshot_id: int | str) -> dict:
        if isinstance(snapshot_id, str):
            tags = self.tags()
            if snapshot_id in tags:
                snapshot_id = tags[snapshot_id]
            else:
                heads = self.branches()
                if snapshot_id not in heads:
                    raise ValueError(
                        f"unknown tag or branch {snapshot_id!r}"
                    )
                snapshot_id = heads[snapshot_id]
        if snapshot_id in self._expired_ids():
            raise ValueError(f"snapshot {snapshot_id} has been expired")
        for r in self._data_commits():
            if r["snapshot_id"] == snapshot_id:
                return r
        raise ValueError(f"unknown snapshot id {snapshot_id}")

    def snapshot_as_of_ts(self, ts: float, branch: str = MAIN) -> int:
        """The snapshot id current on ``branch`` at wall-clock time ``ts``
        (unix seconds) — Iceberg ``TIMESTAMP AS OF``: the LAST data commit
        with ``committed_at <= ts``.  Raises if the branch had no commits
        yet at ``ts`` or the resolved snapshot has been expired."""
        rows = [
            r
            for r in self._data_commits(branch)
            if r["committed_at"] <= ts
        ]
        if not rows:
            raise ValueError(
                f"no snapshot on branch {branch!r} as of ts={ts}"
            )
        sid = rows[-1]["snapshot_id"]
        self._snapshot_row(sid)  # loud if expired
        return sid

    def months(self, asof: int | str | None = None) -> dict[str, str]:
        """The month->version mapping of ``asof`` (default current) — the
        snapshot's manifest, for callers that account files per partition."""
        cur = self.current_snapshot()
        if cur is None:
            raise ValueError("store has no snapshots yet")
        return dict(
            self._snapshot_row(asof if asof is not None else cur)["months"]
        )

    def refs(self) -> DataFrame:
        """Metadata view of every live ref (Iceberg ``table.refs``):
        ``(name, type, snapshot_id)`` with main included as a branch."""
        rows = [(MAIN, "branch", self.current_snapshot() or 0)]
        rows += [(n, "branch", h) for n, h in sorted(self.branches().items())]
        rows += [(n, "tag", s) for n, s in sorted(self.tags().items())]
        return self.spark.createDataFrame(
            rows, "name string, type string, snapshot_id long"
        )

    def files(self, asof: int | str | None = None) -> DataFrame:
        """Metadata view of the data files a snapshot references (Iceberg
        ``table.files``): ``(p_month, version, file, bytes)``.  Listing is
        manifest-driven — only the mapped version dirs are walked, O(files
        in the snapshot); driver-side, as metadata tables are."""
        rows = []
        for m, v in sorted(self.months(asof=asof).items()):
            vdir = self.version_dir(m, v)
            for fn in sorted(os.listdir(vdir)):
                fp = os.path.join(vdir, fn)
                if fn.endswith(".parquet") and os.path.isfile(fp):
                    rows.append((m, v, fp, os.path.getsize(fp)))
        return self.spark.createDataFrame(
            rows, "p_month string, version string, file string, bytes long"
        )

    def read(
        self,
        asof: int | str | None = None,
        months: list[str] | None = None,
        month_lo: str | None = None,
        month_hi: str | None = None,
        asof_ts: float | None = None,
    ) -> DataFrame:
        """The table AS OF ``asof`` (default: current snapshot).

        Lists exactly the mapped ``p_month=…/v=…`` dirs — the
        manifest-driven read: cost is O(months in the snapshot), never
        O(versions retained).  ``months`` restricts the listing to those
        partitions; ``month_lo``/``month_hi`` restrict it to an INCLUSIVE
        ``YYYY-MM`` range (lexicographic = chronological) — both are
        manifest-level pruning, not a post-hoc filter.  ``asof_ts``
        resolves a wall-clock time instead of an id/ref (Iceberg
        ``TIMESTAMP AS OF``; mutually exclusive with ``asof``).
        Returns the snapshot's logical schema (schema travels with the
        snapshot; files written under an older additive schema read
        null-filled for the added columns; partition columns dropped)."""
        cur = self.current_snapshot()
        if cur is None:
            raise ValueError("store has no snapshots yet")
        if asof_ts is not None:
            if asof is not None:
                raise ValueError("pass at most one of asof= / asof_ts=")
            asof = self.snapshot_as_of_ts(asof_ts)
        row = self._snapshot_row(asof if asof is not None else cur)
        schema = self._load_schemas()[row.get("schema_id", 0)]
        mapping: dict[str, str] = row["months"]
        if months is not None:
            mapping = {m: v for m, v in mapping.items() if m in set(months)}
        if month_lo is not None:
            mapping = {m: v for m, v in mapping.items() if m >= month_lo}
        if month_hi is not None:
            mapping = {m: v for m, v in mapping.items() if m <= month_hi}
        if not mapping:
            return self.spark.createDataFrame([], schema)
        return self._read_versions(schema, sorted(mapping.items()))

    def _read_versions(
        self, schema: StructType, versions: list[tuple[str, str]]
    ) -> DataFrame:
        """Read ``(month, version)`` dirs under ``schema``.  The partition
        columns are declared as strings, so Spark infers no partition type:
        a version id like ``63e465427428`` would otherwise parse as the
        decimal 63×10^465427428 and spin the driver in ``BigDecimal``."""
        full = StructType(
            schema.fields
            + [StructField(P_MONTH, StringType()), StructField(V_COL, StringType())]
        )
        return (
            self.spark.read.schema(full)
            .option("basePath", self._data_dir)
            .parquet(*[self.version_dir(m, v) for m, v in versions])
            .select([f.name for f in schema.fields])
        )

    def read_changes(
        self, since: int | str, until: int | str | None = None
    ) -> DataFrame:
        """Incremental (changelog) read: the rows that differ between
        snapshot ``since`` and snapshot ``until`` (default: current),
        tagged with ``_change_type`` ∈ {``INSERT``, ``DELETE``} — the
        Iceberg incremental-consumption / changelog-table analog, so a
        downstream consumer can process ONLY what changed instead of
        re-reading the table.

        The manifest does the heavy pruning: a month whose version is
        identical in both snapshots is never listed or scanned, so cost
        is O(changed months), never O(table).  Each changed month costs
        a scan of its two version dirs plus a multiset ``exceptAll``
        both ways (an updated row appears as one DELETE of the old
        content and one INSERT of the new).  Cross-month cancellation
        is impossible by construction — the partition month is a
        function of ``ts_col``, so identical row content always lands
        in the same month.  A row-identical rewrite commit (e.g.
        :meth:`rewrite` compaction) therefore yields an EMPTY changelog,
        exactly as a layout-only operation should.

        Both snapshots must be unexpired data commits with
        ``since <= until``; ``since == until`` returns an empty frame
        with the changelog schema."""
        cur = self.current_snapshot()
        if cur is None:
            raise ValueError("store has no snapshots yet")
        if until is None:
            until = cur
        # resolve tag names (and validate expiry/unknown) before ordering
        since = self._snapshot_row(since)["snapshot_id"]
        until_row = self._snapshot_row(until)
        until = until_row["snapshot_id"]
        old = self.months(asof=since)
        new = self.months(asof=until)
        if since > until:
            raise ValueError(
                f"since={since} is after until={until}; changelog reads "
                f"go forward"
            )
        # both sides read under the UNTIL snapshot's schema (the Iceberg
        # changelog convention): files from the older snapshot null-fill
        # any columns added between the two, so a row whose only change
        # is a backfilled new column diffs as DELETE(old,null)+INSERT(new)
        schema = self._load_schemas()[until_row.get("schema_id", 0)]

        def _subset(mapping: dict[str, str], months_: list[str]) -> DataFrame:
            if not months_:
                return self.spark.createDataFrame([], schema)
            return self._read_versions(schema, [(m, mapping[m]) for m in months_])

        changed_new = sorted(m for m in new if old.get(m) != new[m])
        changed_old = sorted(m for m in old if new.get(m) != old[m])
        nd = _subset(new, changed_new)
        od = _subset(old, changed_old)
        return nd.exceptAll(od).withColumn(
            "_change_type", F.lit("INSERT")
        ).unionByName(
            od.exceptAll(nd).withColumn("_change_type", F.lit("DELETE"))
        )

    # -------------------------------------------------------------- expiry
    def expire(
        self,
        keep_last: int = 2,
        older_than: float | None = None,
        orphan_grace_s: float = 3600.0,
    ) -> dict:
        """Retain the last ``keep_last`` data commits PLUS every tagged
        snapshot (:meth:`tag` pins history exactly as Iceberg tags do);
        physically delete every ``v=`` dir no retained snapshot
        references, and mark the dropped snapshot ids so time-travel to
        them fails loudly.  ``older_than`` (unix seconds) additionally
        retains every commit younger than it — Iceberg's
        ``expire_snapshots(older_than=...)`` age policy; the two compose
        as retain-if-either.

        Version dirs NO commit has ever referenced are either crash
        debris or an in-flight writer's not-yet-committed data (writes
        hold no lock by design); they are reaped only once older than
        ``orphan_grace_s`` — the ``remove_orphan_files(older_than=)``
        threshold; pass 0 to force-reap known debris.  Runs under the
        commit lock so its view of the log is a consistent snapshot.
        Returns accounting
        ``{expired_snapshots, deleted_dirs, freed_bytes}``."""
        if keep_last < 1:
            raise ValueError(f"keep_last must be >= 1, got {keep_last}")
        with self._commit_lock():
            return self._expire_locked(keep_last, older_than, orphan_grace_s)

    def _expire_locked(
        self,
        keep_last: int,
        older_than: float | None,
        orphan_grace_s: float,
    ) -> dict:
        commits = self._data_commits()
        pinned = set(self.tags().values())  # tags survive expiry (Iceberg)
        live_branches = set(self._branch_state())
        # a branch with no commits of its own heads at its base — a MAIN
        # commit the branch clause below wouldn't keep; pin it explicitly
        # so a freshly-cut branch never dangles
        pinned |= set(self.branches().values())
        keep_main = {
            r["snapshot_id"] for r in self._data_commits(MAIN)[-keep_last:]
        }

        def _keep(r: dict) -> bool:
            # a live branch pins its whole chain; keep_last counts MAIN
            # commits only, so parking work on a branch can't age main's
            # history out of its retention window
            return (
                r["snapshot_id"] in keep_main
                or r["snapshot_id"] in pinned
                or r.get("branch", MAIN) in live_branches
                or (older_than is not None and r["committed_at"] > older_than)
            )

        retained = [r for r in commits if _keep(r)]
        already = self._expired_ids()
        dropped = [
            r["snapshot_id"]
            for r in commits
            if not _keep(r) and r["snapshot_id"] not in already
        ]
        live: set[tuple[str, str]] = {
            (m, v) for r in retained for m, v in r["months"].items()
        }
        # dirs some commit referenced at some point: once unretained they
        # are history and safe to delete NOW.  A dir NO commit has ever
        # referenced is either crash debris or an IN-FLIGHT write whose
        # commit hasn't landed (data writes hold no lock by design) — only
        # reap those past ``orphan_grace_s``, the remove_orphan_files
        # older_than threshold.
        referenced_ever: set[tuple[str, str]] = {
            (m, v) for r in commits for m, v in r["months"].items()
        }
        now = time.time()
        deleted_dirs = 0
        freed = 0
        if os.path.isdir(self._data_dir):
            for mdir in sorted(os.listdir(self._data_dir)):
                if not mdir.startswith(f"{P_MONTH}="):
                    continue
                month = mdir.split("=", 1)[1]
                mpath = os.path.join(self._data_dir, mdir)
                for vdir in sorted(os.listdir(mpath)):
                    if not vdir.startswith(f"{V_COL}="):
                        continue
                    ver = vdir.split("=", 1)[1]
                    if (month, ver) in live:
                        continue
                    vpath = os.path.join(mpath, vdir)
                    if (month, ver) not in referenced_ever and (
                        now - os.path.getmtime(vpath) < orphan_grace_s
                    ):
                        continue  # possibly an uncommitted in-flight write
                    for root, _dirs, files in os.walk(vpath):
                        freed += sum(
                            os.path.getsize(os.path.join(root, fn))
                            for fn in files
                        )
                    shutil.rmtree(vpath)
                    deleted_dirs += 1
                if not any(
                    d.startswith(f"{V_COL}=") for d in os.listdir(mpath)
                ):
                    shutil.rmtree(mpath)
        if dropped:
            self._append_log(
                {
                    "op": "expire",
                    "committed_at": time.time(),
                    "expired_snapshots": dropped,
                    "deleted_dirs": deleted_dirs,
                    "freed_bytes": freed,
                }
            )
        return {
            "expired_snapshots": dropped,
            "deleted_dirs": deleted_dirs,
            "freed_bytes": freed,
        }
