"""Physical layout of published tiers: publish clustering, the content
fingerprint recipe, and z-order clustering.

- :func:`cluster_for_publish` is the month-rebalanced sorted publish
  (``write.distribution-mode=hash``) every month-partitioned stage of
  :class:`rtsa_spark.pipeline.TierPipeline` and
  :class:`rtsa_spark.snapshot.SnapshotStore` writes through: one write
  task per month and tight ``(source, time)`` row-group envelopes, so
  time-range and per-source reads prune row groups.
- :func:`fingerprint_aggs` / :func:`fingerprint_text` are the one
  order-independent content-hash recipe (``count:bit_xor(xxhash64)``)
  behind the pipeline's stage fingerprints, and
  :func:`observe_fingerprint` attaches it to a publish write so the
  fingerprint of what was written needs no read-back scan.
- :func:`zorder_key` / :func:`cluster_zorder` cluster a table on a
  two-dimensional Morton key, and :func:`zorder_skip_audit` measures the
  files a box predicate scans under the linear and the z-order layout.

The reference keeps a whole rts brick in one R process
(``/root/reference/R/rtsa.stl.R:441-489``) and has no file layout; these
are the engine's own, verified by tests/test_storage.py and
``tools/explain_audit.py`` (#23 pins the publish exchange, #26 the
z-order range exchange).
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, Observation
from pyspark.sql.types import MapType

__all__ = [
    "cluster_for_publish",
    "fingerprint_aggs",
    "fingerprint_text",
    "observe_fingerprint",
    "zorder_key",
    "cluster_zorder",
    "zorder_skip_audit",
]


def cluster_for_publish(
    df: DataFrame, order_cols: tuple[str, ...], month_col: str = "p_month"
) -> DataFrame:
    """Month-rebalanced sorted publish (``write.distribution-mode=hash``):
    hash-rebalance rows on the month and sort them within each task ahead
    of a month-partitioned write — the parquet-dir emulation of Iceberg's
    hash distribution + sort order.  Two effects that only matter once the
    table is big, which is exactly when they dominate:

    - **file-count control**: an unclustered write sprays every shuffle
      partition into every month dir (``shuffle_partitions × months``
      files per stage — the small-files explosion that kills a 100 TB
      table's planning time).  The ``rebalance`` hint hashes each month
      to one write task, so a task writes one file per month it holds.
      Skew-safe where a plain ``repartition(month_col)`` is not: AQE
      (``OptimizeSkewInRebalancePartitions``) splits an oversized month
      across several tasks and coalesces small months into one.
    - **row-group stats**: ``sortWithinPartitions`` gives every parquet
      row group a tight ``(source, bucket_start)`` min/max envelope, so
      time-range and per-source reads prune row groups instead of
      scanning the month (the block-pruned ``read_points`` and every
      mask semi-join read benefit immediately).

    Costs one hash exchange per PUBLISH (never on the query path).  A
    range exchange would also run a sampling job over the exchange's
    child, i.e. compute the whole stage twice; a hash exchange needs no
    sample, so the layout is also deterministic.  Columns absent from
    ``df`` are skipped, so one helper serves the rollup
    (``bucket_start``), encoded (``block_day``) and histogram stages
    alike.
    """
    cols = [month_col] + [c for c in order_cols if c in df.columns]
    if df.sparkSession.conf.get("spark.sql.adaptive.enabled") == "true":
        df = df.hint("rebalance", month_col)
    else:
        # Spark drops a rebalance hint when AQE is off; a plain hash
        # repartition still gives each month one write task
        df = df.repartition(month_col)
    return df.sortWithinPartitions(*cols)


def fingerprint_aggs(df: DataFrame, cols: list[str] | None = None) -> list:
    """The content-fingerprint aggregates over ``cols`` of ``df`` (default:
    every column): ``n = count(1)`` and ``x = bit_xor(xxhash64(cols))``.

    ``bit_xor`` is commutative, so the pair is order- and
    partitioning-independent and folds across any grouping (sum the
    counts, xor the hashes).  Map-typed columns go through ``to_json``
    (hashing maps is undefined in Spark).  The one recipe behind
    ``pipeline.content_fingerprint``, ``pipeline.month_fingerprints`` and
    a publish write's :func:`observe_fingerprint`."""
    types = {f.name: f.dataType for f in df.schema.fields}
    hashed = [
        F.to_json(F.col(c)) if isinstance(types[c], MapType) else F.col(c)
        for c in (df.columns if cols is None else cols)
    ]
    return [
        F.count(F.lit(1)).alias("n"),
        F.bit_xor(F.xxhash64(*hashed)).alias("x"),
    ]


def fingerprint_text(row) -> str:
    """``rows:xor-hash`` text of a :func:`fingerprint_aggs` result (an
    empty input has no xor and reads ``0:0``)."""
    return f"{row['n']}:{row['x'] if row['x'] is not None else 0}"


def observe_fingerprint(
    df: DataFrame, cols: list[str]
) -> tuple[DataFrame, Observation]:
    """Attach :func:`fingerprint_aggs` over ``cols`` to the action that
    consumes ``df``: the publish write learns the content fingerprint of
    what it writes, with no read-back scan.  Apply it last, above the
    publish exchange and sort, so the metrics sit in the write's result
    stage: result-task accumulators merge once per partition, so a
    re-attempted map stage cannot double-count.  Read the value with
    ``fingerprint_text(obs.get)`` once the write has returned."""
    obs = Observation()
    return df.observe(obs, *fingerprint_aggs(df, cols)), obs


# --------------------------------------------------------------- z-order

#: magic-number bit-spread masks: up-to-32-bit value -> even bit positions
#: of a 64-bit word (Morton/Z-curve interleave, the standard 64-bit
#: constants).  The leading (16, ...) step is an identity for 16-bit
#: inputs — the extension to 64-bit masks changed nothing for bits<=16 —
#: but is what makes bits in (16, 31] interleave correctly: the old
#: 32-bit chain silently aliased them (spread(2^16) == spread(2^8)).
_SPREAD = (
    (16, 0x0000FFFF0000FFFF),
    (8, 0x00FF00FF00FF00FF),
    (4, 0x0F0F0F0F0F0F0F0F),
    (2, 0x3333333333333333),
    (1, 0x5555555555555555),
)


def _spread_expr(col_sql: str, bits: int) -> str:
    """SQL for the bit-spread of a ``bits``-wide nonneg int (portable:
    only shiftleft / & / | — DuckDB replays it with ``<<``)."""
    mask = (1 << bits) - 1
    e = (
        f"(CASE WHEN {col_sql} < 0 OR {col_sql} > {mask} THEN "
        f"raise_error('zorder dim out of [0, 2^{bits})') "
        f"ELSE CAST({col_sql} AS BIGINT) END)"
    )
    for sh, m in _SPREAD:
        e = f"((({e} | shiftleft({e}, {sh}))) & {m})"
    return e


def zorder_key(x_col: str, y_col: str, bits: int = 16):
    """Morton / Z-curve key of two nonnegative integer dimensions — the
    multi-dimensional clustering key behind Delta ``OPTIMIZE ZORDER BY``
    and Iceberg's z-order rewrite strategy.  Interleaving the bits makes
    rows close in BOTH dimensions close on the key, so sorting data files
    by it gives every file a tight min/max envelope in x AND y at once —
    the property that lets a 100 TB scan prune files for predicates on
    either (or both) dimensions, where a linear ``sort by x, y`` layout
    only ever prunes on the leading x.

    Pure exact-int bit arithmetic (5-step 64-bit magic-number spread per
    dim — see ``_SPREAD``; the 64-bit chain is what makes bits in
    (16, 31] interleave correctly), no UDF, no float, identical in any
    engine with shift/and/or; out of range dims raise rather than
    silently aliasing.  ``bits`` caps each
    dimension at ``2^bits - 1``; callers bucket/scale real columns down
    first (e.g. hour index, source index — rank-bucketing a raw BIGINT
    is ``F.ntile`` at publish time).
    """
    if not (1 <= bits <= 31):
        raise ValueError(f"bits must be in [1, 31], got {bits}")
    sx = _spread_expr(x_col, bits)
    sy = _spread_expr(y_col, bits)
    return F.expr(f"({sx} | shiftleft({sy}, 1))")


def cluster_zorder(
    df: DataFrame, x_col: str, y_col: str, bits: int = 16
) -> DataFrame:
    """Z-cluster a table ahead of a file write: range-exchange + per-file
    sort on the Morton key (the ``cluster_for_publish`` sort with a 2-D
    key; file envelopes on the key need contiguous key ranges per file,
    so this one keeps a range exchange, not a hash one).  One sampled
    range exchange at PUBLISH time — never on the
    query path — buys min/max file pruning on both dimensions for every
    later scan.  Ties broken by the raw dims so the layout is total and
    reruns byte-identical."""
    k = zorder_key(x_col, y_col, bits).alias("_zk")
    out = df.select("*", k)
    return out.repartitionByRange("_zk", x_col, y_col).sortWithinPartitions(
        "_zk", x_col, y_col
    ).drop("_zk")


def zorder_skip_audit(
    df: DataFrame,
    x_col: str,
    y_col: str,
    n_files: int,
    x_range: tuple[int, int],
    y_range: tuple[int, int],
    bits: int = 16,
) -> DataFrame:
    """Quantified file-skipping audit: lay the SAME rows out as
    ``n_files`` equal files under (a) the linear ``ORDER BY x, y`` layout
    and (b) the z-order layout, compute each file's min/max stats
    envelope (what a parquet footer / Iceberg manifest stores), and count
    how many files a box predicate ``x in x_range AND y in y_range``
    must scan under each.  Returns one row per layout:
    ``(layout, n_files, files_scanned, rows_scanned, rows_matched)`` —
    the concrete evidence for choosing a table's clustering, same spirit
    as ``tools/explain_audit``'s plan assertions but measured on data.

    This row-level global sort is the DIAGNOSTIC flavor (run it on a
    sample or one partition): at production scale the file envelopes
    come straight from manifest stats and the audit is
    files × O(1).  Production writes get the z layout via
    :func:`cluster_zorder` (sampled range exchange, no global sort).
    """
    if n_files < 1:
        raise ValueError(f"n_files must be >= 1, got {n_files}")
    x1, x2 = int(x_range[0]), int(x_range[1])
    y1, y2 = int(y_range[0]), int(y_range[1])
    base = df.select(
        F.col(x_col).cast("bigint").alias("x"),
        F.col(y_col).cast("bigint").alias("y"),
    ).select("x", "y", zorder_key("x", "y", bits).alias("zk"))

    def layout(name, order_cols):
        filed = base.select(
            "x",
            "y",
            F.expr(
                f"(({n_files} * (row_number() OVER (ORDER BY "
                + ", ".join(order_cols)
                + f") - 1)) div count(*) OVER ())"
            ).alias("file"),
        )
        per_file = filed.groupBy("file").agg(
            F.min("x").alias("min_x"),
            F.max("x").alias("max_x"),
            F.min("y").alias("min_y"),
            F.max("y").alias("max_y"),
            F.count(F.lit(1)).cast("bigint").alias("rows"),
            F.sum(
                F.when(
                    (F.col("x") >= x1) & (F.col("x") <= x2)
                    & (F.col("y") >= y1) & (F.col("y") <= y2),
                    1,
                ).otherwise(0)
            ).cast("bigint").alias("matched"),
        )
        scanned = (
            ~(
                (F.col("max_x") < x1) | (F.col("min_x") > x2)
                | (F.col("max_y") < y1) | (F.col("min_y") > y2)
            )
        ).cast("int")
        return per_file.agg(
            F.count(F.lit(1)).cast("bigint").alias("n_files"),
            F.sum(scanned).cast("bigint").alias("files_scanned"),
            F.sum(F.when(scanned == 1, F.col("rows")).otherwise(0))
            .cast("bigint")
            .alias("rows_scanned"),
            F.sum("matched").cast("bigint").alias("rows_matched"),
        ).select(
            F.lit(name).alias("layout"),
            "n_files",
            "files_scanned",
            "rows_scanned",
            "rows_matched",
        )

    lin = layout("linear", ["x", "y"])
    zo = layout("zorder", ["zk", "x", "y"])
    return lin.unionByName(zo)
