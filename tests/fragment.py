"""Shared test helper: fragment a published parquet dir in place."""

from __future__ import annotations

import os
import shutil


def split_parquet_dir(spark, d, n):
    """Rewrite the parquet files of dir ``d`` as ``n`` unsorted
    ``frag-i.parquet`` files (the fragmented layout compaction undoes),
    swapped in at the os level so no table metadata sees the change."""
    side = d + "_fragtmp"
    spark.read.parquet(d).repartition(n).write.parquet(side)
    for f in os.listdir(d):
        if f.endswith(".parquet"):
            os.remove(os.path.join(d, f))
    parts = sorted(f for f in os.listdir(side) if f.endswith(".parquet"))
    for i, f in enumerate(parts):
        os.rename(os.path.join(side, f), os.path.join(d, f"frag-{i}.parquet"))
    shutil.rmtree(side)
