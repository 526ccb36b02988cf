"""Exchange barrier for a subtree that several consumers read.

Spark has no common-subexpression materialization: a DataFrame that two
branches of one plan consume is planned once per branch, and the two
copies can only meet through exchange reuse — and only if both branches
keep the same columns down to the same Exchange.  :func:`share` plants
that Exchange.

Why every column and not ``distinct``: the shared frame is usually a
``groupBy`` output whose hash partitioning already satisfies a
``distinct`` on the same keys, so no exchange is planned and there is
nothing to reuse.  A repartition keyed on EVERY output column forces one
that no branch's column pruning can alter.  Its partitioning is otherwise
irrelevant: every consumer re-aggregates.

When the barrier pays (measured r6 at sf1): the shared subtree is an
explode or a hash pass (a word explode, a sketch hash) and at least two
FULL-WIDTH consumers read it — the mg word counts (about 15 CPU-s per
avoided pass), the hll daily sketch, the perplexity scores.

When it does not: a consumer that prunes to one column and broadcasts,
or a subtree that is only a narrow split and count, recomputes cheaper
than the extra exchange costs.  The count-min ladder took 3.57 s with the
barrier against 2.8-3.0 s without (its probe branch); bm25 took 2.0 s
with it against 1.5 s without.  Those two leave the duplicate pass in.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame


def share(df: DataFrame) -> DataFrame:
    """``df`` behind a repartition on every output column: one shuffle
    that each consumer's plan reuses, so ``df``'s subtree runs once."""
    return df.repartition(*[F.col(c) for c in df.columns])
