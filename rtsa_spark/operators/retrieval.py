"""Lexical ranked retrieval + rank fusion for the corpus-search surface.

The similarity operators (operators/similarity.py) give the DENSE side of
corpus search: cosine top-k, LSH, IVF, SemDeDup. This module adds the
LEXICAL side (BM25) and the standard way to combine the two lists
(reciprocal rank fusion) — together the textbook hybrid-search stack a
training-data pipeline uses to pull targeted slices out of a web corpus
("find the docs about X, lexically or semantically, and merge").

Exact-int contract (CLAUDE.md): every score is a BIGINT both engines
reproduce bit-for-bit.

- BM25 (Robertson/Sparck Jones; the Lucene ``k1=1.2, b=0.75`` flavor)
  needs ``idf = log2(1 + (N - df + 0.5) / (df + 0.5))
  = log2((2N + 2) / (2df + 1))``.  A whole-bit integer log
  (``bitlength(num div den) - 1``, the contrastive_selection identity)
  is too coarse here — every mid-frequency term floors to 0 bits and
  drops out of the score.  We keep quarter-bit resolution EXACTLY:
  ``floor(4 * log2(r)) = bitlength(num^4 div den^4) - 1`` — integer
  fourth powers, one integer division, one bitlength.  To keep the
  fourth powers inside BIGINT at any corpus size, both operands are
  first right-shifted by ``s = max(0, bitlength(2N + 2) - 15)`` (a
  shared shift cancels in the ratio up to the documented ~2^-14
  relative error; both engines apply the identical shift, so scores
  still agree exactly).
- The tf-saturation factor with ``k1 = 6/5``, ``b = 3/4`` and integer
  ``avgdl = L div N`` clears denominators:
  ``tf_sat = (22 * avg * tf) / (10 * avg * tf + 3 * avg + 9 * dl)``
  (multiply num/den of the textbook form by ``10 * avg``).  The final
  per-(term, doc) score is ONE floor division:
  ``score_e6 = (10^6 * idf_q * 22 * avg * tf)
  div (4 * (10 * avg * tf + 3 * avg + 9 * dl))`` — ``div 4`` returns
  quarter-bits to whole-bit units.  BIGINT headroom:
  ``10^6 * idf_q * 22 * avg * tf < 2^63`` — fine through ``avg ~ 10^4``
  and ``tf ~ 10^4`` simultaneously; shard longer docs first.
- RRF (Cormack, Clarke & Buettcher 2009): ``sum over lists of
  1 / (k + rank)`` becomes ``sum of 10^9 div (k + rank)`` — exact,
  engine-portable, and preserving the real RRF order for any plausible
  list depth (the e9 floor only merges ranks past ~30k).

Scale shape: BM25 never materializes a terms × docs matrix — the query
terms (a handful) broadcast-join against the token explode, df/N/L are
three tiny aggregates crossJoin-broadcast back, and the top-k is one
window over the matched docs only.  RRF is a unionByName + one groupBy.
"""

from __future__ import annotations

from typing import Sequence

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, Window

__all__ = ["bm25_topk", "rrf_fuse"]


def bm25_topk(
    df: DataFrame,
    query_terms: Sequence[str],
    k: int = 10,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """BM25 top-k documents for a bag of query terms (module docstring
    for the exact-int score derivation). Only documents matching at
    least one term score; ranks break ties to the smaller id.

    Output: ``(id, n_hit, score_e6, rank)`` — ``n_hit`` = how many
    distinct query terms the doc contains.
    """
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    terms = [t for t in dict.fromkeys(query_terms) if t]
    if not terms:
        raise ValueError("query_terms must contain at least one term")
    from rtsa_spark.plans.spread import fan_out_scan

    # r6 shape: NO token explode at all. The query terms are a handful,
    # so per-doc term frequencies are narrow in-row array counts
    # (size(filter(words, = term))); dl is size(words). Everything the
    # old explode + dl/tf/dfreq joins computed now comes from one narrow
    # projection plus ONE single-row aggregate (n_docs, len_total and
    # every term's df together) that broadcasts back. Counts are
    # identical to the explode form, so scores match bit-for-bit.
    base = fan_out_scan(df).select(
        F.col(id_col).alias("_id"),
        F.expr(f"filter(split({text_col}, ' '), x -> x != '')").alias("_w"),
    )
    def _tf(term: str):
        # closure, NOT a default arg: a two-parameter lambda would be
        # read by Spark as the (element, index) filter form
        return F.size(F.filter(F.col("_w"), lambda w: w == F.lit(term)))

    narrow = base.select(
        "_id",
        F.size("_w").cast("bigint").alias("dl"),
        *[
            _tf(t).cast("bigint").alias(f"_tf{i}")
            for i, t in enumerate(terms)
        ],
    ).where(F.col("dl") >= 1)
    # No share() barrier between the stats aggregate and the scoring
    # projection, deliberately: see plans/share.py.
    # ONE single-row aggregate carries n_docs, len_total and every
    # term's df; the quarter-bit idf per term (shared shift, module
    # docstring) is then scalar arithmetic on that row.
    stats = (
        narrow.agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("dl").cast("bigint").alias("len_total"),
            *[
                F.sum((F.col(f"_tf{i}") > 0).cast("bigint"))
                .cast("bigint")
                .alias(f"_df{i}")
                for i in range(len(terms))
            ],
        )
        .select(
            "n_docs",
            F.expr("len_total div n_docs").alias("avg_dl"),
            F.expr("greatest(0, length(bin(2 * n_docs + 2)) - 15)").alias(
                "_s"
            ),
            *[F.col(f"_df{i}") for i in range(len(terms))],
        )
        .select(
            "avg_dl",
            F.expr("shiftright(2 * n_docs + 2, cast(_s as int))").alias("_ns"),
            *[
                F.expr(
                    f"greatest(1, shiftright(2 * _df{i} + 1, cast(_s as int)))"
                ).alias(f"_ds{i}")
                for i in range(len(terms))
            ],
        )
        .select(
            "avg_dl",
            *[
                (
                    F.length(
                        F.bin(
                            F.expr(
                                "(_ns * _ns * _ns * _ns)"
                                f" div (_ds{i} * _ds{i} * _ds{i} * _ds{i})"
                            )
                        )
                    )
                    - 1
                ).cast("bigint").alias(f"_idf{i}")
                for i in range(len(terms))
            ],
        )
    )
    hit = [F.col(f"_tf{i}") > 0 for i in range(len(terms))]
    scored = (
        narrow.crossJoin(F.broadcast(stats))
        .select(
            "_id",
            sum(
                (h.cast("bigint") for h in hit), F.lit(0).cast("bigint")
            ).cast("bigint").alias("n_hit"),
            sum(
                (
                    F.when(
                        hit[i],
                        F.expr(
                            f"(1000000 * _idf{i} * 22 * avg_dl * _tf{i})"
                            f" div (4 * (10 * avg_dl * _tf{i}"
                            f" + 3 * avg_dl + 9 * dl))"
                        ),
                    ).otherwise(F.lit(0).cast("bigint"))
                    for i in range(len(terms))
                ),
                F.lit(0).cast("bigint"),
            ).cast("bigint").alias("score_e6"),
        )
        .where(F.col("n_hit") >= 1)
    )
    # distributed top-k (TakeOrderedAndProject — per-partition heads,
    # one driver merge of k rows), then rank the k survivors
    top = scored.orderBy(F.desc("score_e6"), F.asc("_id")).limit(k)
    w = Window.orderBy(F.desc("score_e6"), F.asc("_id"))
    return top.select(
        F.col("_id").alias(id_col),
        "n_hit",
        "score_e6",
        F.row_number().over(w).cast("bigint").alias("rank"),
    )


def rrf_fuse(
    rankings: Sequence[DataFrame],
    k: int = 60,
    id_col: str = "doc_id",
    rank_col: str = "rank",
) -> DataFrame:
    """Reciprocal rank fusion (Cormack, Clarke & Buettcher, SIGIR 2009)
    of N ranked lists: ``rrf = sum over lists of 1 / (k + rank)``,
    kept exact as ``sum of 10^9 div (k + rank)``. The standard way to
    merge a lexical (:func:`bm25_topk`) and a dense
    (``similarity.cosine_topk``) list into one hybrid ranking — robust
    to incomparable score scales because only ranks enter.

    Output: ``(id, lists_hit, rrf_e9, rank)`` ordered by fused score
    (ties to the smaller id).
    """
    if k < 0:
        raise ValueError(f"k must be >= 0, got {k}")
    if not rankings:
        raise ValueError("rankings must contain at least one list")
    parts = [
        r.select(
            F.col(id_col).alias("_id"),
            F.col(rank_col).cast("bigint").alias("_r"),
        )
        for r in rankings
    ]
    allr = parts[0]
    for p in parts[1:]:
        allr = allr.unionByName(p)
    fused = allr.groupBy("_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("lists_hit"),
        F.sum(F.expr(f"1000000000 div ({k} + _r)")).cast("bigint").alias(
            "rrf_e9"
        ),
    )
    w = Window.orderBy(F.desc("rrf_e9"), F.asc("_id"))
    return fused.select(
        F.col("_id").alias(id_col),
        "lists_hit",
        "rrf_e9",
        F.row_number().over(w).cast("bigint").alias("rank"),
    )
