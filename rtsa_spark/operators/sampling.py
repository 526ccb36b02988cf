"""Deterministic sampling / splitting / packing for training-data pipelines.

The reference engine rolls data up; an LLM-scale pipeline additionally has
to SELECT and SHARD it. Three primitives, all pure Catalyst projections or
single-window ops (no UDFs, no driver state), all reproducible run-to-run
and engine-to-engine because the randomness is a salted cryptographic hash
of the row key — the property a 100 TB pipeline needs so reruns, backfills
and multi-engine audits agree row-for-row:

- :func:`hash_bucket` / :func:`hash_split`: stable train/val/test
  assignment. Scan-speed, shuffle-free; the split of a 100 TB corpus is
  one projection.
- :func:`hash_sample`: stratified deterministic subsampling at an exact
  e4 rate per row key (Bernoulli-by-hash, the standard web-corpus
  downsampling move).
- :func:`token_budget_pack`: GPT-style sequence packing — documents are
  concatenated in a deterministic per-key order and chunked into
  fixed-token-budget shards; emits each doc's shard id + offset. One
  shuffle (window over the pack key); at production scale the pack key
  (dump/shard-group) bounds partition size, so the sort stays in-memory
  per partition.

Oracle portability: the hash is the 48-bit integer prefix of md5, which
DuckDB replays as ``('0x' || substr(md5(x), 1, 12))::BIGINT`` — proven
version-stable (unlike blob/encode parsing). Spark computes the identical
value via ``conv(substring(md5(x), 1, 12), 16, 10)``, the md5 mode of
:func:`rtsa_spark.operators.sketch._h48`.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, Window

from rtsa_spark.operators.sketch import _h48

#: modulus for hash buckets: 10^4 buckets = exact e4 rates, far below the
#: 2^48 hash range so the bucket distribution is uniform to ~3.6e-11
BUCKETS = 10_000


def hash_bucket(key_col, salt: str):
    """Deterministic bucket in [0, BUCKETS) from the salted md5 of the key.
    Pure Catalyst; identical in DuckDB via the md5-prefix recipe above."""
    return (
        _h48(F.concat_ws("|", F.lit(salt), F.col(key_col).cast("string")))
        % BUCKETS
    )


def hash_split(
    df: DataFrame,
    id_col: str = "doc_id",
    weights: tuple[int, int, int] = (9_800, 100, 100),
    salt: str = "split-v1",
) -> DataFrame:
    """Assign every row to train/val/test by hash bucket. ``weights`` are
    e4 shares summing to BUCKETS (default 98%/1%/1%). Adding data later
    never moves an existing row between splits (assignment depends only on
    the row's own key + salt) — the invariant that keeps eval sets
    uncontaminated across corpus versions."""
    if sum(weights) != BUCKETS or len(weights) != 3:
        raise ValueError(f"weights must be 3 shares summing to {BUCKETS}")
    b = hash_bucket(id_col, salt)
    split = (
        F.when(b < weights[0], "train")
        .when(b < weights[0] + weights[1], "val")
        .otherwise("test")
    )
    return df.withColumn("bucket", b).withColumn("split", split)


def hash_sample(
    df: DataFrame,
    rate_e4: int,
    id_col: str = "doc_id",
    salt: str = "sample-v1",
) -> DataFrame:
    """Keep rows whose bucket < rate_e4 — a deterministic Bernoulli
    subsample at rate rate_e4/10^4. Stratify by choosing a per-stratum
    rate upstream and filtering on it (the predicate is pushed to the
    scan either way)."""
    if not 0 <= rate_e4 <= BUCKETS:
        raise ValueError(f"rate_e4 must be in [0, {BUCKETS}]")
    return df.where(hash_bucket(id_col, salt) < rate_e4)


def cap_per_key(
    df: DataFrame,
    key_col: str,
    cap: int,
    id_col: str = "doc_id",
    salt: str = "cap-v1",
) -> DataFrame:
    """Cap any single key at ``cap`` rows, chosen by deterministic hash
    order — source balancing for corpus assembly (a dominant crawl domain
    must not swamp the mixture; cf. the skew treatment the rollup ladder
    applies to dominant sources, ``plans/skew.py``).

    Rows are ranked inside each key by the salted md5 bucket of their id
    (id as the tie-break), so the kept subset is stable under corpus
    growth in distribution (a row's rank only changes when new rows hash
    ahead of it) and reproducible across runs/engines.  Emits the kept
    rows plus ``keep_rank`` (1-based).

    Scale shape: one window per key.  For keys orders of magnitude over
    the cap, pre-filter with :func:`hash_sample` at a rate safely above
    ``cap/|key|`` first so the sort sees a bounded candidate set.
    """
    if cap < 1:
        raise ValueError(f"cap must be >= 1, got {cap}")
    w = Window.partitionBy(key_col).orderBy(
        hash_bucket(id_col, salt), F.col(id_col)
    )
    return (
        df.withColumn("keep_rank", F.row_number().over(w))
        .where(F.col("keep_rank") <= cap)
        .withColumn("keep_rank", F.col("keep_rank").cast("int"))
    )


def chunk_documents(
    df: DataFrame,
    window: int,
    stride: int,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Split each document into overlapping ``window``-token chunks every
    ``stride`` tokens — the standard context-window prep for long-document
    pretraining/embedding.  Chunk c covers tokens ``[c*stride, c*stride +
    window)``; a chunk is emitted iff it is the first OR its predecessor
    did not already reach the document's end (no fully-redundant tail
    suffixes).  Tokens are the corpus's single-space words (same
    tokenizer as :func:`rtsa_spark.functions.text.word_count`).

    Emits ``(id, chunk_id, start_tok, n_tok, chunk_hash)`` with
    ``chunk_hash`` the 48-bit md5 integer prefix of the re-joined chunk
    text — the engine-portable hash recipe (module docstring).

    Scale shape: pure Catalyst — split once, ``sequence`` + ``explode``
    + ``slice`` all codegen'd; no shuffle at all (narrow op), output size
    ~ total_tokens/stride rows per doc.
    """
    if window <= 0 or stride <= 0 or stride > window:
        raise ValueError(
            f"need 0 < stride <= window, got window={window} stride={stride}"
        )
    toks = df.select(
        F.col(id_col),
        F.split(F.col(text_col), " ").alias("_toks"),
    ).withColumn("_n", F.size("_toks"))
    chunks = toks.select(
        id_col,
        "_toks",
        "_n",
        F.explode(
            F.sequence(F.lit(0), F.col("_n") - 1, F.lit(stride))
        ).alias("start_tok"),
    ).where(
        (F.col("start_tok") == 0)
        | (F.col("start_tok") - stride + window < F.col("_n"))
    )
    piece = F.slice("_toks", F.col("start_tok") + 1, F.lit(window))
    joined = F.array_join(piece, " ")
    return chunks.select(
        id_col,
        F.floor(F.col("start_tok") / stride).cast("bigint").alias("chunk_id"),
        F.col("start_tok").cast("bigint").alias("start_tok"),
        F.size(piece).cast("bigint").alias("n_tok"),
        _h48(joined).alias("chunk_hash"),
    )


def domain_temperature_weights(
    df: DataFrame,
    key_col: str = "source",
    tokens_expr=None,
) -> DataFrame:
    """Temperature-based domain resampling weights at alpha = 1/2 (the
    multilingual-pretraining rebalancing move: w_d ∝ n_d^alpha flattens
    the domain distribution so small domains are not drowned).  alpha is
    FIXED at 1/2 because ``sqrt`` is IEEE-correctly-rounded on both
    engines while ``pow(x, a)`` is not — the only exponent with a
    bit-equality guarantee.

    Emits ``(key, n_docs, n_units, w_e6)`` with ``w_e6 = floor(1e6 *
    sqrt(n_units) / sum_d sqrt(n_units_d))``; the denominator is an
    ORDERED ascending-key float fold (the list_sum(list(x ORDER BY k))
    portability pattern).  ``tokens_expr`` defaults to counting rows
    (docs); pass e.g. ``F.col("n_chars")`` to weight by token/char mass.

    Scale shape: one map-side-combinable agg to domain cardinality, then
    a broadcast of the (tiny) per-domain table; the fold runs over
    #domains values, never over rows.
    """
    unit = F.lit(1) if tokens_expr is None else tokens_expr
    per = df.groupBy(F.col(key_col).alias("k")).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(unit).cast("bigint").alias("n_units"),
    )
    tot = per.select(
        F.aggregate(
            F.sort_array(
                F.collect_list(F.struct("k", F.sqrt(F.col("n_units")).alias("r")))
            ),
            F.lit(0.0),
            lambda acc, s: acc + s["r"],
        ).alias("_tot")
    )
    return per.crossJoin(F.broadcast(tot)).select(
        F.col("k").alias(key_col),
        F.col("n_docs").cast("bigint").alias("n_docs"),
        "n_units",
        F.floor(F.sqrt(F.col("n_units")) / F.col("_tot") * 1e6)
        .cast("bigint")
        .alias("w_e6"),
    )


def token_budget_pack(
    df: DataFrame,
    budget: int,
    tokens_col: str = "n_tokens",
    key_col: str = "source",
    order_col: str = "doc_id",
) -> DataFrame:
    """Pack documents into fixed token-budget training shards, GPT-style:
    within each ``key_col`` group, documents are concatenated in
    ``order_col`` order and the token stream is chunked every ``budget``
    tokens. Emits per doc: the shard its FIRST token lands in and the
    offset within that shard (docs may straddle shard boundaries — that
    is exactly how packed-sequence pretraining batches are built).

    One window (shuffle on key, sort by order) — integer-exact, so the
    DuckDB oracle replays it with the same SUM ... ROWS UNBOUNDED
    PRECEDING AND 1 PRECEDING window."""
    if budget <= 0:
        raise ValueError("budget must be positive")
    w = (
        Window.partitionBy(key_col)
        .orderBy(order_col)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    cum = F.coalesce(F.sum(tokens_col).over(w), F.lit(0)).cast("bigint")
    return df.withColumn("tok_before", cum).select(
        key_col,
        order_col,
        F.col(tokens_col).cast("bigint").alias(tokens_col),
        F.col("tok_before"),
        F.floor(F.col("tok_before") / budget).cast("bigint").alias("shard"),
        (F.col("tok_before") % budget).cast("bigint").alias("shard_offset"),
    )


def rank_normalize(
    df: DataFrame, key_col: str, id_col: str, score_col: str
) -> DataFrame:
    """Exact-int percent-rank of ``score_col`` within each key — the
    "keep the top X% by quality PER SOURCE" primitive a corpus filter
    composes with a threshold (``pr_e6 >= 700000`` keeps the top 30%).

    ``rank`` is ``row_number`` over ``(score ASC, id ASC)`` — ties break
    deterministically on the id rather than sharing a rank (SQL
    ``percent_rank``'s tie sharing differs subtly across engines; this
    construction replays identically anywhere).  ``pr_e6 =
    (1e6 * (rank-1)) div (n-1)``, 0 for singleton keys — integers end to
    end, so 1e6 means "best in key" exactly.

    Scale shape: one window sort per key; ``n`` rides the same partition
    as a frame-less count — no second shuffle, no join.
    """
    from pyspark.sql import Window

    w = Window.partitionBy("key").orderBy("score", "id")
    wall = Window.partitionBy("key")
    base = df.select(
        F.col(key_col).alias("key"),
        F.col(id_col).alias("id"),
        F.col(score_col).cast("bigint").alias("score"),
    )
    r = base.withColumn(
        "rank", F.row_number().over(w).cast("bigint")
    ).withColumn("n", F.count(F.lit(1)).over(wall).cast("bigint"))
    return r.select(
        "key",
        "id",
        "score",
        "rank",
        "n",
        F.when(F.col("n") > 1, F.expr("(1000000 * (rank - 1)) div (n - 1)"))
        .otherwise(F.lit(0))
        .cast("bigint")
        .alias("pr_e6"),
    )


def weighted_hash_sample(
    df: DataFrame,
    rates: DataFrame,
    key_col: str = "source",
    id_col: str = "doc_id",
    rate_col: str = "rate_e4",
    salt: str = "wsample-v1",
) -> DataFrame:
    """Per-key deterministic Bernoulli resampling — the op that APPLIES
    :func:`domain_temperature_weights`: keep a row iff its salted hash
    bucket falls below ITS KEY'S rate (``rates``: one ``(key, rate_e4)``
    row per key, e4 shares like :func:`hash_sample`; rates above
    ``BUCKETS`` clamp to keep-all — hash sampling cannot upsample).

    Same invariants as :func:`hash_sample`: adding data later never
    flips an existing row's fate (the decision depends only on the row's
    own id + salt), and the expected kept fraction per key is exactly
    ``rate_e4 / 10^4`` up to hash uniformity (~3.6e-11 bias).

    Scale shape: the rates table is key-count-sized — broadcast join,
    then a codegen'd filter; no shuffle of the fact table.
    """
    r = rates.select(
        F.col(key_col).alias("_rk"),
        F.least(F.col(rate_col).cast("bigint"), F.lit(BUCKETS)).alias("_rate"),
    )
    j = df.join(F.broadcast(r), df[key_col] == r["_rk"], "inner")
    return j.where(hash_bucket(id_col, salt) < F.col("_rate")).drop(
        "_rk", "_rate"
    )


def perplexity_partition(
    df: DataFrame,
    ref_mod: int = 83,
    by_col: str = "lang",
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """CCNet-style perplexity partitioning (Wenzek et al. 2020,
    arXiv:1911.00359): score every document by its mean unigram surprisal
    in WHOLE BITS against a reference-slice language model, then split
    each language into head / middle / tail terciles — the classic
    quality-stratification step before temperature-sampling a web corpus.

    The reference model is the corpus slice ``id % ref_mod == 0`` (the
    same deterministic benchmark-slice convention as
    ``dedup.contamination_check``); per-token bits use the exact-int
    identity ``floor(log2(N / c)) == bitlength(N div c) - 1`` of
    ``rollup.unigram_surprisal`` — no float log anywhere, so both engines
    agree on every score bit-for-bit. Out-of-vocabulary tokens cost
    ``bitlength(N)`` bits (strictly worse than any in-vocab token).

    Tercile assignment is the SCALE-CORRECT two-pass form, not a
    per-language global sort: pass 1 reduces docs to a per-(lang, score)
    histogram and finds the exact tercile thresholds on the cumulative
    counts (``t1`` = smallest score with ``3 * cum >= n``, ``t2`` with
    ``3 * cum >= 2n``); pass 2 assigns by broadcast comparison. Equal
    scores land in one bucket (threshold docs are never split), and no
    partition ever holds a whole language's documents. Head = lowest
    surprisal (most reference-like), the CCNet orientation.

    Output: ``(id, by, n_tok, mean_bits_e6, ppl_bucket)`` — one row per
    document with at least one token.
    """
    if ref_mod < 1:
        raise ValueError(f"ref_mod must be >= 1, got {ref_mod}")
    from rtsa_spark.plans.share import share
    from rtsa_spark.plans.spread import fan_out_scan

    df = fan_out_scan(df)  # token explode must not run on one scan task
    toks = df.select(
        F.col(id_col).alias("_id"),
        F.col(by_col).alias("_by"),
        F.explode(F.split(F.col(text_col), " ")).alias("token"),
    ).where(F.col("token") != "")
    ref = (
        toks.where(F.col("_id") % ref_mod == 0)
        .groupBy("token")
        .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    )
    total = ref.agg(F.sum("c").alias("n_total"))
    model = ref.crossJoin(F.broadcast(total)).select(
        "token",
        (F.length(F.bin(F.expr("n_total div c"))) - 1).cast("bigint").alias("bits"),
    )
    oov = total.select(
        F.length(F.bin(F.col("n_total"))).cast("bigint").alias("_oov_bits")
    )
    # share(): the tercile histogram and the final projection both read
    # the scores, so the token explode + model join run once
    scored = share(
        toks.join(model, "token", "left")
        .crossJoin(F.broadcast(oov))
        .groupBy("_id", "_by")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_tok"),
            F.sum(F.coalesce(F.col("bits"), F.col("_oov_bits")))
            .cast("bigint")
            .alias("sum_bits"),
        )
        .select(
            "_id",
            "_by",
            "n_tok",
            F.expr("(1000000 * sum_bits) div n_tok").alias("mean_bits_e6"),
        )
    )
    hist = scored.groupBy("_by", "mean_bits_e6").agg(
        F.count(F.lit(1)).cast("bigint").alias("h")
    )
    wcum = (
        Window.partitionBy("_by")
        .orderBy("mean_bits_e6")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = hist.select(
        "_by",
        "mean_bits_e6",
        F.sum("h").over(wcum).alias("cum"),
        F.sum("h").over(Window.partitionBy("_by")).alias("n"),
    )
    thr = cum.groupBy("_by").agg(
        F.min(F.when(3 * F.col("cum") >= F.col("n"), F.col("mean_bits_e6"))).alias("_t1"),
        F.min(F.when(3 * F.col("cum") >= 2 * F.col("n"), F.col("mean_bits_e6"))).alias("_t2"),
    )
    return (
        scored.join(F.broadcast(thr), "_by")
        .select(
            F.col("_id").alias(id_col),
            F.col("_by").alias(by_col),
            "n_tok",
            "mean_bits_e6",
            F.when(F.col("mean_bits_e6") > F.col("_t2"), F.lit("tail"))
            .when(F.col("mean_bits_e6") > F.col("_t1"), F.lit("middle"))
            .otherwise(F.lit("head"))
            .alias("ppl_bucket"),
        )
    )


def contrastive_selection(
    df: DataFrame,
    ref_mod: int = 83,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Moore-Lewis cross-entropy difference selection (ACL 2010,
    "Intelligent Selection of Language Model Training Data"): keep the
    documents the TARGET model finds easier than the GENERAL model —
    ``H_in(doc) < H_out(doc)``. The standard domain-adaptation filter for
    assembling a task-shaped corpus from a web dump.

    Both models are whole-bit unigram models (the exact-int
    ``bitlength(N div c) - 1`` identity shared with
    :func:`perplexity_partition`): the in-domain model from the
    ``id % ref_mod == 0`` reference slice, the out-domain model from the
    whole corpus. OOV under a model costs ``bitlength(N_model)`` bits.
    The decision needs NO division — ``keep = sum_bits_in <
    sum_bits_out`` compares two exact BIGINT sums over the same tokens,
    so the score stays engine-portable with zero rounding conventions.

    Output: one row per document with >= 1 token —
    ``(id, n_tok, sum_bits_in, sum_bits_out, diff_bits, keep)`` with
    ``diff_bits = sum_bits_in - sum_bits_out`` (negative = target-like).
    ``keep`` is the textbook strict threshold-0 rule; with a very small
    reference slice it can keep nothing (every token scores worse under
    a sparse model) — the practical move is fraction-based selection,
    ranking ``-diff_bits`` through :func:`rank_normalize` and keeping
    the top X%.

    Scale shape: one token explode feeds both models; each model is a
    vocab-sized agg joined back broadcast-style (AQE); one doc-level agg.
    No sorts, no windows, no Python.
    """
    if ref_mod < 1:
        raise ValueError(f"ref_mod must be >= 1, got {ref_mod}")
    from rtsa_spark.plans.spread import fan_out_scan

    df = fan_out_scan(df)  # token explode must not run on one scan task
    toks = df.select(
        F.col(id_col).alias("_id"),
        F.explode(F.split(F.col(text_col), " ")).alias("token"),
    ).where(F.col("token") != "")

    def model(token_df, tag):
        cnt = token_df.groupBy("token").agg(
            F.count(F.lit(1)).cast("bigint").alias("c")
        )
        tot = cnt.agg(F.sum("c").alias("n_total"))
        bits = cnt.crossJoin(F.broadcast(tot)).select(
            "token",
            (F.length(F.bin(F.expr("n_total div c"))) - 1)
            .cast("bigint")
            .alias(f"bits_{tag}"),
        )
        oov = tot.select(
            F.length(F.bin(F.col("n_total")))
            .cast("bigint")
            .alias(f"_oov_{tag}")
        )
        return bits, oov

    bits_in, oov_in = model(toks.where(F.col("_id") % ref_mod == 0), "in")
    bits_out, oov_out = model(toks, "out")
    scored = (
        toks.join(bits_in, "token", "left")
        .join(bits_out, "token", "left")
        .crossJoin(F.broadcast(oov_in))
        .crossJoin(F.broadcast(oov_out))
        .groupBy("_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_tok"),
            F.sum(F.coalesce(F.col("bits_in"), F.col("_oov_in")))
            .cast("bigint")
            .alias("sum_bits_in"),
            F.sum(F.coalesce(F.col("bits_out"), F.col("_oov_out")))
            .cast("bigint")
            .alias("sum_bits_out"),
        )
    )
    return scored.select(
        F.col("_id").alias(id_col),
        "n_tok",
        "sum_bits_in",
        "sum_bits_out",
        (F.col("sum_bits_in") - F.col("sum_bits_out")).alias("diff_bits"),
        (F.col("sum_bits_in") < F.col("sum_bits_out")).alias("keep"),
    )


def dsir_select(
    df: DataFrame,
    ref_mod: int = 83,
    m: int = 4096,
    keep_num: int = 1,
    keep_den: int = 4,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """DSIR — Data Selection via Importance Resampling (Xie et al. 2023,
    arXiv:2302.03169): score every document by the log importance weight
    ``log p_target(features) - log p_raw(features)`` under bag-of-hashed-
    n-gram models and keep the highest-weight ``keep_num / keep_den``
    fraction of the corpus. The modern pretraining-corpus counterpart of
    Moore-Lewis (:func:`contrastive_selection`): where Moore-Lewis
    contrasts two token-level LMs, DSIR hashes unigrams AND bigrams into
    ``m`` buckets so the model is a fixed-size vector that fits in one
    broadcast regardless of corpus vocabulary.

    Determinism contract: the hash is the module's portable md5-prefix
    stream (module docstring), the target slice is ``id % ref_mod == 0``
    (the benchmark-slice convention shared with
    ``dedup.contamination_check``), both bucket models are Laplace +1
    smoothed, and the per-bucket log ratio is kept in WHOLE BITS via the
    exact-int identity ``floor(log2(z)) + 1 == bitlength(z)``::

        w[b] = bitlength((c_t[b] + 1) * (N_r + m))
             - bitlength((c_r[b] + 1) * (N_t + m))

    a signed integer within 1 bit of ``log2(p_t[b] / p_r[b])`` — no float
    log, no division, so both engines agree on every score exactly. The
    paper's Gumbel-noise resampling step is intentionally replaced by the
    deterministic top-fraction rule (threshold found by the same two-pass
    cumulative-histogram scan as :func:`perplexity_partition`: no global
    sort, ties at the threshold all kept, so reruns and engines agree).

    Scale shape (r6): exactly TWO corpus passes, both minimal. Pass 1
    (model): explode the per-doc bucket array, grouped-aggregate to at
    most ``m`` rows with map-side partials (the target slice is a
    conditional count — never a second explode). Pass 2 (scores): the
    fused model becomes ONE dense m-slot broadcast array row and each
    doc's score is a narrow in-task array fold over its bucket array —
    no per-feature rows shuffle, no join probe per feature (the r5 form
    re-ran the explode+hash map stage up to 4x: broadcast-join-injected
    ``isnotnull`` filters and per-branch column pruning defeat AQE
    exchange reuse). The scored rows (one per doc) are shared between
    the threshold histogram and the final projection through a
    repartition exchange keyed on every output column, which pruning
    cannot perturb. The keep threshold is a histogram over distinct
    scores. No windows over the corpus, no sorts, no Python. BIGINT
    headroom: the products
    need ``(max_count + 1) * (N + m) < 2^63``, i.e. fine through ~3e9
    feature occurrences per slice; shard the corpus (or widen to
    DECIMAL(38,0)) past that.

    Output: one row per document with >= 1 token —
    ``(id, n_feat, logw_bits, keep)``, ``logw_bits`` descending =
    most target-like first.
    """
    if ref_mod < 1:
        raise ValueError(f"ref_mod must be >= 1, got {ref_mod}")
    if m < 2:
        raise ValueError(f"m must be >= 2, got {m}")
    if not (0 < keep_num <= keep_den):
        raise ValueError(
            f"keep fraction must be in (0, 1], got {keep_num}/{keep_den}"
        )
    from rtsa_spark.plans.spread import fan_out_scan

    df = fan_out_scan(df)  # feature hashing must not run on one scan task
    toks = df.select(
        F.col(id_col).alias("_id"),
        F.expr(f"filter(split({text_col}, ' '), x -> x != '')").alias("_t"),
    ).where(F.size("_t") >= 1)
    # per-doc FEATURE-BUCKET ARRAY (unigrams ++ bigrams, hashed): the
    # model pass explodes it; the scoring pass folds over it in place —
    # no per-feature rows ever leave a task on the scoring side.
    buckets = toks.select(
        "_id",
        F.transform(
            F.concat(
                F.col("_t"),
                F.when(
                    F.size("_t") >= 2,
                    F.expr(
                        "transform(sequence(0, size(_t) - 2),"
                        " i -> concat(_t[i], ' ', _t[i + 1]))"
                    ),
                ).otherwise(F.expr("array()")),
            ),
            lambda f: _h48(f) % m,
        ).alias("_bs"),
    )
    feats = buckets.select("_id", F.explode("_bs").alias("b"))

    # Both bucket models come out of ONE grouped aggregation over one
    # explode pass: the raw count is the plain count, the target count is
    # the conditional count of the ``id % ref_mod == 0`` slice. (An empty
    # target slice yields c_t = 0 rows and the Laplace total stays m —
    # matches the oracle's coalesce.)
    cnt = feats.groupBy("b").agg(
        F.count(F.lit(1)).cast("bigint").alias("c_r"),
        F.sum(
            F.when(F.col("_id") % ref_mod == 0, F.lit(1)).otherwise(F.lit(0))
        )
        .cast("bigint")
        .alias("c_t"),
    )
    tots = cnt.agg(
        (F.coalesce(F.sum("c_r"), F.lit(0)) + m).alias("n_r"),
        (F.coalesce(F.sum("c_t"), F.lit(0)) + m).alias("n_t"),
    )
    weights = cnt.crossJoin(F.broadcast(tots)).select(
        "b",
        (
            F.length(F.bin((F.col("c_t") + 1) * F.col("n_r")))
            - F.length(F.bin((F.col("c_r") + 1) * F.col("n_t")))
        )
        .cast("bigint")
        .alias("w_bits"),
    )
    # The whole model as ONE dense m-slot array row (m-bounded by the
    # DSIR premise "the model fits in one broadcast"): scoring is then a
    # NARROW per-doc array fold — O(1) element_at per feature — instead
    # of an explode + hash-join probe + per-feature shuffle rows. Buckets
    # absent from cnt are unreachable (every feature's own count makes
    # its bucket present), so their 0-fill is never read.
    warr = weights.agg(
        F.map_from_arrays(
            F.collect_list("b"), F.collect_list("w_bits")
        ).alias("_wm")
    ).select(
        F.expr(
            f"transform(sequence(0, {m - 1}),"
            " i -> coalesce(element_at(_wm, cast(i as bigint)), 0L))"
        ).alias("_wa")
    )
    scored = (
        buckets.crossJoin(F.broadcast(warr))
        .select(
            "_id",
            F.size("_bs").cast("bigint").alias("n_feat"),
            F.expr(
                "aggregate(_bs, 0L,"
                " (acc, x) -> acc + element_at(_wa, cast(x + 1 as int)))"
            ).alias("logw_bits"),
        )
        # materialization point shared by the histogram and the final
        # projection: distinct = a grouped aggregation on EVERY output
        # column (ids are unique, so it is a no-op on the data). Grouping
        # keys cannot be pruned per-branch, so both consumers share one
        # canonical exchange and the (hash + fold) map stage executes
        # exactly once. (NOT a repartition: CollapseRepartition would
        # fuse it with an upstream fan-out repartition and sink the fold
        # below the exchange into the unsplittable scan task.)
        .distinct()
    )
    hist = scored.groupBy("logw_bits").agg(
        F.count(F.lit(1)).cast("bigint").alias("h")
    )
    wcum = Window.orderBy(F.desc("logw_bits")).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    thr = (
        hist.select(
            "logw_bits",
            F.sum("h").over(wcum).alias("cum"),
            F.sum("h").over(
                Window.rowsBetween(
                    Window.unboundedPreceding, Window.unboundedFollowing
                )
            ).alias("n"),
        )
        .groupBy()
        .agg(
            F.max(
                F.when(
                    keep_den * F.col("cum") >= keep_num * F.col("n"),
                    F.col("logw_bits"),
                )
            ).alias("_thr")
        )
    )
    return scored.crossJoin(F.broadcast(thr)).select(
        F.col("_id").alias(id_col),
        "n_feat",
        "logw_bits",
        (F.col("logw_bits") >= F.col("_thr")).alias("keep"),
    )


def apportion_budget(
    df: DataFrame,
    total: int,
    key_col: str = "source",
    weight_col: str = "weight",
) -> DataFrame:
    """Integer apportionment of a token/document budget across domains by
    the largest-remainder (Hamilton) method: every key gets
    ``floor(total * w / W)``, and the ``total - sum(floors)`` leftover
    units go one each to the largest fractional remainders. The exact
    counterpart of multiplying mixture weights by a budget and rounding —
    guaranteeing the allocations SUM EXACTLY to ``total``, which naive
    per-key rounding does not (the classic off-by-a-few that breaks
    "pack exactly N tokens" contracts downstream;
    :func:`domain_temperature_weights` produces the weights, this turns
    them into consumable integer quotas for :func:`token_budget_pack`).

    Deterministic and engine-exact: quotas are BIGINT ``div``/``pmod``
    (``total * w`` must stay < 2^63), remainder ties break to the
    smaller key. Zero-weight keys get 0. ``W = sum(weights)`` must be
    > 0.

    Scale shape: one agg for W (broadcast back), one projection, one
    rank window over keys (domains — thousands, not rows).

    Output: ``(key, weight, base_alloc, alloc)`` with
    ``sum(alloc) == total`` (pytest-pinned).
    """
    if total < 0:
        raise ValueError(f"total must be >= 0, got {total}")
    wsum = df.agg(F.sum(F.col(weight_col)).cast("bigint").alias("_w"))
    quotas = (
        df.select(
            F.col(key_col).alias("_k"),
            F.col(weight_col).cast("bigint").alias("weight"),
        )
        .crossJoin(F.broadcast(wsum))
        .select(
            "_k",
            "weight",
            F.expr(f"({total} * weight) div _w").alias("base_alloc"),
            F.expr(f"pmod({total} * weight, _w)").alias("_rem"),
        )
    )
    leftover = quotas.agg(
        (F.lit(total) - F.sum("base_alloc")).cast("bigint").alias("_left")
    )
    w = Window.orderBy(F.desc("_rem"), F.asc("_k"))
    return (
        quotas.crossJoin(F.broadcast(leftover))
        .select(
            "_k",
            "weight",
            "base_alloc",
            (
                F.col("base_alloc")
                + F.when(
                    F.row_number().over(w) <= F.col("_left"), F.lit(1)
                ).otherwise(F.lit(0))
            ).cast("bigint").alias("alloc"),
        )
        .select(
            F.col("_k").alias(key_col),
            "weight",
            F.col("base_alloc").cast("bigint").alias("base_alloc"),
            "alloc",
        )
    )


def epoch_plan(
    df: DataFrame,
    id_col: str = "doc_id",
    n_epochs: int = 1,
    repeat_col: str | None = None,
    salt: str = "epoch",
    with_position: bool = False,
) -> DataFrame:
    """Materialize a DETERMINISTIC multi-epoch training order: each
    document appears ``repeats`` times per epoch (``repeat_col``, the
    integer column a temperature/mixing policy produced — default 1)
    at a shuffle position derived from the salted hash of (salt, epoch,
    id, copy).  Same inputs, same order, any engine, any rerun — the
    property a resumable 10^12-sequence dataloader needs so "epoch 3,
    position 1.7e9" names the same document everywhere.

    Emits ``(epoch, id, copy, order_key)`` — consumers write shards
    sorted by ``(epoch, order_key)`` (the cluster-on-write machinery in
    ``storage``); with ``with_position=True`` a per-epoch dense
    ``position`` is assigned (row_number — a full per-epoch sort
    window, the honest cost of a materialized position; leave it off
    and sort on write at scale).  Ties (a 48-bit hash collision) are
    pinned by (order_key, id, copy).

    Scale shape: one literal epoch fan-out x one bounded copy fan-out
    (both in-row ``explode(sequence(...))``), one projection for the
    hash — shuffle-free unless ``with_position`` asks for the sort.
    """
    if n_epochs < 1:
        raise ValueError(f"n_epochs must be >= 1, got {n_epochs}")
    rep = (
        F.col(repeat_col).cast("bigint")
        if repeat_col is not None
        else F.lit(1).cast("bigint")
    )
    base = df.select(
        F.col(id_col).alias("id"), rep.alias("_rep")
    ).where(F.col("_rep") > 0)
    fan = base.select(
        "id",
        "_rep",
        F.explode(
            F.sequence(F.lit(0), F.lit(int(n_epochs) - 1))
        ).alias("epoch"),
    ).select(
        "epoch",
        "id",
        F.explode(F.expr("sequence(cast(1 as bigint), _rep)")).alias("copy"),
    )
    key = _h48(
        F.concat_ws(
            ":",
            F.lit(salt),
            F.col("epoch").cast("string"),
            F.col("id").cast("string"),
            F.col("copy").cast("string"),
        )
    )
    out = fan.select("epoch", "id", "copy", key.alias("order_key"))
    if not with_position:
        return out
    w = Window.partitionBy("epoch").orderBy("order_key", "id", "copy")
    return out.withColumn(
        "position", F.row_number().over(w).cast("bigint")
    )
