"""Dataset-management operators for training-data pipelines: the
reproducible-split / sequence-packing / scrubbing trio every large-scale
LLM data pipeline needs (brief: first-class alongside SURVEY.md §2 —
the reference has no equivalent; these are Spark-native additions).

All three are pure Catalyst (zero UDFs, zero shuffles beyond the stated
ones) and deterministic via portable md5 arithmetic, so DuckDB oracles
check them value-for-value.
"""

from __future__ import annotations

import math
from collections.abc import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from radient_spark.lineage import truncate

from radient_spark.functions import text as X
from radient_spark.operators.dedup import str_hash
from radient_spark.session import local_frame

SPLIT_BUCKETS = 10_000


def hash_split(
    df: DataFrame,
    id_col: str,
    weights: dict[str, float] | None = None,
    seed: int = 42,
    out_col: str = "split",
) -> DataFrame:
    """Deterministic, reproducible dataset split: md5-hash the id into
    one of SPLIT_BUCKETS buckets and assign by cumulative weight ranges.

    Properties that matter at 100 TB: stateless per row (no shuffle, no
    sampling state), stable across runs/partitionings/engines (portable
    md5, not JVM hashCode), and append-consistent — new rows never move
    existing rows between splits.
    """
    weights = weights or {"train": 0.9, "val": 0.1}
    total = sum(weights.values())
    if total <= 0:
        raise ValueError("weights must sum to a positive value")
    bucket = str_hash(
        F.concat_ws("_", F.lit(seed), F.col(id_col))
    ) % SPLIT_BUCKETS
    expr = None
    acc = 0.0
    items = list(weights.items())
    for name, w in items[:-1]:
        acc += w / total * SPLIT_BUCKETS
        clause = F.when(bucket < int(acc), F.lit(name))
        expr = clause if expr is None else expr.when(bucket < int(acc), F.lit(name))
    last = F.lit(items[-1][0])
    expr = last if expr is None else expr.otherwise(last)
    return df.withColumn(out_col, expr)


def stratified_sample(
    df: DataFrame,
    strata_col: str,
    id_col: str,
    target_per_stratum: int,
    seed: int = 42,
    rate_col: str = "rate_bp",
) -> DataFrame:
    """Deterministic stratified downsampling: cap every stratum at
    ~target_per_stratum rows via a stateless md5 keep-rule. The per-
    stratum rate (in SPLIT_BUCKETS basis points) is
    floor(target * BUCKETS / n_s) capped at BUCKETS, and a row survives
    iff its hash bucket < rate — integer arithmetic end-to-end, so the
    DuckDB oracle reproduces the exact kept set.

    At 100 TB: one map-side-combined groupBy over strata (tiny result,
    broadcast back), then a stateless per-row filter — no shuffle of the
    data itself, no sampling state, append-consistent like hash_split.
    The realized count concentrates around the target (binomial, not
    exact); exact-k sampling needs an ordered cut — use
    cluster_balanced_sample's window for that contract.
    """
    if target_per_stratum < 0:
        raise ValueError("target_per_stratum must be >= 0")
    counts = df.groupBy(strata_col).agg(F.count(F.lit(1)).alias("__n"))
    rates = counts.select(
        strata_col,
        F.least(
            F.lit(SPLIT_BUCKETS),
            F.floor(
                F.lit(target_per_stratum) * SPLIT_BUCKETS / F.col("__n")
            ),
        )
        .cast("long")
        .alias(rate_col),
    )
    bucket = str_hash(F.concat_ws("_", F.lit(seed), F.col(id_col))) % SPLIT_BUCKETS
    return (
        df.join(F.broadcast(rates), strata_col)
        .filter(bucket < F.col(rate_col))
    )


def sequential_pack(
    df: DataFrame,
    token_col: str,
    order_col: str,
    partition_cols: list[str] | None = None,
    budget: int = 2048,
    out_col: str = "chunk_id",
) -> DataFrame:
    """Concat-then-chunk sequence packing: documents are laid out in
    `order_col` order (per partition group) and cut into chunks of
    `budget` tokens — chunk_id = floor(tokens_before / budget), the
    standard "concatenate everything, slice at the context length"
    packing of LLM pretraining pipelines.

    One window (= one shuffle on the partition cols) computes the
    running token offset; no driver state, no iteration.
    """
    w = Window.partitionBy(*(partition_cols or [])).orderBy(
        F.col(order_col).asc()
    ).rowsBetween(Window.unboundedPreceding, -1)
    before = F.coalesce(F.sum(token_col).over(w), F.lit(0))
    return df.withColumn(out_col, F.floor(before / budget).cast("int"))


PII_EMAIL = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
PII_URL = r"https?://[^\s]+"
PII_PHONE = r"\+?\d[\d\- ]{7,}\d"


def scrub_pii(
    col,
    mask_email: str = "<EMAIL>",
    mask_url: str = "<URL>",
    mask_phone: str = "<PHONE>",
):
    """Mask emails, URLs, and phone-like digit runs in a string column —
    chained regexp_replace, entirely JVM-side (the patterns are RE2/Java
    compatible so oracles reproduce them)."""
    out = F.regexp_replace(col, PII_URL, mask_url)
    out = F.regexp_replace(out, PII_EMAIL, mask_email)
    return F.regexp_replace(out, PII_PHONE, mask_phone)


def pii_counts(col) -> tuple:
    """(n_emails, n_urls) occurrence counts per row, for audit reports."""
    return (
        F.size(F.regexp_extract_all(col, F.lit(PII_EMAIL), F.lit(0))),
        F.size(F.regexp_extract_all(col, F.lit(PII_URL), F.lit(0))),
    )


def ngram_hash_set(
    df: DataFrame, text_col: str, id_col: str, n: int = 13
) -> DataFrame:
    """Distinct (id, gram_hash) rows: portable md5 hashes of the document's
    word n-grams (shingles). Tokens -> shingles are staged projections so
    Catalyst computes each once per row; the explode emits (id, long)
    pairs, never gram text, so shuffle payload is 16 bytes per gram."""
    from radient_spark.functions.stage import stage

    staged = stage(df, __dc_toks=X.tokens(F.col(text_col)))
    hs = F.array_distinct(
        F.transform(
            X.shingles_from_tokens("__dc_toks", n),
            lambda g: str_hash(g),
        )
    )
    return staged.select(F.col(id_col), F.explode(hs).alias("gram_hash"))


def decontaminate(
    train_df: DataFrame,
    eval_df: DataFrame,
    text_col: str,
    id_col: str,
    n: int = 13,
    hit_col: str = "n_hit_grams",
) -> DataFrame:
    """Benchmark decontamination (GPT-3 appendix C / Gopher style): count,
    per training document, how many of its distinct word n-grams also
    occur anywhere in the eval set. Rows with hit_col == 0 are clean;
    the caller filters or audits on it.

    Scale shape: the eval side collapses to DISTINCT gram hashes and is
    broadcast — eval suites are small by nature (the real-world contract;
    millions of grams = a few MB of longs), so the train corpus streams
    through a broadcast-hash semi-ish join with no corpus shuffle. The
    only shuffle is the per-document hit count over matched grams, whose
    volume is the contamination overlap, not the corpus.
    """
    train_grams = ngram_hash_set(train_df, text_col, id_col, n)
    eval_grams = (
        ngram_hash_set(eval_df, text_col, id_col, n)
        .select("gram_hash")
        .distinct()
    )
    hits = (
        train_grams.join(F.broadcast(eval_grams), "gram_hash")
        .groupBy(id_col)
        .agg(F.count(F.lit(1)).alias(hit_col))
    )
    return train_df.join(hits, id_col, "left").withColumn(
        hit_col, F.coalesce(F.col(hit_col), F.lit(0))
    )


def temperature_thresholds(
    df: DataFrame, strata_col: str, alpha_sqrt: bool = True
) -> DataFrame:
    """Per-stratum keep-thresholds for temperature (alpha = 0.5) mixing:
    rate_s = sqrt(n_min / n_s), so the expected post-sample sizes are
    proportional to sqrt(n_s) — the standard multilingual rebalancing
    (mT5-style) with the smallest stratum kept whole.

    Determinism: n_min/n_s is one IEEE division and sqrt is
    correctly-rounded by IEEE 754 in both the JVM and C, so
    floor(rate * SPLIT_BUCKETS) is bit-identical in any engine — no
    pow()-libm hazard (which is why alpha is fixed at 0.5).
    """
    counts = df.groupBy(strata_col).agg(F.count(F.lit(1)).alias("n_before"))
    n_min = F.min("n_before").over(Window.partitionBy())
    rate = F.sqrt(n_min.cast("double") / F.col("n_before").cast("double"))
    return counts.withColumn(
        "keep_threshold",
        F.floor(rate * SPLIT_BUCKETS).cast("long"),
    )


def temperature_sample(
    df: DataFrame,
    strata_col: str,
    id_col: str,
    seed: int = 42,
) -> DataFrame:
    """Keep each row iff its md5 bucket falls under its stratum's
    temperature threshold — stateless per row given the (tiny, broadcast)
    threshold table, reproducible, append-consistent within a stratum
    census. Two passes over the corpus (count, then filter) — the same
    shape as any global-statistics sampler; the first pass is a pure
    map-side-combine count."""
    thresholds = temperature_thresholds(df, strata_col)
    bucket = (
        str_hash(F.concat_ws("_", F.lit(seed), F.col(id_col)))
        % SPLIT_BUCKETS
    )
    return (
        df.join(F.broadcast(thresholds), strata_col)
        .filter(bucket < F.col("keep_threshold"))
        .drop("n_before", "keep_threshold")
    )


def unigram_surprisal_vocab(
    ref_df: DataFrame, text_col: str = "text"
) -> DataFrame:
    """Train a unigram language model on a reference corpus and return
    (token, surprisal) where surprisal = ln(N_total / count(token)) —
    i.e. -ln p(token) under the MLE unigram model.

    Determinism contract: the single ln() per *vocab entry* is rounded to
    6 decimals and stored as DECIMAL(18,6), so every downstream document
    aggregate is an exact decimal sum — the one libm call per distinct
    token is the only (negligible, ≤1 ulp) cross-engine surface.

    Scale shape: one map-side-combined groupBy over exploded tokens; the
    CCNet contract is that the LM trains on a curated reference corpus
    (Wikipedia-sized), so the resulting vocab broadcasts; the corpus being
    scored never shuffles.
    """
    tok = ref_df.filter(F.length(F.trim(text_col)) > 0).select(
        F.explode(X.tokens(F.col(text_col))).alias("tk")
    )
    vocab = tok.groupBy("tk").agg(F.count(F.lit(1)).alias("cnt"))
    total = F.sum("cnt").over(Window.partitionBy())
    return vocab.select(
        "tk",
        F.round(
            F.log(total.cast("double") / F.col("cnt").cast("double")), 6
        )
        .cast("decimal(18,6)")
        .alias("surprisal"),
    )


def perplexity_buckets(
    df: DataFrame,
    vocab: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    strata_col: str = "lang",
    n_buckets: int = 3,
) -> DataFrame:
    """CCNet-style perplexity filtering (Wenzek et al. 2020): score each
    document by its mean token surprisal under a unigram LM (monotone in
    log-perplexity) and split each stratum into n_buckets quantile buckets
    with NTILE — bucket 1 = head (most fluent), n = tail.

    Out-of-vocabulary tokens score 0 here (the MLE model trained on the
    same corpus has no OOV; when scoring against an external vocab, join
    semantics make OOV free text — callers can add a smoothing constant).

    Output: (id_col, strata_col, logppl, ppl_bucket). One shuffle to
    re-group exploded tokens per document, one window per stratum.
    """
    tok = df.filter(F.length(F.trim(text_col)) > 0).select(
        F.col(id_col), F.col(strata_col),
        F.explode(X.tokens(F.col(text_col))).alias("tk"),
    )
    scored = (
        tok.join(F.broadcast(vocab), "tk", "left")
        .groupBy(id_col, strata_col)
        .agg(
            (
                F.sum(F.coalesce(F.col("surprisal"), F.lit(0).cast("decimal(18,6)")))
                .cast("double")
                / F.count(F.lit(1))
            ).alias("logppl")
        )
    )
    # exact per-stratum NTILE semantics WITHOUT the per-language
    # single-reducer window sort (each language's full document set in
    # ONE reducer — the 100 TB cliff); same engine as DSIR's deciles
    return distributed_ntile_grouped(
        scored,
        n_buckets,
        strata_col,
        [F.col("logppl").asc(), F.col(id_col).asc()],
        range_col=F.col("logppl"),
        out_col="ppl_bucket",
    ).select(id_col, strata_col, "logppl", "ppl_bucket")


def bigram_perplexity(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    strata_col: str = "lang",
    lam: float = 0.7,
    n_buckets: int = 3,
) -> DataFrame:
    """Interpolated bigram-LM perplexity buckets — the KenLM-style step up
    from the unigram CCNet filter (perplexity_buckets): token surprisal
    under p(w|prev) = lam * MLE_bigram + (1-lam) * MLE_unigram, first
    token scored by the unigram alone.

    Spark-first shape: the (prev, cur) pair stream is built per-row with
    a Catalyst transform (no per-doc window, no sort) and exploded once;
    the LM "fit" is three groupBy counts over that stream (unigram,
    bigram, bigram-prefix) joined back by key — all linear shuffles. The
    corpus is scanned once per count because the plan is lazy; at scale,
    fit once, persist the three count tables, and score many batches
    (the tf-idf discipline).

    Float discipline for the oracle: counts are exact integers, p is a
    per-row double from identical expressions, surprisal rounds to
    DECIMAL(18,6) so the per-doc SUM is exact in any aggregation order.
    """
    from radient_spark.functions.stage import stage

    # Stage the token array behind a Generate barrier: an inline
    # tokens() expression would be re-split by CollapseProject once per
    # element_at reference — O(T^2) regex splits per document
    # (functions/stage.py; measured as the dominant cost of this
    # operator's first cut).
    base = stage(
        df.filter(F.length(F.trim(text_col)) > 0),
        __bp_toks=X.tokens(F.col(text_col)),
    )
    tk = F.col("__bp_toks")
    pairs = F.transform(
        F.sequence(F.lit(1), F.size(tk)),
        lambda i: F.struct(
            F.element_at(tk, i).alias("cur"),
            F.when(i > 1, F.element_at(tk, i - 1)).alias("prev"),
        ),
    )
    stream = base.select(
        F.col(id_col), F.col(strata_col), F.explode(pairs).alias("p")
    ).select(id_col, strata_col, "p.cur", "p.prev")

    # Every count table derives from ONE aggregation of the token
    # stream (pair_counts, with NULL prev marking first tokens); the
    # re-aggregations below touch only vocabulary-sized rows. The
    # naive alternative — separate groupBys for unigram/bigram/prefix
    # plus three stream-wide joins — costs five materializations of
    # the exploded stream; this shape costs two (counts + scoring).
    pair_counts = stream.groupBy("prev", "cur").agg(
        F.count(F.lit(1)).alias("c")
    )
    # Unigram, bigram-prefix and total counts all come out of
    # pair_counts via WINDOWS over the vocabulary-sized table rather
    # than separate groupBy branches: Spark shares no common subplans,
    # so each extra branch would re-run the full corpus explode (the
    # first cut of this operator had 5 Generate subtrees in its
    # physical plan — the dominant cost). Only the scalar total needs
    # a second derivation (a map-side-combined aggregate, broadcast
    # back). c_uni(cur) sums ALL rows sharing cur (null-prev rows are
    # first-token occurrences, so every token occurs exactly once as
    # `cur`); c_prefix(prev) sums the non-null prev partition.
    totals = pair_counts.agg(F.sum("c").alias("n_total"))
    w_cur = Window.partitionBy("cur")
    w_prev = Window.partitionBy("prev")
    counted = pair_counts.crossJoin(F.broadcast(totals)).select(
        "prev",
        "cur",
        F.col("c").alias("c_bg"),
        F.sum("c").over(w_cur).alias("c_uni"),
        F.sum("c").over(w_prev).alias("c_prefix"),
        "n_total",
    )
    p_uni = F.col("c_uni").cast("double") / F.col("n_total").cast("double")
    p_bg = F.col("c_bg").cast("double") / F.col("c_prefix").cast("double")
    surp = lambda p: F.round(-F.log(p), 6).cast("decimal(18,6)")  # noqa: E731
    # Surprisal dictionary: one row per distinct (prev, cur) key —
    # NULL-prev rows carry the first-token unigram surprisal. The
    # stream then needs a single null-safe-key join instead of three.
    sdict = counted.select(
        F.col("prev").alias("dprev"),
        F.col("cur").alias("dcur"),
        F.when(F.col("prev").isNull(), surp(p_uni))
        .otherwise(surp(F.lit(lam) * p_bg + F.lit(1.0 - lam) * p_uni))
        .alias("surprisal"),
    )

    scored = (
        stream.join(
            sdict,
            F.col("prev").eqNullSafe(F.col("dprev"))
            & (F.col("cur") == F.col("dcur")),
        )
        .groupBy(id_col, strata_col)
        .agg(
            (F.sum("surprisal").cast("double") / F.count(F.lit(1))).alias(
                "logppl"
            )
        )
    )
    # per-stratum NTILE via the distributed range-bucket engine — no
    # per-language single-reducer sort (see perplexity_buckets)
    return distributed_ntile_grouped(
        scored,
        n_buckets,
        strata_col,
        [F.col("logppl").asc(), F.col(id_col).asc()],
        range_col=F.col("logppl"),
        out_col="ppl_bucket",
    ).select(id_col, strata_col, "logppl", "ppl_bucket")


def chunk_documents(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    window: int = 64,
    stride: int = 48,
) -> DataFrame:
    """RAG-style chunking: split each document into overlapping token
    windows of `window` tokens advancing by `stride` — the unit fed to a
    vectorizer + vector sink in retrieval pipelines (the reference's RAG
    flow chunks upstream of its vectorizers). The final window may be
    short; every token is covered; zero-token docs produce no chunks.

    Pure per-row Catalyst (sequence + slice behind a stage() barrier) —
    the explode multiplies rows, never shuffles them.

    Output: original columns + (chunk_idx, chunk_text, n_chunk_tokens).
    """
    if window < 1 or stride < 1:
        raise ValueError("window and stride must be >= 1")
    from radient_spark.functions.stage import stage

    staged = stage(df, __ck_toks=X.tokens(F.col(text_col)))
    n = F.size("__ck_toks")
    n_chunks = (
        F.floor(
            (F.greatest(n - window, F.lit(0)) + (stride - 1)) / stride
        ).cast("int")
        + 1
    )
    chunks = F.transform(
        F.sequence(F.lit(0), n_chunks - 1),
        lambda i: F.struct(
            F.array_join(
                F.slice(F.col("__ck_toks"), i * stride + 1, window), " "
            ).alias("chunk_text"),
            F.least(F.lit(window), n - i * stride).alias("n_chunk_tokens"),
        ),
    )
    return (
        staged.filter(n > 0)
        .select("*", F.posexplode(chunks).alias("chunk_idx", "__ck"))
        .select(
            *[c for c in df.columns],
            "chunk_idx",
            F.col("__ck.chunk_text").alias("chunk_text"),
            F.col("__ck.n_chunk_tokens").alias("n_chunk_tokens"),
        )
    )


def _hashed_features(
    df: DataFrame,
    text_col: str,
    id_col: str,
    buckets: int,
    keep_cols: list[str] | None = None,
) -> DataFrame:
    """DSIR's hashed bag-of-n-grams features: one row per unigram and
    bigram occurrence, hashed into `buckets` slots (portable md5). The
    feature stream carries (id, bucket) ints (plus `keep_cols`) only."""
    from radient_spark.functions.stage import stage

    staged = stage(
        df.filter(F.length(F.trim(text_col)) > 0),
        __ds_toks=X.tokens(F.col(text_col)),
    )
    extra = [F.col(c) for c in (keep_cols or [])]
    # one explode of unigrams ++ bigrams: a union of two branches would
    # re-tokenize the corpus once per branch
    both = F.concat(
        F.col("__ds_toks"),
        X.shingles_from_tokens("__ds_toks", 2),
    )
    return staged.select(
        F.col(id_col), *extra, F.explode(both).alias("feat")
    ).select(
        F.col(id_col),
        *extra,
        (str_hash(F.col("feat")) % buckets).alias("bucket"),
    )


def dsir_logweights(
    df: DataFrame,
    is_target,
    text_col: str = "text",
    id_col: str = "doc_id",
    buckets: int = 10_000,
) -> DataFrame:
    """DSIR importance weights (Xie et al. 2023, "Data Selection for
    Language Models via Importance Resampling"): score every raw document
    by log p_target(x)/p_raw(x) under hashed bag-of-n-gram models with
    Laplace smoothing — documents resembling the target domain get high
    weights and survive resampling. `is_target` is a boolean Column
    marking the target-domain rows (for an external target corpus, union
    it with the raw frame and flag the origin).

    Determinism: per-bucket log-likelihood ratio is ONE ln of a ratio of
    exactly-representable integer products (counts < 2^26, so products
    stay under 2^53), rounded to 6 decimals into DECIMAL(18,6); document
    weights are then exact decimal sums.

    Scale shape: both bucket-count models come from a SINGLE conditional
    aggregation over one pass of the feature stream (the corpus is
    tokenized twice total: once for counts, once for scoring); the lambda
    table is `buckets` rows, broadcast, so scoring is shuffle-free up to
    the per-document aggregate.
    """
    flagged = df.withColumn("__ds_tgt", is_target)
    feats = _hashed_features(
        flagged, text_col, id_col, buckets, keep_cols=["__ds_tgt"]
    )
    joined = feats.groupBy("bucket").agg(
        F.count(F.lit(1)).alias("cr"),
        F.coalesce(
            F.sum(F.col("__ds_tgt").cast("long")), F.lit(0)
        ).alias("ct"),
    )
    w_all = Window.partitionBy()
    tot_r = F.sum("cr").over(w_all)
    tot_t = F.sum("ct").over(w_all)
    # ln( (ct+1)/(Tt+B) / ((cr+1)/(Tr+B)) ) as ONE ln of an exact ratio
    lam = joined.select(
        "bucket",
        F.round(
            F.log(
                ((F.col("ct") + 1) * (tot_r + buckets)).cast("double")
                / ((F.col("cr") + 1) * (tot_t + buckets)).cast("double")
            ),
            6,
        )
        .cast("decimal(18,6)")
        .alias("lam"),
    )
    weights = (
        feats.join(F.broadcast(lam), "bucket")
        .groupBy(id_col)
        .agg(F.sum("lam").cast("double").alias("logweight"))
    )
    # exact NTILE(10) semantics WITHOUT the single-reducer global-window
    # sort: deterministic range-bucketed distributed ranking
    return distributed_ntile(
        weights,
        10,
        [F.col("logweight").desc(), F.col(id_col).asc()],
        range_col=-F.col("logweight"),
        out_col="decile",
    )


def _distributed_rank(
    df: DataFrame,
    order_cols: list,
    range_col: F.Column,
    num_partitions: int | None = None,
) -> tuple[DataFrame, int]:
    """Exact global 1-based row rank over `order_cols` with NO
    single-reducer sort (the shared engine under distributed_ntile,
    distributed_cumsum-style selection, and sorted-neighborhood dedup):
    stateless approxQuantile range boundaries over `range_col`
    (ASCENDING-aligned with `order_cols`), one P-row occupancy collect,
    then broadcast offsets + a per-range local row_number. Returns
    (df + __dnt_rank, n_rows)."""
    spark = df.sparkSession
    P = num_partitions or spark.sparkContext.defaultParallelism
    # Persist the keyed table: the boundary and count jobs plus the final
    # action would otherwise each recompute the (possibly heavy) upstream
    # lineage. Because bucket assignment is stateless given the collected
    # boundary literals, cache EVICTION only costs recompute time, never
    # correctness — so the cache is left to the session's LRU rather than
    # eagerly unpersisted under the still-lazy result plan.
    keyed = df.withColumn("__dnt_key", range_col.cast("double")).persist()
    if P > 1:
        probs = [i / P for i in range(1, P)]
        bounds = sorted(
            set(keyed.stat.approxQuantile("__dnt_key", probs, 0.001))
        )
    else:
        bounds = []
    pid = F.lit(0)
    for b in bounds:
        pid = pid + (F.col("__dnt_key") > F.lit(b)).cast("int")
    # NULL range keys (NULL > b is NULL, poisoning the sum) land in a
    # -1 sentinel bucket that sorts before every real bucket — matching
    # Spark's NULLS FIRST ascending default, so they rank first instead
    # of crashing the offset sort or silently dropping in the join.
    keyed = keyed.withColumn("__dnt_pid", F.coalesce(pid, F.lit(-1)))
    counts = {
        r["__dnt_pid"]: r["cnt"]
        for r in keyed.groupBy("__dnt_pid")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .collect()
    }
    n_rows = sum(counts.values())
    if n_rows == 0:
        return keyed.withColumn("__dnt_rank", F.lit(None).cast("long")), 0
    offsets, acc = {}, 0
    for p in sorted(counts):
        offsets[p] = acc
        acc += counts[p]
    off = F.coalesce(
        F.element_at(
            F.create_map(
                *[F.lit(x) for p_o in sorted(offsets.items()) for x in p_o]
            ),
            F.col("__dnt_pid"),
        ),
        F.lit(0),
    )
    local = Window.partitionBy("__dnt_pid").orderBy(*order_cols)
    ranked = keyed.withColumn("__dnt_rank", off + F.row_number().over(local))
    return ranked, n_rows


def distributed_rank(
    df: DataFrame,
    order_cols: list,
    range_col: F.Column,
    out_col: str = "rank",
    num_partitions: int | None = None,
) -> DataFrame:
    """Public exact global rank: 1..N over `order_cols` (must be a total
    order), never funneling the table through one reducer."""
    ranked, _ = _distributed_rank(df, order_cols, range_col, num_partitions)
    return ranked.withColumn(
        out_col, F.col("__dnt_rank").cast("long")
    ).drop("__dnt_key", "__dnt_pid", "__dnt_rank")


def distributed_ntile(
    df: DataFrame,
    n_buckets: int,
    order_cols: list,
    range_col: F.Column,
    out_col: str = "bucket",
    num_partitions: int | None = None,
) -> DataFrame:
    """Exact global NTILE(n) over `order_cols` with NO single-reducer
    sort. A bare `Window.orderBy(...)` funnels every row through ONE
    reducer — the classic petabyte cliff. This computes the identical
    bucket assignment distributed:

      1. approxQuantile boundaries of `range_col` (a numeric column
         ASCENDING-aligned with `order_cols`) split the key space into
         ~num_partitions ranges. The boundaries only balance work — ANY
         fixed boundaries give the right answer — and assignment is a
         stateless literal comparison, so (unlike repartitionByRange's
         per-job sampled boundaries) every recomputation of the lazy
         plan agrees with the counts collected in step 2.
      2. One tiny job counts rows per range (P rows to the driver;
         documented small-side contract, like the k-means seed sample).
      3. global rank = broadcast range offset + local row_number over a
         window partitioned by range id — each reducer sees one range's
         ~N/P rows, never the whole table.
      4. SQL NTILE arithmetic on the rank: with N rows and q, r =
         divmod(N, n), buckets 1..r get q+1 rows, the rest q.

    `order_cols` must be a total order (add an id tiebreak) so ranks —
    and therefore buckets — are unique and engine-independent. Rows that
    tie on `range_col` land in the same range (the local window breaks
    the tie); a fully-constant column degenerates to one reducer, the
    same cost NTILE pays always.
    """
    ranked, n_rows = _distributed_rank(df, order_cols, range_col, num_partitions)
    if n_rows == 0:
        return df.withColumn(out_col, F.lit(None).cast("int"))
    q, r = divmod(n_rows, n_buckets)
    if q == 0:
        bucket = F.col("__dnt_rank")  # N < n: NTILE assigns rank itself
    else:
        head = r * (q + 1)
        bucket = F.when(
            F.col("__dnt_rank") <= head,
            F.floor((F.col("__dnt_rank") - 1) / (q + 1)) + 1,
        ).otherwise(r + F.floor((F.col("__dnt_rank") - head - 1) / q) + 1)
    return ranked.withColumn(out_col, bucket.cast("int")).drop(
        "__dnt_key", "__dnt_pid", "__dnt_rank"
    )


def distributed_ntile_grouped(
    df: DataFrame,
    n_buckets: int,
    strata_col: str,
    order_cols: list,
    range_col: F.Column,
    out_col: str = "bucket",
    num_partitions: int | None = None,
) -> DataFrame:
    """Exact NTILE(n) OVER (PARTITION BY strata ORDER BY ...) with NO
    single-reducer per-stratum sort. A bare
    ``Window.partitionBy(lang).orderBy(...)`` funnels each stratum's
    ENTIRE row set through one reducer — with ~5 languages over 100 TB
    that is five ~20 TB single-reducer sorts. Same discipline as
    `distributed_ntile`, stratified:

      1. ONE set of global approxQuantile boundaries over `range_col`
         splits the key space (boundaries only balance work — any fixed
         boundaries are correct — and they are collected once as
         literals, so every recomputation agrees).
      2. One tiny job counts rows per (stratum, range): at most
         n_strata * P rows to the driver (the documented small-side
         contract; #languages x partitions, never data-sized).
      3. Per-stratum global rank = broadcast (stratum, range) offset +
         local row_number over a window partitioned by (stratum,
         range) — each reducer sees one range's slice of one stratum.
      4. SQL NTILE arithmetic on (rank, stratum row count) as column
         expressions against the broadcast per-stratum totals.

    `order_cols` must total-order rows WITHIN a stratum (add an id
    tiebreak) and `range_col` must be ASCENDING-aligned with them."""
    spark = df.sparkSession
    P = num_partitions or spark.sparkContext.defaultParallelism
    keyed = df.withColumn("__dnt_key", range_col.cast("double")).persist()
    if P > 1:
        probs = [i / P for i in range(1, P)]
        bounds = sorted(
            set(keyed.stat.approxQuantile("__dnt_key", probs, 0.001))
        )
    else:
        bounds = []
    pid = F.lit(0)
    for b in bounds:
        pid = pid + (F.col("__dnt_key") > F.lit(b)).cast("int")
    # NULL range keys -> -1 sentinel bucket (see _distributed_rank); the
    # persist above follows the same cache-handoff contract documented
    # there (stateless literals make eviction a recompute, never a
    # correctness issue, so it is left to the session LRU).
    keyed = keyed.withColumn("__dnt_pid", F.coalesce(pid, F.lit(-1)))
    counts = (
        keyed.groupBy(strata_col, "__dnt_pid")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .collect()
    )
    per_stratum: dict = {}
    for r in counts:
        per_stratum.setdefault(r[strata_col], {})[r["__dnt_pid"]] = r["cnt"]
    offset_rows = []
    for s, pids in per_stratum.items():
        acc = 0
        n_s = sum(pids.values())
        for p in sorted(pids):
            offset_rows.append((s, p, acc, n_s))
            acc += pids[p]
    if not offset_rows:
        return keyed.withColumn(out_col, F.lit(None).cast("int")).drop(
            "__dnt_key", "__dnt_pid"
        )
    strata_type = df.schema[strata_col].dataType.simpleString()
    offsets = local_frame(
        spark,
        offset_rows,
        f"{strata_col} {strata_type}, __dnt_pid int, __dnt_off long,"
        " __dnt_n long",
    )
    local = Window.partitionBy(strata_col, "__dnt_pid").orderBy(*order_cols)
    ranked = keyed.join(
        F.broadcast(offsets), [strata_col, "__dnt_pid"]
    ).withColumn("__dnt_rank", F.col("__dnt_off") + F.row_number().over(local))
    rank, n = F.col("__dnt_rank"), F.col("__dnt_n")
    q = F.floor(n / n_buckets)
    r = n % n_buckets
    head = r * (q + 1)
    bucket = (
        F.when(q == 0, rank)  # N < n: NTILE assigns rank itself
        .when(rank <= head, F.floor((rank - 1) / (q + 1)) + 1)
        .otherwise(r + F.floor((rank - head - 1) / q) + 1)
    )
    return ranked.withColumn(out_col, bucket.cast("int")).drop(
        "__dnt_key", "__dnt_pid", "__dnt_rank", "__dnt_off", "__dnt_n"
    )


def distributed_cumsum(
    df: DataFrame,
    order_cols: list,
    range_col: F.Column,
    value_col: str,
    out_col: str = "cum",
    num_partitions: int | None = None,
) -> DataFrame:
    """Exact global running SUM(value_col) over `order_cols` with NO
    single-reducer sort — the distributed prefix-sum: same range-bucket
    discipline as `distributed_ntile` (stateless literal boundaries from
    approxQuantile over `range_col`, which must be ASCENDING-aligned
    with `order_cols`), but the broadcast offsets are prefix sums of the
    per-range VALUE totals instead of row counts. Each reducer windows
    one range's ~N/P rows.

    This is the engine behind budget-cut selection ("take documents in
    quality order until the token budget is spent") — a global ordered
    scan that a bare window would funnel through one reducer.

    Exactness: integer/decimal value columns make the per-range sums
    order-independent, hence bit-exact vs a global window (the oracle
    contract). For float64 values the result is a deterministic-given-
    boundaries reassociation of the global sum. `order_cols` must be a
    total order (add an id tiebreak)."""
    spark = df.sparkSession
    P = num_partitions or spark.sparkContext.defaultParallelism
    keyed = df.withColumn("__dcs_key", range_col.cast("double")).persist()
    if P > 1:
        probs = [i / P for i in range(1, P)]
        bounds = sorted(
            set(keyed.stat.approxQuantile("__dcs_key", probs, 0.001))
        )
    else:
        bounds = []
    pid = F.lit(0)
    for b in bounds:
        pid = pid + (F.col("__dcs_key") > F.lit(b)).cast("int")
    # NULL range keys -> -1 sentinel bucket; cache handoff as documented
    # in _distributed_rank.
    keyed = keyed.withColumn("__dcs_pid", F.coalesce(pid, F.lit(-1)))
    sums = {
        r["__dcs_pid"]: r["s"]
        for r in keyed.groupBy("__dcs_pid")
        .agg(F.sum(value_col).alias("s"))
        .collect()
    }
    if not sums:
        return df.withColumn(out_col, F.lit(None).cast("long"))
    offsets, acc = {}, 0
    for p in sorted(sums):
        offsets[p] = acc
        acc += sums[p] or 0
    off = F.coalesce(
        F.element_at(
            F.create_map(
                *[F.lit(x) for p_o in sorted(offsets.items()) for x in p_o]
            ),
            F.col("__dcs_pid"),
        ),
        F.lit(0),
    )
    local = (
        Window.partitionBy("__dcs_pid")
        .orderBy(*order_cols)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return keyed.withColumn(
        out_col, off + F.sum(value_col).over(local)
    ).drop("__dcs_key", "__dcs_pid")


def exact_group_quantiles(
    df: DataFrame,
    group_col: str,
    value_col: str,
    qs: list[float],
    num_partitions: int | None = None,
) -> DataFrame:
    """EXACT per-group quantiles (order statistic at rank ceil(q*n),
    ascending) with NO single-reducer sort. Spark's exact `percentile`
    aggregate buffers every value of a group on one reducer — with a
    handful of giant groups (event types, languages) that is the
    petabyte cliff. This computes the identical order statistics
    distributed, one output row per (group, q):

      1. GLOBAL approxQuantile boundaries over value split the key space
         into ~P ranges — stateless literals, shared by all groups, so
         recomputations of the lazy plan always agree.
      2. One tiny job counts (group, range) occupancy — G*P rows to the
         driver (documented small-side contract).
      3. The driver turns each (group, q) into (range, local_rank):
         rank ceil(q*n_g) minus the group's row count in earlier ranges.
      4. Rows in targeted (group, range) cells get a row_number over a
         window partitioned by (group, range) — each reducer sees one
         range's slice of one group, ~N/(G*P) rows — and the broadcast
         target table selects the matching rank. Untargeted cells are
         filtered out BEFORE the window (at most |qs| cells per group
         survive, so the window input is |qs|*N/P rows total).

    Ties are immaterial: the value at a given rank of the sorted
    multiset is unique even when row order among equal values is not.

    Null contract (as histogram_order_statistic's): NULL values are
    dropped before ranking, so n and every rank count non-null values
    only, and a group with no non-null value has no output row.
    """
    spark = df.sparkSession
    P = num_partitions or spark.sparkContext.defaultParallelism
    keyed = (
        df.select(F.col(group_col).alias("__g"), F.col(value_col).alias("__v"))
        .filter(F.col("__v").isNotNull())
        .persist()
    )
    if P > 1:
        probs = [i / P for i in range(1, P)]
        bounds = sorted(set(keyed.stat.approxQuantile("__v", probs, 0.001)))
    else:
        bounds = []
    pid = F.lit(0)
    for b in bounds:
        pid = pid + (F.col("__v") > F.lit(b)).cast("int")
    keyed = keyed.withColumn("__pid", pid)
    cell_counts = (
        keyed.groupBy("__g", "__pid").agg(F.count(F.lit(1)).alias("cnt")).collect()
    )
    per_group: dict = {}
    for r in cell_counts:
        per_group.setdefault(r["__g"], {})[r["__pid"]] = r["cnt"]
    targets = []  # (group, pid, local_rank, q)
    for g, cells in per_group.items():
        n_g = sum(cells.values())
        for q in qs:
            t = max(1, math.ceil(q * n_g))
            acc = 0
            for p in sorted(cells):
                if acc + cells[p] >= t:
                    targets.append((g, p, t - acc, float(q)))
                    break
                acc += cells[p]
    if not targets:
        return local_frame(
            spark, [], f"{group_col} string, q double, value double"
        )
    tdf = local_frame(
        spark,
        targets,
        f"__g {df.schema[group_col].dataType.simpleString()}, __pid bigint,"
        " __lrank bigint, q double",
    )
    w = Window.partitionBy("__g", "__pid").orderBy("__v")
    picks = tdf.select(
        F.col("__g").alias("__tg"),
        F.col("__pid").alias("__tpid"),
        "__lrank",
        "q",
    )
    hit = (
        keyed.join(
            F.broadcast(tdf.select("__g", "__pid").distinct()),
            ["__g", "__pid"],
        )
        .withColumn("__rn", F.row_number().over(w))
        .join(
            F.broadcast(picks),
            (F.col("__g") == F.col("__tg"))
            & (F.col("__pid") == F.col("__tpid"))
            & (F.col("__rn") == F.col("__lrank")),
        )
    )
    return hit.select(
        F.col("__g").alias(group_col), "q", F.col("__v").alias("value")
    )


def histogram_order_statistic(
    hist: DataFrame,
    group_col: str,
    value_col: str,
    count_col: str = "c",
    qs: Sequence[float] = (0.5,),
    out_cols: Sequence[str] | None = None,
) -> DataFrame:
    """Per-group EXACT order statistics at ranks ceil(q*n) from a value
    HISTOGRAM (group, value, count) instead of the raw rows — the fast
    path for bounded-lattice values (cents, token counts, scores on a
    fixed grid), where the histogram is O(groups x value domain)
    regardless of row count.  One cumulative-count window over the
    histogram (per-group rows = distinct values, bounded by the
    lattice, never by the data), then ONE aggregate picks, for every q
    at once, the smallest value whose cumulative count reaches the
    rank.  No driver collect, no boundary-probe pass — where
    exact_group_quantiles runs approxQuantile + an occupancy collect +
    a targeted window over the raw rows, this is one tiny window over
    pre-aggregated counts.

    Rank formula: GREATEST(1, CEIL(q * n)) with q as a DOUBLE literal —
    deliberately the SAME floating-point expression the SQL oracles
    use, so engines agree even where q*n sits within one ulp of an
    integer (0.99 is not exactly representable; a "cleaner" rational
    rank could differ from the oracle's ceil at those boundary counts).
    For q=0.5 the double math is exact and equals ceil(n/2).

    Unbounded/continuous value domains (the histogram would approach
    one bucket per row, making the per-group window a single-reducer
    sort) belong on exact_group_quantiles instead.

    Null contract: histogram rows with a NULL value are dropped before
    ranking. NULLs are not orderable values — Spark's default window
    ordering puts them FIRST while the DuckDB-oracle row_number ranks
    them LAST, so a NULL bucket would silently shift every rank
    (exact_group_quantiles drops NULL values the same way). Counts (n,
    ranks) are therefore over non-null values only, matching SQL
    aggregate semantics.
    """
    hist = hist.filter(F.col(value_col).isNotNull())
    w_cum = (
        Window.partitionBy(group_col)
        .orderBy(F.col(value_col).asc_nulls_last())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w_all = Window.partitionBy(group_col)
    outs = list(out_cols) if out_cols else [f"q{q}" for q in qs]
    cum = hist.withColumn("__cum", F.sum(count_col).over(w_cum)).withColumn(
        "__n", F.sum(count_col).over(w_all)
    )
    aggs = [
        F.min(
            F.when(
                F.col("__cum")
                >= F.greatest(
                    F.lit(1).cast("long"),
                    F.ceil(F.lit(float(q)) * F.col("__n")),
                ),
                F.col(value_col),
            )
        ).alias(out)
        for q, out in zip(qs, outs)
    ]
    return cum.groupBy(group_col).agg(*aggs)


_NUMERIC_PREFIXES = ("tinyint", "smallint", "int", "bigint", "float", "double", "decimal")


def profile_table(df: DataFrame, cols: list[str] | None = None) -> DataFrame:
    """Data-profiling report, one row per column: row count, null count,
    exact distinct count, and (numeric columns only) min/max rounded to
    DECIMAL(18,6) — the dataset card a curation pipeline publishes next
    to every corpus snapshot.

    Scale shape: ONE aggregate over one scan. The exact multi-column
    countDistinct goes through Spark's Expand (the corpus stream is
    replicated once per distinct aggregate — C x row multiplication
    before the map-side partial), identical to how any engine computes
    C exact distincts in one statement; for wide tables at petabyte
    scale swap countDistinct for approx_count_distinct and accept the
    sketch error. The final melt to long form is a zero-cost Project
    over the 1-row aggregate, sorted by col_name so the report (and
    any hash over it) is deterministic.

    min/max convert to DOUBLE — one cast of the already-aggregated
    native value, no intermediate rounding — so the numbers are
    engine-portable (the DuckDB oracle does the identical single
    cast; both engines perform the same IEEE round-to-nearest
    conversion of the same exact aggregate). DOUBLE, not DECIMAL:
    driver-side result hashing serializes Spark decimals differently
    from other engines' decimals even when values are identical, so
    final report schemas never carry DecimalType (decimal stays an
    internal accumulator type only).
    """
    cols = cols or df.columns
    dtypes = dict(df.dtypes)
    aggs = [F.count(F.lit(1)).alias("__n")]
    for c in cols:
        aggs.append(F.sum(F.col(c).isNull().cast("long")).alias(f"__null_{c}"))
        aggs.append(F.countDistinct(c).alias(f"__dist_{c}"))
        if dtypes[c].startswith(_NUMERIC_PREFIXES):
            aggs.append(
                F.min(F.col(c)).cast("double").alias(f"__min_{c}")
            )
            aggs.append(
                F.max(F.col(c)).cast("double").alias(f"__max_{c}")
            )
    wide = df.agg(*aggs)
    parts = []
    for c in cols:
        is_num = dtypes[c].startswith(_NUMERIC_PREFIXES)
        parts.append(
            F.struct(
                F.lit(c).alias("col_name"),
                F.col("__n").alias("n_rows"),
                F.col(f"__null_{c}").alias("n_nulls"),
                F.col(f"__dist_{c}").alias("n_distinct"),
                (
                    F.col(f"__min_{c}")
                    if is_num
                    else F.lit(None).cast("double")
                ).alias("min_num"),
                (
                    F.col(f"__max_{c}")
                    if is_num
                    else F.lit(None).cast("double")
                ).alias("max_num"),
            )
        )
    return (
        wide.select(F.explode(F.array(*parts)).alias("p"))
        .select("p.*")
        .orderBy("col_name")
    )


def weighted_sample(
    df: DataFrame,
    weight_col: str,
    id_col: str,
    k: int,
    seed: int = 42,
    key_col: str = "sample_key",
) -> DataFrame:
    """Exact-k weighted sampling WITHOUT replacement (Efraimidis &
    Spirakis 2006): each row draws u ~ U(0,1) and ranks by u^(1/w) —
    the top-k keys are a weighted sample, with inclusion probability
    proportional to weight. The training-data mixture sampler for
    "sample 10M docs, long documents proportionally more often".

    Determinism contract: u derives from the portable md5 bucket
    ((bucket + 0.5) / SPLIT_BUCKETS — never exactly 0 or 1), the rank
    key is ln(u)/w ROUNDED to 9 decimals (so both engines order the
    same decimals; ties broken by id), and selection is top-k by
    (key DESC, id) — a TakeOrderedAndProject, no shuffle of the data.
    Stateless per row: append-consistent like hash_split.
    """
    if k < 1:
        raise ValueError("k must be >= 1")
    bucket = str_hash(
        F.concat_ws("_", F.lit(seed), F.col(id_col))
    ) % SPLIT_BUCKETS
    u = (bucket.cast("double") + 0.5) / SPLIT_BUCKETS
    key = F.round(
        F.log(u) / F.col(weight_col).cast("double"), 9
    )
    return (
        df.withColumn(key_col, key)
        .orderBy(F.col(key_col).desc(), F.col(id_col).asc())
        .limit(k)
    )


def water_fill_allocation(
    counts: DataFrame,
    key_col: str,
    count_col: str,
    budget_col: str = "__wf_budget",
) -> DataFrame:
    """Water-filling token-budget allocation: given per-source token
    counts and a total budget B (a column constant on every row),
    allocate min(count, lambda) tokens per source where the water
    level lambda is the largest integer with sum(min(count, lambda))
    <= B, then hand the remaining (B - consumed) tokens one each to
    the first capped sources in key order — so sum(allocated) == B
    EXACTLY. Small sources keep everything; big sources are capped at
    a common ceiling: the fair multilingual/multi-domain mixture rule
    (the hard-budget complement of temperature mixing, which rescales
    rates but cannot hit an exact token target).

    Pure integer arithmetic over the per-source table (windows over
    #sources rows — corpus-size independent after the counts
    aggregate). Returns (key, n_tokens, allocated, capped).
    """
    w_rank = Window.orderBy(F.col(count_col).asc(), F.col(key_col).asc())
    n_src = Window.partitionBy()
    ranked = (
        counts.select(
            F.col(key_col), F.col(count_col), F.col(budget_col)
        )
        .withColumn("__k", F.row_number().over(w_rank))
        .withColumn(
            "__cum",
            F.sum(count_col).over(
                w_rank.rowsBetween(Window.unboundedPreceding, 0)
            ),
        )
        .withColumn("__n", F.count(F.lit(1)).over(n_src))
    )
    # k* = the largest rank whose own count survives uncapped:
    # cum_k + c_k * (n - k) <= B. Rows with rank <= k* keep everything.
    fits = ranked.withColumn(
        "__fits",
        (
            F.col("__cum")
            + F.col(count_col) * (F.col("__n") - F.col("__k"))
            <= F.col(budget_col)
        ).cast("long"),
    )
    kstar = fits.agg(
        F.coalesce(
            F.max(F.when(F.col("__fits") == 1, F.col("__k"))), F.lit(0)
        ).alias("__kstar"),
        F.coalesce(
            F.max(F.when(F.col("__fits") == 1, F.col("__cum"))), F.lit(0)
        ).alias("__cumstar"),
        F.first("__n").alias("__nn"),
        F.first(budget_col).alias("__b"),
    )
    lam = F.when(
        F.col("__kstar") >= F.col("__nn"), F.lit(None).cast("long")
    ).otherwise(
        # integer division — no float anywhere near the level
        F.expr("(__b - __cumstar) div (__nn - __kstar)")
    )
    rem = F.when(F.col("__kstar") >= F.col("__nn"), F.lit(0)).otherwise(
        F.col("__b")
        - F.col("__cumstar")
        - F.col("__lam") * (F.col("__nn") - F.col("__kstar"))
    )
    levels = kstar.withColumn("__lam", lam).withColumn("__rem", rem)
    out = (
        fits.crossJoin(F.broadcast(levels))
        .withColumn("__iscapped", F.col("__k") > F.col("__kstar"))
        .withColumn(
            "__cap_rank",
            F.when(
                F.col("__iscapped"),
                F.row_number().over(
                    Window.partitionBy("__iscapped").orderBy(
                        F.col(key_col).asc()
                    )
                ),
            ),
        )
        .withColumn(
            "allocated",
            F.when(~F.col("__iscapped"), F.col(count_col)).otherwise(
                F.col("__lam")
                + F.when(
                    F.col("__cap_rank") <= F.col("__rem"), F.lit(1)
                ).otherwise(F.lit(0))
            ),
        )
    )
    return out.select(
        F.col(key_col),
        F.col(count_col).alias("n_tokens"),
        F.col("allocated").cast("long").alias("allocated"),
        F.col("__iscapped").alias("capped"),
    )


def uniform_sample_exact_k(
    df: DataFrame,
    id_col: str,
    k: int,
    seed: int = 42,
    rank_col: str = "sample_rank",
) -> DataFrame:
    """EXACT-k uniform sample without replacement: rank every row by a
    portable md5 hash of (seed, id) and keep the k smallest — the
    deterministic distributed equivalent of a k-row reservoir.  Unlike
    `df.sample(fraction)` the realized size is exactly min(k, n), and
    unlike a reservoir the result is independent of encounter order,
    stable across runs/partitionings/engines, and fully reproducible
    from (seed, k).

    Scale shape: orderBy(limit) compiles to TakeOrderedAndProject —
    each partition keeps its local top-k and the driver merges P*k
    ranks, so no global sort shuffle ever happens; k is the documented
    small side.  NOT append-consistent (a new smaller-hash row evicts
    the largest kept rank) — that is inherent to exact-k; use
    hash_split for append-stable subsets.
    """
    if k < 0:
        raise ValueError("k must be >= 0")
    key = str_hash(F.concat_ws("_", F.lit(seed), F.col(id_col)))
    return (
        df.withColumn(rank_col, key)
        .orderBy(F.col(rank_col).asc(), F.col(id_col).asc())
        .limit(k)
    )


def partition_plan(
    df: DataFrame,
    group_col: str,
    bytes_col,
    target_bytes: int,
) -> DataFrame:
    """Layout advisor: per group, the file/partition plan a compaction
    or initial-load job should use — row count, payload bytes, number
    of output files at `target_bytes` each (ceil), rows per file, and
    a skew ratio (largest row / mean row, one IEEE division rounded 6)
    flagging groups where row-size skew breaks the uniform plan.

    One map-side-combined aggregate over the group key; the plan table
    is group-sized, broadcastable back next to a
    repartition/partitionBy write.  This is the arithmetic behind
    "size spark.sql.files.maxPartitionBytes so partitions fit" done
    per data group instead of globally.
    """
    if target_bytes <= 0:
        raise ValueError("target_bytes must be > 0")
    b = F.col("__pp_bytes")
    agg = (
        df.withColumn("__pp_bytes", bytes_col.cast("long"))
        .groupBy(group_col)
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum(b).alias("total_bytes"),
            F.max(b).alias("max_row_bytes"),
        )
    )
    n_files = F.greatest(
        F.lit(1),
        F.ceil(F.col("total_bytes") / F.lit(target_bytes)).cast("long"),
    )
    return agg.select(
        group_col,
        "n_rows",
        "total_bytes",
        n_files.alias("n_files"),
        F.ceil(F.col("n_rows") / n_files).cast("long").alias("rows_per_file"),
        F.round(
            F.col("max_row_bytes").cast("double")
            * F.col("n_rows").cast("double")
            / F.col("total_bytes").cast("double"),
            6,
        ).alias("skew_ratio"),
    )


def domain_mixture_weights(
    df: DataFrame,
    domain_col: str,
    loss_lattice: F.Column,
    rounds: int = 3,
    raw_col: str | None = None,
) -> DataFrame:
    """Domain mixture reweighting by MULTIPLICATIVE WEIGHTS (Hedge /
    Freund-Schapire; the DoReMi recipe's update skeleton): starting
    uniform, each round down-weights domains whose loss exceeds the
    current mixture's weighted mean loss and up-weights the rest —
    after T rounds the normalized weights are the training-mixture
    proportions a data-budget planner feeds into water-fill /
    temperature sampling.

    EXACT-ARITHMETIC contract (the repo's oracle discipline): the
    per-domain loss arrives as an integer micro-lattice column
    (0..1e6, e.g. ``((a - b) * 1_000_000) div a``); every round is
    pure integer arithmetic —

        e_t,s   = loss_s - (sum_s w*loss) div (sum_s w)     (excess)
        f_t,s   = 2e6 - ((e + 2e6) div 2)                   (1e6 - e/2,
                  via nonnegative floor-div only, so Spark's `div` and
                  DuckDB's `//` agree)
        w_{t+1} = (w_t * f) div 1e6

    — and the ONE float is the final normalization division, rounded
    to 6.  Domains: the aggregate table is domain-count-sized; each
    round is a broadcast of two scalars (sum w, sum w*loss), so T
    rounds cost T tiny jobs over an already-aggregated table.

    Returns (domain_col, loss_lat, mix_weight)."""
    base = df.select(
        F.col(domain_col), loss_lattice.cast("long").alias("loss_lat")
    ).withColumn("w", F.lit(1_000_000).cast("long"))
    # materialize the (domain-count-sized) table ONCE: each round's
    # scalar aggregate is a lazy subtree referencing the previous
    # round, so without truncation the final plan embeds the upstream
    # lineage ~2^rounds times — measured 44 s vs 3 s on
    # q_curation_pipeline_v5, whose upstream is the whole C4+dedup
    # funnel.  After the checkpoint the duplicated subtrees are all
    # reads of a tiny cached table.
    base = truncate(base, eager=True)
    for _ in range(rounds):
        tot = base.agg(
            F.sum("w").alias("__sw"),
            F.sum(F.col("w") * F.col("loss_lat")).alias("__swl"),
        )
        base = (
            base.crossJoin(F.broadcast(tot))
            .withColumn(
                "w",
                F.expr(
                    "(w * (2000000 - ((loss_lat - (__swl div __sw)"
                    " + 2000000) div 2))) div 1000000"
                ).cast("long"),
            )
            .drop("__sw", "__swl")
        )
    total = base.agg(F.sum("w").alias("__tw"))
    cols = [
        F.col(domain_col),
        F.col("loss_lat"),
        F.round(
            F.col("w").cast("double") / F.col("__tw").cast("double"), 6
        ).alias("mix_weight"),
    ]
    if raw_col is not None:
        # expose the EXACT integer weight for downstream integer
        # allocation (largest-remainder quotas) — the float mix_weight
        # is display-only
        cols.append(F.col("w").alias(raw_col))
    return base.crossJoin(F.broadcast(total)).select(*cols)


def weighted_sample_exact_k(
    df: DataFrame,
    id_col: str,
    weight_col,
    k: int,
    seed: int = 42,
    key_col: str = "es_key",
) -> DataFrame:
    """EXACT-k weighted sample without replacement — Efraimidis &
    Spirakis (2006): each row draws u ~ U(0,1] and keys on u^(1/w);
    the k largest keys are a weighted sample without replacement.
    Implemented deterministically on the oracle lattice: u comes from
    a portable md5 bucket ((h % 10000)+1)/10000, its ln quantizes to
    the integer micro-lattice, and the ranking key is the ONE rounded
    IEEE division ln_lat / w (maximizing ln(u)/w ≡ maximizing
    u^(1/w); w > 0 required).  Ties break on id.

    Scale shape: stateless per-row key + orderBy(limit k) — compiles
    to TakeOrderedAndProject like uniform_sample_exact_k; k is the
    documented small side."""
    if k < 0:
        raise ValueError("k must be >= 0")
    h = str_hash(F.concat_ws("_", F.lit(seed), F.col(id_col)))
    u = ((h % 10_000) + 1).cast("double") / F.lit(10_000.0)
    ln_lat = F.round(F.log(u) * 1e6, 0).cast("long")
    key = F.round(
        ln_lat.cast("double") / weight_col.cast("double"), 6
    )
    return (
        df.withColumn(key_col, key)
        .orderBy(F.col(key_col).desc(), F.col(id_col).asc())
        .limit(k)
    )


def greedy_max_coverage(
    docs: DataFrame,
    k: int,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Greedy maximum-coverage document selection: pick ``k`` documents
    one at a time, each round choosing the document that adds the most
    not-yet-covered distinct tokens (ties break on the smaller id).
    This is the classic (1 - 1/e)-approximate submodular selection used
    to seed diverse training subsets and dedup-aware eval slices —
    facility location on token coverage.

    Scale shape per round: marginal gains are ONE left-anti join of the
    (doc, token) posting table against the covered-token set followed
    by a map-side-combined count per doc — both distributed; the only
    driver traffic is the 1-row argmax per round (TakeOrderedAndProject,
    the same inherent sequential step as the BPE merge loop,
    operators/bpe.py). The covered set is localCheckpoint'ed each round
    so the union chain cannot stack lineage. Rounds = k is a constant
    chosen by the caller, independent of corpus size.

    Returns (round, doc_id, gain, covered_total) — one row per pick, in
    pick order; stops early if no document adds coverage.
    """
    spark = docs.sparkSession
    toks = (
        docs.filter(F.length(F.trim(text_col)) > 0)
        .select(
            F.col(id_col).alias("__doc"),
            F.explode(
                F.array_distinct(F.split(F.trim(text_col), r"\s+"))
            ).alias("__token"),
        )
        .persist()
    )
    toks.count()
    covered: DataFrame | None = None
    covered_total = 0
    picks: list[tuple[int, int, int, int]] = []
    try:
        for i in range(1, k + 1):
            marg = (
                toks
                if covered is None
                else toks.join(covered, "__token", "left_anti")
            )
            top = (
                marg.groupBy("__doc")
                .agg(F.count(F.lit(1)).alias("__gain"))
                .orderBy(F.col("__gain").desc(), F.col("__doc").asc())
                .limit(1)
                .collect()
            )
            if not top:
                break
            doc, gain = top[0]["__doc"], top[0]["__gain"]
            covered_total += int(gain)
            picks.append((i, int(doc), int(gain), covered_total))
            new_tokens = toks.filter(F.col("__doc") == doc).select("__token")
            # lazy: the next round's anti-join shuffles every covered
            # partition, so that job materializes the checkpoint — one
            # job per pick instead of two (guide §1.2); the final
            # round's covered set is consumed by nothing and costs zero
            covered = (
                new_tokens
                if covered is None
                else covered.unionByName(new_tokens)
            ).transform(truncate)
    finally:
        toks.unpersist()
    return local_frame(
        spark,
        picks,
        "round_no INT, doc_id BIGINT, gain BIGINT, covered_total BIGINT",
    )
