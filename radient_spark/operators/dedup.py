"""Deduplication operators: exact, MinHash/LSH, SimHash, n-gram Jaccard.

North-star LLM-data-pipeline ops (BASELINE.json). The reference's only
dedup is the ANN candidate hash-set (/root/reference/radient/tasks/sinks/
local/_gann_c_src/gann.c:946-993); here dedup is a first-class corpus
operator family.

Scale design notes:
- MinHash signatures are computed with Catalyst higher-order functions over
  the shingle array — per-row, no explode, no shuffle, whole-stage codegen.
  The only shuffle in LSH dedup is the groupBy on (band, band_signature),
  whose cardinality is ~n_rows * n_bands of tiny rows.
- All hashes are md5-derived integers, so a DuckDB oracle can reproduce
  them bit-for-bit (md5 is standardized; Spark `conv(substring(md5,1,8),
  16,10)` == DuckDB `('0x' || substring(md5,1,8))::BIGINT`).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from radient_spark.lineage import truncate

from radient_spark.functions import text as X

# Modulus and affine-permutation parameters for MinHash. P is prime and
# > 2^30 so a*(h%P)+b stays well inside int64 (h%P < 2^30ish, a < P).
MINHASH_P = 1_000_000_007


def hash_params(num_hashes: int) -> list[tuple[int, int]]:
    """Deterministic affine-permutation params (a_i, b_i), seeded — no RNG
    at plan-build time so Spark and the SQL oracle agree."""
    params = []
    a, b = 1_103_515_245, 12_345  # LCG constants (public domain, POSIX rand)
    x = 42
    for _ in range(num_hashes):
        x = (a * x + b) % MINHASH_P
        pa = x or 1
        x = (a * x + b) % MINHASH_P
        pb = x
        params.append((pa, pb))
    return params


def str_hash(col) -> F.Column:
    """Portable 32-bit integer hash of a string: first 8 hex chars of md5."""
    return F.conv(F.substring(F.md5(col), 1, 8), 16, 10).cast("long")


def str_hash120(col) -> tuple[F.Column, F.Column]:
    """Portable 120-bit hash as TWO 60-bit longs (md5 hex slices 1-15 and
    17-31; 15 hex chars = 60 bits fits signed BIGINT in both Spark and
    DuckDB, where 16 would overflow). This is the collision-safe duplicate
    key: a single 32-bit key birthday-saturates around 10^5 distinct grams
    and is pure noise at corpus scale, while 120 bits stays collision-free
    (<1 expected pair) past 10^17 grams."""
    h = F.md5(col)
    return (
        F.conv(F.substring(h, 1, 15), 16, 10).cast("long"),
        F.conv(F.substring(h, 17, 15), 16, 10).cast("long"),
    )


def minhash_from_hashes(hashes_col: str, num_hashes: int) -> F.Column:
    """sig[i] = min over shingle hashes h of (a_i*h + b_i) mod P; sentinel P
    for empty docs so they never collide with real content.

    `hashes_col` names a materialized column (see with_minhash): this
    expression references it num_hashes times, and Catalyst would
    otherwise inline + recompute the whole shingle->md5 pipeline per
    permutation. The num_hashes permutations are rendered as SQL text
    from their integer parameters and parsed in one call (the Python
    lambda API spends ~100 py4j round trips per permutation); integer
    literals parse to the same INT types F.lit gives them.
    """
    hs = X.sql_ident(hashes_col)
    mins = ", ".join(
        f"coalesce(array_min(transform({hs}, h -> ({a} * h + {b}) % {MINHASH_P})), "
        f"{MINHASH_P})"
        for a, b in hash_params(num_hashes)
    )
    return F.expr(f"array({mins})")


def with_minhash(
    df: DataFrame,
    text_col: str = "text",
    num_hashes: int = 16,
    shingle_k: int = 3,
    out_col: str = "minhash",
) -> DataFrame:
    """Append a MinHash signature column, staging the tokens -> shingles
    -> hashes pipeline behind a Generate barrier (functions/stage.py) so
    it runs exactly once per row — the signature expression references
    the hash array num_hashes times, and CollapseProject would otherwise
    inline (and re-evaluate) the whole pipeline per permutation."""
    from radient_spark.functions.stage import stage

    # two barriers: tokens must be an attribute BEFORE the shingle
    # windows slice it (else each window re-splits the text), and the
    # hash array must be an attribute before the signature references it
    # per permutation
    staged = stage(df, __mh_toks=X.tokens(text_col))
    shingles = X.shingles_sql(X.sql_ident("__mh_toks"), shingle_k)
    staged = stage(
        staged,
        # str_hash(s) % P per shingle, as SQL text
        __mh_hs=F.expr(
            f"transform({shingles}, s -> "
            f"CAST(conv(substring(md5(s), 1, 8), 16, 10) AS BIGINT) % {MINHASH_P})"
        ),
    )
    return staged.withColumn(
        out_col, minhash_from_hashes("__mh_hs", num_hashes)
    ).drop("__mh_toks", "__mh_hs")


def _validate_banding(bands: int, num_hashes: int | None) -> None:
    if num_hashes is None:
        return
    if bands < 1 or bands > num_hashes or num_hashes % bands != 0:
        raise ValueError(
            f"bands={bands} must divide num_hashes={num_hashes} exactly "
            "(a remainder drops trailing signature slots; bands > length "
            "degenerates every band key to '')"
        )


def _band_key_sql(sig_col: str, i: int, bands: int) -> str:
    """SQL text of band i's key: the '_'-joined slice of the signature
    (equal-width banding). Shared by the pair join and the bucket
    explode; the SQL oracles slice sig[i*r+1:(i+1)*r] identically.
    `sig_col` is quoted, so any column name round-trips."""
    sig = X.sql_ident(sig_col)
    width = f"CAST(size({sig}) / {int(bands)} AS INT)"
    return (
        f"array_join(transform(slice({sig}, {int(i)} * {width} + 1, {width}), "
        "x -> CAST(x AS STRING)), '_')"
    )


def _band_structs_sql(sig_col: str, bands: int) -> str:
    """SQL text of array(struct(band_idx, band_key), ...) over all bands
    — the explode input of the bucket and pair builders."""
    return "array(" + ", ".join(
        f"struct({i} AS band_idx, {_band_key_sql(sig_col, i, bands)} AS band_key)"
        for i in range(bands)
    ) + ")"


def lsh_buckets(
    sigs: DataFrame,
    id_col: str = "doc_id",
    sig_col: str = "sig",
    bands: int = 4,
    num_hashes: int | None = None,
) -> DataFrame:
    """Explode signatures into (id, band_idx, band_key) bucket rows —
    the unit of LSH state. n_rows x bands tiny tuples; every downstream
    shuffle (ownership groupBy, collision join) rides on these keys,
    never on document text. The band keys are parsed in one call."""
    _validate_banding(bands, num_hashes)
    return sigs.select(
        F.col(id_col),
        F.explode(F.expr(_band_structs_sql(sig_col, bands))).alias("__b"),
    ).select(id_col, "__b.band_idx", "__b.band_key")


def first_arrival_flags_from_buckets(
    buckets: DataFrame, id_col: str
) -> DataFrame:
    """Shared first-arrival fold over ANY (id, band_idx, band_key)
    bucket table (text MinHash-LSH, embedding SRP, ...): bucket owner =
    MIN(id); a row is flagged iff a lower id owns any of its buckets,
    dup_of = the smallest such owner. One groupBy over bucket tuples +
    a same-key join back (exchange reused) + a groupBy over flagged
    ids — never all-pairs."""
    owners = buckets.groupBy("band_idx", "band_key").agg(
        F.min(id_col).alias("__owner")
    )
    return (
        buckets.join(owners, ["band_idx", "band_key"])
        .filter(F.col("__owner") < F.col(id_col))
        .groupBy(id_col)
        .agg(F.min("__owner").alias("dup_of"))
    )


def srp_buckets(
    sigs: DataFrame,
    id_col: str = "vec_id",
    sim_col: str = "srp",
    n_bits: int = 16,
    bands: int = 4,
) -> DataFrame:
    """Pigeonhole band slices of an SRP/SimHash integer code as the
    SHARED bucket schema (id, band_idx, band_key): band i's key is bits
    [i*width, (i+1)*width) rendered as a string, so embedding buckets
    drop into the same ownership folds and streaming state as text
    LSH buckets."""
    if n_bits % bands != 0:
        raise ValueError(f"bands={bands} must divide n_bits={n_bits}")
    width = n_bits // bands
    mask = (1 << width) - 1
    return sigs.select(
        F.col(id_col),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("band_idx"),
                        F.shiftright(F.col(sim_col), i * width)
                        .bitwiseAND(F.lit(mask))
                        .cast("string")
                        .alias("band_key"),
                    )
                    for i in range(bands)
                ]
            )
        ).alias("__b"),
    ).select(id_col, "__b.band_idx", "__b.band_key")


def srp_first_arrival_flags(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    n_bits: int = 16,
    bands: int = 4,
    seed: int = 7,
) -> DataFrame:
    """Embedding-modality twin of lsh_first_arrival_flags: block on
    ANGLE via sign-random-projection codes (Charikar SimHash for
    vectors, operators/topk.srp_signature) instead of token shingles —
    a vector is flagged iff any of its SRP band slices is owned by a
    lower id. Returns (id_col, dup_of) for flagged rows only. Batch
    replay of streaming.srp_dedup_sink under the same monotone-id
    contract."""
    from radient_spark.operators.topk import srp_signature

    sigs = df.select(
        F.col(id_col),
        srp_signature(vec_col, dim=dim, n_bits=n_bits, seed=seed).alias(
            "__srp"
        ),
    )
    return first_arrival_flags_from_buckets(
        srp_buckets(
            sigs, id_col=id_col, sim_col="__srp", n_bits=n_bits, bands=bands
        ),
        id_col,
    )


def lsh_first_arrival_flags(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 16,
    shingle_k: int = 3,
    bands: int = 4,
) -> DataFrame:
    """First-arrival near-dup flags: a document is flagged iff any of its
    LSH band buckets is also produced by a LOWER-id document; `dup_of` is
    the smallest such owner across its colliding buckets. Returns
    (id_col, dup_of) for flagged documents only — anti-join to keep the
    canonical survivors.

    This is the batch replay of streaming.lsh_dedup_sink: because bucket
    ownership is a MIN fold (commutative + idempotent), the incremental
    result is identical to this batch result whenever ids are assigned
    monotonically with arrival (the append-only ingestion contract) —
    regardless of micro-batch boundaries.

    Shuffle profile: one groupBy over (band_idx, band_key) bucket tuples
    (n_rows x bands, independent of document size), a same-key join back
    (the ownership exchange is reused), and a groupBy over flagged ids.
    Never all-pairs, never a self-join over text. Skewed boilerplate
    buckets are split by AQE skew handling."""
    return first_arrival_flags_from_buckets(
        lsh_text_buckets(df, id_col, text_col, num_hashes, shingle_k, bands),
        id_col,
    )


def lsh_text_buckets(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 16,
    shingle_k: int = 3,
    bands: int = 4,
) -> DataFrame:
    """(id, band_idx, band_key) LSH buckets of the non-blank documents:
    MinHash then banding — the per-batch bucket frame of
    streaming.lsh_dedup_sink and of its batch replay above. Every
    lambda-bearing part is parsed from SQL text in one call, so the
    frame is built in a few hundred py4j round trips."""
    sigs = with_minhash(
        df.filter(F.expr(f"length(trim({X.sql_ident(text_col)})) > 0"))
        .select(id_col, text_col),
        text_col=text_col,
        num_hashes=num_hashes,
        shingle_k=shingle_k,
        out_col="__sig",
    ).select(id_col, "__sig")
    return lsh_buckets(
        sigs, id_col=id_col, sig_col="__sig", bands=bands,
        num_hashes=num_hashes,
    )


def lsh_pairs_from_signatures(
    sigs: DataFrame,
    id_col: str = "doc_id",
    sig_col: str = "sig",
    bands: int = 4,
    num_hashes: int | None = None,
) -> DataFrame:
    """LSH banding over precomputed MinHash signatures: rows sharing any
    band become candidate pairs (id_a < id_b, deduplicated).

    Pass `num_hashes` (the signature length) to validate the banding up
    front: bands must divide it exactly — a remainder would silently drop
    trailing signature slots, and bands > length would make every band
    key '' and degenerate the self-join into an O(n^2) cross product.

    Shuffle profile: the self-join shuffles only (id, band_key) rows —
    n_rows * bands tiny tuples, independent of document size. Skewed
    buckets (boilerplate bands) are split by AQE skew-join handling; a
    bucket-size cap can be added with a count filter before the join.
    """
    _validate_banding(bands, num_hashes)

    # every band key rides along so the join can apply the
    # first-collision rule (see below) without a second lookup
    keys = ", ".join(_band_key_sql(sig_col, i, bands) for i in range(bands))
    banded = sigs.select(
        F.col(id_col).alias("__id"),
        F.expr(f"array({keys})").alias("__keys"),
        F.explode(F.expr(_band_structs_sql(sig_col, bands))).alias("b"),
    ).select("__id", "__keys", "b.band_idx", "b.band_key")
    left = banded.alias("l")
    right = banded.alias("r")
    # first-collision rule instead of a distinct: a pair sharing k bands
    # would otherwise surface k times and pay a dedup shuffle over the
    # whole candidate set; requiring every EARLIER band to differ emits
    # each pair from exactly one band
    first_collision = F.expr(" AND ".join(
        ["true"] + [
            f"(l.band_idx <= {j} OR "
            f"element_at(l.__keys, {j + 1}) <> element_at(r.__keys, {j + 1}))"
            for j in range(bands - 1)
        ]
    ))
    pairs = (
        left.join(
            right,
            (F.col("l.band_idx") == F.col("r.band_idx"))
            & (F.col("l.band_key") == F.col("r.band_key"))
            & (F.col("l.__id") < F.col("r.__id")),
        )
        .filter(first_collision)
        .select(F.col("l.__id").alias("id_a"), F.col("r.__id").alias("id_b"))
    )
    return pairs


def lsh_candidate_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 16,
    bands: int = 4,
    shingle_k: int = 3,
) -> DataFrame:
    """Convenience wrapper: signatures + banding in one call. When the
    signatures are reused elsewhere (e.g. a verify join), compute them once
    with with_minhash and call lsh_pairs_from_signatures directly."""
    _validate_banding(bands, num_hashes)
    sigs = with_minhash(
        df.select(F.col(id_col), F.col(text_col)),
        text_col=text_col,
        num_hashes=num_hashes,
        shingle_k=shingle_k,
        out_col="__sig",
    ).select(F.col(id_col), "__sig")
    return lsh_pairs_from_signatures(
        sigs, id_col=id_col, sig_col="__sig", bands=bands, num_hashes=num_hashes
    )


def minhash_jaccard_estimate(sig_a: str, sig_b: str) -> F.Column:
    """Estimated Jaccard = fraction of matching signature slots, over two
    signature columns given by name (one SQL parse)."""
    a, b = X.sql_ident(sig_a), X.sql_ident(sig_b)
    return F.expr(
        f"CAST(aggregate(zip_with({a}, {b}, (x, y) -> CAST(x = y AS INT)), 0, "
        f"(acc, x) -> acc + x) AS DOUBLE) / CAST(size({a}) AS DOUBLE)"
    )


def exact_dedup(df: DataFrame, cols: list[str] | None = None) -> DataFrame:
    """Exact dedup — Spark's hash-aggregate `dropDuplicates` (map-side
    partial dedup, then shuffle only distinct keys)."""
    return df.dropDuplicates(cols) if cols else df.dropDuplicates()


def canonicalize_duplicates(
    df: DataFrame, id_col: str = "doc_id", key_col: str = "text"
) -> DataFrame:
    """Per duplicate-group: canonical (min) id + group size. The classic
    exact-dedup report; groups by md5(key) so the shuffle carries 16-byte
    keys, not full documents."""
    return (
        df.select(F.col(id_col), F.md5(F.col(key_col)).alias("key_md5"))
        .groupBy("key_md5")
        .agg(
            F.min(id_col).alias("canonical_id"),
            F.count(F.lit(1)).alias("n_copies"),
        )
    )


def simhash_from_hashes(hashes_col: F.Column, n_bits: int = 32) -> F.Column:
    """SimHash fingerprint from a token-hash array column, as a BIGINT.

    bit b of the fingerprint = majority vote of bit b across token hashes.
    Pure Catalyst: n_bits folds over the (materialized) hash array per row,
    no shuffle. Pass a staged column (see with_simhash), not an inline
    expression — this references it n_bits times, and Catalyst would
    recompute an inline tokenize+hash pipeline per bit.
    """

    def vote(mask: int):
        return lambda acc, h: acc + F.when(
            h.bitwiseAND(F.lit(mask)) != 0, 1
        ).otherwise(-1)

    out = F.lit(0).cast("long")
    for b in range(n_bits):
        v = F.aggregate(hashes_col, F.lit(0), vote(1 << b))
        out = out + F.when(v > 0, F.lit(2**b).cast("long")).otherwise(F.lit(0))
    return out


def with_simhash(
    df: DataFrame,
    text_col: str = "text",
    n_bits: int = 32,
    out_col: str = "simhash",
) -> DataFrame:
    """Append a SimHash column, staging token hashes behind a Generate
    barrier — the bit-fold expression references the hash array n_bits
    times, which inlined would re-tokenize the row per bit."""
    from radient_spark.functions.stage import stage

    staged = stage(
        df,
        __sh_hs=F.transform(
            X.tokens(F.col(text_col)), lambda t: str_hash(t)
        ),
    )
    return staged.withColumn(
        out_col, simhash_from_hashes(F.col("__sh_hs"), n_bits)
    ).drop("__sh_hs")


def hamming64(a, b) -> F.Column:
    return F.bit_count(a.bitwiseXOR(b))


def connected_duplicate_groups(pairs: DataFrame, max_iter: int = 20) -> DataFrame:
    """Union near-dup pairs into groups via iterative min-label propagation
    (small-world duplicate clusters converge in a few rounds).

    Input: (id_a, id_b) pairs. Output: (id, group_id = min id in component).
    Each iteration is one groupBy shuffle on ids; iterations are logarithmic
    in component diameter — duplicate clusters are near-cliques, so 3-4
    rounds suffice in practice.
    """
    edges = pairs.select("id_a", "id_b").union(
        pairs.select(F.col("id_b").alias("id_a"), F.col("id_a").alias("id_b"))
    )
    labels = (
        edges.select(F.col("id_a").alias("id"))
        .distinct()
        .withColumn("group_id", F.col("id"))
    )
    for _ in range(max_iter):
        prop = (
            edges.join(labels, edges.id_b == labels.id)
            .groupBy("id_a")
            .agg(F.min("group_id").alias("nbr_min"))
        )
        new_labels = (
            labels.join(prop, labels.id == prop.id_a, "left")
            .select(
                "id",
                F.least(
                    F.col("group_id"), F.coalesce(F.col("nbr_min"), F.col("group_id"))
                ).alias("group_id"),
            )
        )
        # Checkpoint FIRST (lazily), then run the convergence probe
        # FROM the checkpointed frame as a full aggregate: a count over
        # the changed rows provably scans every new_labels partition,
        # so the probe job is guaranteed to materialize the checkpoint
        # — the round's plan is evaluated ONCE. (The previous
        # limit(1).count() probe could short-circuit under a
        # broadcast-join plan, leaving partitions for a supplemental
        # checkpoint job — correct, but plan-dependent; round-12
        # advice.) The old shape (probe on the raw plan, then a
        # separate eager checkpoint) evaluated every round twice
        # (guide §1.2).
        new_labels = truncate(new_labels)
        changed = (
            new_labels.alias("n")
            .join(labels.alias("o"), "id")
            .filter(F.col("n.group_id") != F.col("o.group_id"))
            .count()
        )
        labels = new_labels
        if changed == 0:
            break
    return labels


def repeated_ngram_coverage(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 5,
) -> DataFrame:
    """Exact repeated-substring detection: the relational re-expression of
    suffix-array training-data dedup (Lee et al. 2021, "Deduplicating
    Training Data Makes Language Models Better"). A token n-gram occurring
    >= 2 times anywhere in the corpus (within OR across documents) marks
    its [pos, pos+n) token span as duplicated text; per document we report
    the union length of those spans (gaps-and-islands in one window pass),
    which is exactly the "fraction of tokens inside a repeated substring"
    the suffix-array method computes for substrings of length n.

    Output: (id_col, n_tokens, n_dup_grams, covered_tokens, coverage)
    with coverage = covered_tokens / n_tokens.

    Scale shape (100 TB): the exploded stream carries (id, pos, gh1, gh2)
    = 28 bytes per gram — never gram text, and it is tokenized ONCE: the
    duplicate filter is a count window over the 120-bit gram key
    (str_hash120 — collision-free past 10^17 grams, so "exact" holds at
    corpus scale where a 32-bit key would mark everything duplicated; one
    shuffle on the key, hot boilerplate grams are the skewed keys AQE
    splits), then a per-document window whose partition is one document's
    hits (its shuffle input is already down to the duplicated grams). No
    driver state; suffix arrays need a global sort of the whole corpus,
    this needs a shuffle of gram *hashes* only.
    """
    from radient_spark.functions.stage import stage

    staged = stage(df, __rs_toks=X.tokens(F.col(text_col))).withColumn(
        "__rs_grams", X.shingles_from_tokens("__rs_toks", n)
    )
    pos = (
        staged.select(
            F.col(id_col).alias("__rs_id"),
            F.size("__rs_toks").alias("__rs_nt"),
            F.posexplode("__rs_grams").alias("pos", "gram"),
        )
        .withColumn("gh1", str_hash120(F.col("gram"))[0])
        .withColumn("gh2", str_hash120(F.col("gram"))[1])
        # short docs collapse to one whole-doc shingle spanning all tokens
        .withColumn("gend", F.col("pos") + F.least(F.lit(n), F.col("__rs_nt")))
        .drop("gram")
    )
    # single-pass duplicate filter: count over a (gh1, gh2) window instead
    # of a groupBy + self-join (which would recompute the tokenize/explode
    # lineage for each branch)
    hits = pos.withColumn(
        "__rs_ghn", F.count(F.lit(1)).over(Window.partitionBy("gh1", "gh2"))
    ).filter(F.col("__rs_ghn") >= 2)
    w = Window.partitionBy("__rs_id").orderBy("pos")
    prev_end = F.max("gend").over(
        w.rowsBetween(Window.unboundedPreceding, -1)
    )
    hits = hits.withColumn(
        "__rs_new",
        F.when(prev_end.isNull() | (F.col("pos") > prev_end), 1).otherwise(0),
    ).withColumn(
        "__rs_isl",
        F.sum("__rs_new").over(w.rowsBetween(Window.unboundedPreceding, 0)),
    )
    per_doc = (
        hits.groupBy("__rs_id", "__rs_isl")
        .agg(
            (F.max("gend") - F.min("pos")).alias("__rs_cov"),
            F.count(F.lit(1)).alias("__rs_nh"),
        )
        .groupBy("__rs_id")
        .agg(
            F.sum("__rs_cov").alias("covered_tokens"),
            F.sum("__rs_nh").alias("n_dup_grams"),
        )
    )
    base = df.select(
        F.col(id_col), X.token_count(F.col(text_col)).alias("n_tokens")
    )
    return base.join(
        per_doc, base[id_col] == per_doc["__rs_id"], "left"
    ).select(
        F.col(id_col),
        "n_tokens",
        F.coalesce("n_dup_grams", F.lit(0)).cast("long").alias("n_dup_grams"),
        F.coalesce("covered_tokens", F.lit(0))
        .cast("long")
        .alias("covered_tokens"),
        F.when(F.col("n_tokens") == 0, F.lit(0.0))
        .otherwise(
            F.coalesce("covered_tokens", F.lit(0)).cast("double")
            / F.col("n_tokens").cast("double")
        )
        .alias("coverage"),
    )


def paragraph_dedup(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    chunk_tokens: int = 10,
) -> DataFrame:
    """Sub-document (paragraph-level) dedup with reassembly — the
    RefinedWeb/CCNet-style pass that removes boilerplate repeated ACROSS
    documents while keeping each document's unique content: split every
    document into fixed-size token chunks (the paragraph proxy for this
    corpus' unpunctuated text), keep only the globally FIRST occurrence
    of each distinct chunk (ordered by (doc_id, chunk index) — a total,
    engine-independent order), and reassemble the surviving chunks in
    document order.

    Returns (id, n_chunks, n_kept, clean_text).

    Scale shape: explode to one row per chunk; ONE shuffle on the chunk
    key for the first-occurrence window (carrying (id, idx, chunk) —
    bound the chunk payload by hashing it with str_hash120 if chunks are
    huge); one groupBy(id) to reassemble. No driver state, no all-pairs
    anything: cost is linear in corpus tokens.
    """
    toks = X.tokens(F.col(text_col))
    n_chunks = F.ceil(F.size("__toks") / F.lit(chunk_tokens)).cast("int")
    chunks = (
        df.select(F.col(id_col).alias("id"), toks.alias("__toks"))
        .filter(F.size("__toks") > 0)
        .select(
            "id",
            F.posexplode(
                F.transform(
                    F.sequence(F.lit(0), n_chunks - 1),
                    lambda i: F.array_join(
                        F.slice(F.col("__toks"), i * chunk_tokens + 1, chunk_tokens),
                        " ",
                    ),
                )
            ).alias("cidx", "chunk"),
        )
    )
    w = Window.partitionBy("chunk").orderBy("id", "cidx")
    marked = chunks.withColumn("__rn", F.row_number().over(w))
    return (
        marked.groupBy("id")
        .agg(
            F.count(F.lit(1)).alias("n_chunks"),
            F.sum((F.col("__rn") == 1).cast("long")).alias("n_kept"),
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(
                            F.when(
                                F.col("__rn") == 1,
                                F.struct(F.col("cidx"), F.col("chunk")),
                            )
                        )
                    ),
                    lambda s: s["chunk"],
                ),
                " ",
            ).alias("clean_text"),
        )
    )


# ---------------------------------------------------------------------------
# Bloom-filter ingest gate


def _bloom_position_cols(key: F.Column, m_bits: int, k: int) -> list:
    """The k Bloom positions as k PLAIN scalar columns (unrolled over
    the literal i) rather than a sequence/transform lambda: higher-order
    functions are evaluated interpreted per element, outside
    whole-stage codegen — measured as the dominant per-fact-row cost of
    the bloom gate (optimization r12, guide §4.1: prefer built-in
    scalar expressions). Values are bit-identical: same arithmetic,
    same md5 slices; codegen's subexpression elimination shares the one
    md5 call across h1/h2."""
    h = F.md5(key)
    h1 = F.conv(F.substring(h, 1, 15), 16, 10).cast("long") % m_bits
    h2 = (
        F.conv(F.substring(h, 17, 15), 16, 10).cast("long") % m_bits
    ).bitwiseOR(F.lit(1).cast("long"))
    return [(h1 + F.lit(i) * h2) % m_bits for i in range(k)]


def bloom_positions(key: F.Column, m_bits: int, k: int) -> F.Column:
    """The k Bloom bit positions of a key, by Kirsch-Mitzenmacher double
    hashing: pos_i = (h1 + i*h2) mod m from two independent 60-bit md5
    slices. Portable: DuckDB reproduces every position bit-for-bit
    (`('0x' || substring(md5(x), 1, 15))::BIGINT`), so the whole filter
    is oracle-checkable. h2 is forced odd so the stride never collapses
    to a single cell (and is coprime with power-of-two m)."""
    return F.array(*_bloom_position_cols(key, m_bits, k))


def _bit_mask(bit: F.Column) -> F.Column:
    """1 << bit for a COLUMN shift amount (F.shiftleft only takes a
    Python-int shift): pow(2, bit) is exact in double for bit <= 52,
    far above the 0..31 range packed here."""
    return F.pow(F.lit(2.0), bit).cast("long")


def bloom_build(
    df: DataFrame, key_col: str, m_bits: int = 1 << 18, k: int = 5
) -> DataFrame:
    """Build an m-bit Bloom filter over df[key_col] as a (word, bits)
    bitmap table — 32 bits packed per BIGINT word (32, not 64, so the
    `1 << bit` mask never touches the sign bit in either engine).

    Scale shape: ONE aggregation over the corpus — explode k positions
    per key (k rows of 16 bytes each), map-side-combined bit_or groupBy
    on the word index. The result is at most m/32 rows REGARDLESS of
    corpus size: a 10^9-key corpus at 10 bits/key compresses to a
    ~40 MB table. That is the whole point — the probe side joins this
    table instead of anti-joining 100 TB of corpus keys.
    """
    pos = df.select(
        F.explode(bloom_positions(F.col(key_col), m_bits, k)).alias("pos")
    )
    return (
        pos.withColumn("word", (F.col("pos") / 32).cast("long"))
        .withColumn("bit", (F.col("pos") % 32).cast("int"))
        .groupBy("word")
        .agg(F.bit_or(_bit_mask(F.col("bit"))).alias("bits"))
    )


def bloom_gate(
    batch: DataFrame,
    bitmap: DataFrame,
    key_col: str,
    m_bits: int = 1 << 18,
    k: int = 5,
    out_col: str = "maybe_dup",
) -> DataFrame:
    """Gate an ingest batch against a Bloom bitmap: adds `maybe_dup`
    (true = all k bits set — present OR false positive; false =
    DEFINITELY new). The cheap pre-filter in front of exact/fuzzy dedup:
    rows that fail the gate skip the expensive corpus anti-join
    entirely; at a 1% FP rate, ~99% of genuinely-new data
    short-circuits and the corpus itself is never touched.

    Scale shape: the bitmap is collected into ONE literal array of
    m/32 BIGINT words and the probe becomes a narrow map-only
    projection — zero shuffle, zero join, whole-stage codegen. The
    collect is the documented small-side contract of the operator:
    the dense bitmap IS the compressed corpus (2^27 bits = 512 KB;
    even 10 bits/key for 10^9 keys = ~40 MB, a normal broadcast). For
    multi-GB filters, partition the bitmap by word range and join
    exploded probe positions instead (bloom_gate_joined).
    """
    from radient_spark.functions.vector import lit_longs

    n_words = (m_bits + 31) // 32
    words = [0] * n_words
    for w, bits in bitmap.select("word", "bits").collect():
        words[int(w)] = int(bits)
    # ONE expression parse for the m/32-word literal (optimization r12,
    # guide §5): F.lit(list) converts element-by-element over py4j —
    # 0.79 s of driver time for a 2048-word bitmap; lit_longs is ~ms.
    lit_words = lit_longs(words)
    # Unrolled k-way AND of plain scalar probes instead of forall over
    # the position array: stays inside whole-stage codegen (see
    # _bloom_position_cols). Same probe arithmetic, same result.
    hit_all = None
    for p in _bloom_position_cols(F.col(key_col), m_bits, k):
        hit = (
            F.element_at(lit_words, (p / 32).cast("int") + 1).bitwiseAND(
                _bit_mask((p % 32).cast("int"))
            )
            != 0
        )
        hit_all = hit if hit_all is None else (hit_all & hit)
    return batch.withColumn(out_col, hit_all)


def sorted_neighborhood_pairs(
    df: DataFrame,
    key_col: str,
    id_col: str,
    window: int = 5,
    num_partitions: int | None = None,
) -> DataFrame:
    """Sorted-neighborhood candidate generation (Hernandez & Stolfo
    1995), the third blocking strategy in the dedup family (besides
    LSH-band bucketing and embedding clusters): order the corpus by a
    blocking key and emit every pair within `window` positions —
    near-duplicates with similar keys become neighbors regardless of
    their hash buckets.

    Distributed shape: the global order comes from the shared
    distributed-rank engine (stateless range boundaries + per-range
    windows — no single-reducer sort); neighbor pairs then join on
    rank-block ids of width `window` (each left row duplicated into its
    own and the next block), so the shuffle carries 2 rows per input
    row and each joined cell compares only ~window^2 local candidates.
    Output: (id_a, id_b, gap) with id_a earlier in key order.
    """
    from radient_spark.operators.dataset import distributed_rank

    # Order-preserving numeric proxy of the key's first 7 UTF-8 BYTES,
    # zero-padded to fixed width: both Spark and DuckDB order strings by
    # UTF-8 byte sequence, and 0x00-padding keeps prefixes sorting
    # before their extensions — so the proxy is monotone for ANY key,
    # variable-length and non-ASCII included. (_distributed_rank
    # REQUIRES range alignment with order_cols; an unpadded hex proxy
    # would rank every short key below every longer one.)
    proxy = F.conv(
        F.rpad(F.hex(F.substring(F.encode(F.col(key_col), "UTF-8"), 1, 7)), 14, "0"),
        16,
        10,
    )
    ranked = distributed_rank(
        df.select(F.col(id_col), F.col(key_col)),
        [F.col(key_col).asc(), F.col(id_col).asc()],
        proxy,
        out_col="__rank",
        num_partitions=num_partitions,
    )
    blk = ((F.col("__rank") - 1) / window).cast("long")
    left = ranked.select(
        F.col(id_col).alias("id_a"),
        F.col("__rank").alias("rank_a"),
        F.explode(F.array(blk, blk + 1)).alias("__blk"),
    )
    right = ranked.select(
        F.col(id_col).alias("id_b"),
        F.col("__rank").alias("rank_b"),
        blk.alias("__blk"),
    )
    return (
        left.join(right, "__blk")
        .filter(
            (F.col("rank_b") - F.col("rank_a") >= 1)
            & (F.col("rank_b") - F.col("rank_a") <= window)
        )
        .select(
            "id_a", "id_b", (F.col("rank_b") - F.col("rank_a")).alias("gap")
        )
    )


def simhash_near_pairs(
    sigs: DataFrame,
    id_col: str = "doc_id",
    sim_col: str = "simhash",
    n_bits: int = 32,
    bands: int = 4,
    max_hamming: int = 3,
) -> DataFrame:
    """Near-duplicate pairs under a SimHash Hamming radius, by pigeonhole
    banding: split the n-bit fingerprint into `bands` equal slices — two
    fingerprints within Hamming distance `max_hamming` < bands MUST agree
    on at least one whole slice (pigeonhole), so an equality self-join on
    (band_idx, band_value) finds every qualifying pair, then an exact
    bit_count(xor) filter keeps the true ones. No false negatives; the
    only waste is band-collision verification.

    Shuffle profile: like MinHash LSH — the self-join carries
    (id, band_idx, band_value) 24-byte rows, `bands` per document,
    independent of document size.
    """
    if bands <= max_hamming:
        raise ValueError(
            f"bands={bands} must exceed max_hamming={max_hamming} for the "
            "pigeonhole guarantee (d < bands forces one untouched band)"
        )
    width = n_bits // bands
    mask = (1 << width) - 1
    banded = sigs.select(
        F.col(id_col).alias("__id"),
        F.col(sim_col).alias("__sh"),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("bi"),
                        F.shiftright(F.col(sim_col), i * width)
                        .bitwiseAND(F.lit(mask))
                        .alias("bv"),
                    )
                    for i in range(bands)
                ]
            )
        ).alias("b"),
    ).select("__id", "__sh", "b.bi", "b.bv")
    left = banded.alias("l")
    right = banded.alias("r")

    def band(col, j):
        return F.shiftright(col, j * width).bitwiseAND(F.lit(mask))

    # first-collision rule replaces a distinct: both fingerprints ride
    # the join, so "every band BEFORE bi differs" emits each pair from
    # exactly one band — no dedup shuffle over the candidate pairs
    first_collision = F.lit(True)
    for j in range(bands - 1):
        first_collision = first_collision & (
            (F.col("l.bi") <= j)
            | (band(F.col("l.__sh"), j) != band(F.col("r.__sh"), j))
        )
    return (
        left.join(
            right,
            (F.col("l.bi") == F.col("r.bi"))
            & (F.col("l.bv") == F.col("r.bv"))
            & (F.col("l.__id") < F.col("r.__id")),
        )
        .filter(first_collision)
        .select(
            F.col("l.__id").alias("id_a"),
            F.col("r.__id").alias("id_b"),
            hamming64(F.col("l.__sh"), F.col("r.__sh")).alias("hamming"),
        )
        .filter(F.col("hamming") <= max_hamming)
    )


def multipass_snm_pairs(
    df: DataFrame,
    key_cols: list[str],
    id_col: str,
    window: int = 5,
    num_partitions: int | None = None,
) -> DataFrame:
    """MULTI-PASS sorted-neighborhood (the full Hernandez & Stolfo 1995
    method): one sorted-neighborhood pass per blocking key, candidate
    sets UNIONed and deduplicated — a record whose corruption defeats
    one sort key (typo in the leading tokens) is usually caught by
    another (reversed field order, different prefix), which is why the
    published method specifies multiple passes over cheap keys rather
    than one pass over a clever key.

    Output: (id_a, id_b, n_passes, min_gap) with id_a < id_b —
    n_passes counts how many keys proposed the pair (a cheap
    confidence prior for the verify stage).  Each pass costs one
    distributed-rank + block join; the union shuffles candidate pairs
    only (never the corpus), and the dedup groupBy is
    candidate-sized."""
    if not key_cols:
        raise ValueError("key_cols must be non-empty")
    all_pairs = None
    for key_col in key_cols:
        pairs = sorted_neighborhood_pairs(
            df, key_col, id_col, window=window, num_partitions=num_partitions
        ).select(
            F.least("id_a", "id_b").alias("id_a"),
            F.greatest("id_a", "id_b").alias("id_b"),
            "gap",
        )
        all_pairs = pairs if all_pairs is None else all_pairs.unionByName(pairs)
    return all_pairs.groupBy("id_a", "id_b").agg(
        F.count(F.lit(1)).alias("n_passes"),
        F.min("gap").alias("min_gap"),
    )


def simhash_multiprobe_pairs(
    sigs: DataFrame,
    id_col: str = "doc_id",
    sim_col: str = "simhash",
    n_bits: int = 16,
    bands: int = 4,
    max_hamming: int = 7,
) -> DataFrame:
    """MULTIPROBE banded near-dup pairs: besides its exact band values,
    each fingerprint also probes every 1-bit-flipped variant of each
    band — extending the pigeonhole guarantee from Hamming < bands to
    Hamming <= 2*bands - 1 (if every band differs but the total is
    <= 2b-1, some band differs in EXACTLY one bit, and that band's
    flip probe collides).  This is the classic multiprobe-LSH recall
    lever: more probes instead of more tables — index size unchanged,
    probe fan-out x(width+1).

    Shuffle profile: probe side carries bands*(width+1) 24-byte rows
    per fingerprint; the equality join matches probes against EXACT
    band values (one-sided probing avoids double expansion), then the
    exact bit_count(xor) radius filter keeps true pairs — still no
    false negatives within the radius, no corpus-sized shuffle.
    """
    if max_hamming > 2 * bands - 1:
        raise ValueError(
            f"max_hamming={max_hamming} exceeds the multiprobe guarantee "
            f"2*bands-1={2 * bands - 1}"
        )
    width = n_bits // bands
    mask = (1 << width) - 1

    def band_structs(flips: bool):
        out = []
        for i in range(bands):
            bv = F.shiftright(F.col(sim_col), i * width).bitwiseAND(
                F.lit(mask)
            )
            variants = [bv] + (
                [bv.bitwiseXOR(F.lit(1 << b)) for b in range(width)]
                if flips
                else []
            )
            out += [
                F.struct(F.lit(i).alias("bi"), v.alias("bv"))
                for v in variants
            ]
        return F.explode(F.array(*out)).alias("b")

    exact = sigs.select(
        F.col(id_col).alias("__id"),
        F.col(sim_col).alias("__sh"),
        band_structs(False),
    ).select("__id", "__sh", "b.bi", "b.bv")
    probes = sigs.select(
        F.col(id_col).alias("__id"),
        F.col(sim_col).alias("__sh"),
        band_structs(True),
    ).select("__id", "__sh", "b.bi", "b.bv")
    l, r = probes.alias("l"), exact.alias("r")
    pairs = (
        l.join(
            r,
            (F.col("l.bi") == F.col("r.bi"))
            & (F.col("l.bv") == F.col("r.bv"))
            & (F.col("l.__id") < F.col("r.__id")),
        )
        .select(
            F.col("l.__id").alias("id_a"),
            F.col("r.__id").alias("id_b"),
            F.bit_count(
                F.col("l.__sh").bitwiseXOR(F.col("r.__sh"))
            ).alias("hamming"),
        )
        # radius filter BEFORE the dedup: duplicates of a pair carry the
        # same hamming, so filtering first is value-identical but the
        # dropDuplicates shuffle sees only within-radius pairs instead
        # of the full probe-fanout candidate stream (~width+1 x bands
        # entries per row) — measured 1.5x on q_srp_multiprobe_pairs
        .filter(F.col("hamming") <= max_hamming)
        .dropDuplicates(["id_a", "id_b"])
    )
    return pairs


def token_pair_counts(
    toks: DataFrame,
    id_col: str = "doc_id",
    part_col: str | None = "source",
    tokens_col: str = "toks",
    max_df: int | None = None,
    candidates: DataFrame | None = None,
) -> DataFrame:
    """Shared-token counts per unordered document pair — the exact
    verify core of the n-gram Jaccard / containment dedup family.
    Input: one row per doc with a DISTINCT-token array `tokens_col`
    (and optionally a partition column restricting comparisons).
    Output: (part_col?, id_a, id_b, shared, na, nb) with id_a < id_b;
    callers derive jaccard = shared/(na+nb-shared) or containment =
    shared/least(na, nb).

    Three execution modes (round-6: the scale guard is an OPTION, not
    SCALING.md prose):

    - default (max_df=None, candidates=None): posting-list self-join on
      (part, token) + pair groupBy.  Work is O(sum over tokens of df^2)
      — measured FASTEST on this corpus's small uniform vocabulary
      (PPJoin prefix filtering and length pruning both measured slower,
      see q_ngram_jaccard_pairs), but quadratic in each token's
      document frequency, i.e. quadratic on stopwords for zipfian real
      corpora.
    - max_df=N: candidate pairs are generated ONLY from postings whose
      per-partition document frequency is <= N (stopword postings never
      enter the self-join, bounding per-token cost at O(N^2)); each
      candidate is then verified EXACTLY on the full token arrays
      (array_intersect), so emitted scores are identical to the default
      mode.  A true pair is missed only if EVERY shared token has
      df > N — impossible for near-dup thresholds unless the docs are
      made entirely of stopwords.
    - candidates=DF[(part?, id_a, id_b)]: skip generation entirely and
      exact-verify a caller-supplied candidate set (e.g. MinHash-LSH
      output) — the banded-candidates composition.
    """
    part = [part_col] if part_col else []
    sizes = toks.select(id_col, F.size(tokens_col).alias("n_toks"))
    posting = toks.select(
        *part, id_col, F.explode(tokens_col).alias("token")
    )

    def _pair_join(p: DataFrame):
        a = p.select(*part, F.col(id_col).alias("id_a"), "token")
        b = p.select(
            *[F.col(c).alias(f"{c}_b") for c in part],
            F.col(id_col).alias("id_b"),
            F.col("token").alias("token_b"),
        )
        cond = (F.col("token") == F.col("token_b")) & (
            F.col("id_a") < F.col("id_b")
        )
        for c in part:
            cond = (F.col(c) == F.col(f"{c}_b")) & cond
        return a.join(b, cond)

    if candidates is None and max_df is None:
        shared = (
            _pair_join(posting)
            .groupBy(*part, "id_a", "id_b")
            .agg(F.count(F.lit(1)).alias("shared"))
        )
    else:
        if candidates is None:
            dfc = posting.groupBy(*part, "token").agg(
                F.count(F.lit(1)).alias("df")
            )
            rare = posting.join(
                dfc.filter(F.col("df") <= max_df).select(*part, "token"),
                part + ["token"],
            )
            candidates = (
                _pair_join(rare).select(*part, "id_a", "id_b").distinct()
            )
        ta = toks.select(
            *part,
            F.col(id_col).alias("id_a"),
            F.col(tokens_col).alias("__toks_a"),
        )
        tb = toks.select(
            F.col(id_col).alias("id_b"),
            F.col(tokens_col).alias("__toks_b"),
        )
        shared = (
            candidates.join(ta, part + ["id_a"])
            .join(tb, "id_b")
            .select(
                *part,
                "id_a",
                "id_b",
                F.size(F.array_intersect("__toks_a", "__toks_b")).alias(
                    "shared"
                ),
            )
        )
    na = sizes.select(F.col(id_col).alias("id_a"), F.col("n_toks").alias("na"))
    nb = sizes.select(F.col(id_col).alias("id_b"), F.col("n_toks").alias("nb"))
    return shared.join(F.broadcast(na), "id_a").join(F.broadcast(nb), "id_b")


def prefix_filter_candidates(
    toks: DataFrame,
    id_col: str = "doc_id",
    tokens_col: str = "toks",
    t_num: int = 3,
    t_den: int = 5,
    part_col: str | None = None,
) -> DataFrame:
    """PPJoin-style prefix-filtered candidate pairs for a Jaccard
    set-similarity self-join at threshold t = t_num/t_den (Xiao et al.,
    WWW 2008; Chaudhuri et al., ICDE 2006 SSJoin).  Complements
    token_pair_counts' max_df cap with the CLASSIC guarantee: order each
    document's distinct tokens by global rarity (df asc, token asc —
    any shared total order works), keep only the first
    p = n - ceil(t*n) + 1 tokens (the "prefix"), and self-join postings
    on prefix tokens only.  Completeness: J(A,B) >= t implies
    |A∩B| >= ceil(t*|A|); if A's prefix and B's prefix were disjoint,
    every common element would lie past the prefix in at least one set,
    leaving at most (|A| - p_A) = ceil(t*|A|) - 1 common elements — a
    contradiction, so every qualifying pair shares a PREFIX token and
    no true pair is dropped (the oracle for q_prefix_jaccard_pairs is
    the unfiltered all-pairs ground truth, which proves it).  A length filter
    (t*max(n_a,n_b) <= min(n_a,n_b), cross-multiplied in integers)
    prunes size-mismatched candidates before verification.

    The threshold is a RATIONAL (t_num/t_den), never a float:
    ceil(t*n) = (t_num*n + t_den - 1) div t_den stays on the integer
    lattice, so Spark and any SQL oracle agree at exact boundary sizes
    (0.6*5 in binary floating point is 3.0000000000000004 — a float
    ceil would silently shorten the prefix and break completeness).

    Scale shape: one token-keyed shuffle for df, one per-doc window to
    rank tokens by rarity, then a posting self-join restricted to
    prefix tokens — rare tokens first means the join's per-token fanout
    is smallest exactly where documents put their candidate mass.  On
    zipfian vocabularies the prefix never contains the stopword tail,
    which is the blowup max_df merely caps.  (On this driver corpus's
    small uniform vocabulary the 3 extra shuffles outweigh the ~2.6x
    candidate cut — measured in SCALING.md — so token_pair_counts'
    default stays the uncapped posting join; this operator is the
    zipfian-corpus path.)

    Returns (part_col?, id_a, id_b) with id_a < id_b, distinct.
    """
    part = [part_col] if part_col else []
    posting = toks.select(
        *part,
        F.col(id_col).alias("__id"),
        F.size(tokens_col).alias("__n"),
        F.explode(tokens_col).alias("token"),
    )
    dfreq = posting.groupBy(*part, "token").agg(
        F.count(F.lit(1)).alias("__df")
    )
    ranked = posting.join(dfreq, part + ["token"]).withColumn(
        "__rn",
        F.row_number().over(
            Window.partitionBy(*part, "__id").orderBy("__df", "token")
        ),
    )
    prefix = ranked.filter(
        F.col("__rn")
        <= F.expr(f"__n - (({t_num} * __n + {t_den - 1}) div {t_den}) + 1")
    )
    a = prefix.select(
        *part,
        F.col("__id").alias("id_a"),
        F.col("__n").alias("__na"),
        "token",
    )
    b = prefix.select(
        *[F.col(c).alias(f"{c}_b") for c in part],
        F.col("__id").alias("id_b"),
        F.col("__n").alias("__nb"),
        F.col("token").alias("token_b"),
    )
    cond = (
        (F.col("token") == F.col("token_b"))
        & (F.col("id_a") < F.col("id_b"))
        & (
            F.lit(t_num) * F.greatest("__na", "__nb")
            <= F.lit(t_den) * F.least("__na", "__nb")
        )
    )
    for c in part:
        cond = (F.col(c) == F.col(f"{c}_b")) & cond
    return a.join(b, cond).select(*part, "id_a", "id_b").distinct()
