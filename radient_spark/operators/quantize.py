"""Vector quantization for embedding columns: SQ8 scalar quantization
(per-dimension affine int8 codes) and product quantization (PQ —
per-subspace k-means codebooks, Jegou et al. 2011) — the standard
memory-compression paths for similarity search at scale (SQ8 is 4x
smaller than float32 with integer dot products; PQ with m=8 subspaces
is 32x smaller with lookup-table scans).

The reference keeps all vectors as float32 in its local index
(/root/reference/radient/tasks/sinks/local/_gann_c_src/gann.c stores raw
float arrays); at 100 TB of embeddings the quantized representation is
what makes the corpus fit the cluster's memory budget, so this is a
first-class beyond-reference operator (SURVEY.md §2.8).

Determinism: codes are floor((x - mn) * 255 / (mx - mn) + 0.5) computed
in double precision with that exact association — each step is a single
correctly-rounded IEEE op, so codes are bit-identical in any engine, and
quantized scores are *integer* sums (exact, order-independent). A DuckDB
oracle therefore hash-matches with no rounding contract at all.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from radient_spark.functions.vector import lit_doubles, lit_long_matrix, lit_longs
from radient_spark.session import local_frame


def sq8_minmax(df: DataFrame, vec_col: str = "embedding") -> list[tuple[float, float]]:
    """Per-dimension (min, max) over the corpus, computed on double-cast
    values (float32 widens exactly). One aggregation whose shuffle
    cardinality is the dimensionality (64 groups for a 64-d corpus) —
    the codebook is then a tiny driver-side literal, the legitimate
    "broadcast the model, stream the data" shape."""
    dims = df.select(F.posexplode(vec_col).alias("dim", "v")).select(
        "dim", F.col("v").cast("double").alias("v")
    )
    rows = (
        dims.groupBy("dim")
        .agg(F.min("v").alias("mn"), F.max("v").alias("mx"))
        .orderBy("dim")
        .collect()
    )
    return [(r["mn"], r["mx"]) for r in rows]


def _code(x, mn, mx):
    """clamp(floor((x - mn) * 255 / (mx - mn) + 0.5), 0, 255); degenerate
    dimensions (mx == mn) code to 0. The association (x-mn)*255/(mx-mn)
    is the determinism contract — do not refactor into a precomputed
    scale, that changes the rounding."""
    raw = F.floor((x - mn) * F.lit(255.0) / (mx - mn) + F.lit(0.5))
    clamped = F.greatest(
        F.lit(0).cast("long"), F.least(F.lit(255).cast("long"), raw)
    )
    return F.when(mx == mn, F.lit(0).cast("long")).otherwise(clamped)


def sq8_encode(
    df: DataFrame,
    stats: list[tuple[float, float]],
    vec_col: str = "embedding",
    out_col: str = "codes",
) -> DataFrame:
    """Append an int8-code column (as array<long> of 0..255 values —
    the compute representation; `pack_codes` converts to 1-byte-per-code
    BinaryType at the storage boundary for the full 4x win). Pure
    per-row Catalyst zip over literal (mn, mx) arrays — zero shuffle."""
    mn_arr = lit_doubles(a for a, _ in stats)
    mx_arr = lit_doubles(b for _, b in stats)
    centered = F.zip_with(
        F.col(vec_col), mn_arr, lambda x, m: F.struct(
            x.cast("double").alias("x"), m.alias("mn")
        )
    )
    codes = F.zip_with(
        centered, mx_arr, lambda s, mx: _code(s["x"], s["mn"], mx)
    )
    return df.withColumn(out_col, codes)


def sq8_topk(
    df: DataFrame,
    stats: list[tuple[float, float]],
    query: list[float],
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    score_col: str = "qscore",
) -> DataFrame:
    """Top-k by asymmetric distance computation (ADC), the standard SQ8
    search scoring: the raw double query against code reconstructions.
    Per dim, q_i * recon_i = q_i*mn_i + c_i * (q_i*(mx_i-mn_i)/255); the
    first term is a row-constant offset that cannot change the ranking,
    so the score is sum_i c_i * w_i with per-dim weights w_i precomputed
    driver-side (i.e. the reported score is the true dot product minus
    the constant sum_i q_i*mn_i).

    Determinism: c_i*w_i is one IEEE multiply of bit-pinned operands;
    each term routes through DECIMAL(18,6) and then exact integer
    micro-units (x 1e6), so the fold is an order-independent integer sum
    and the final score is one deterministic division. Plan shape:
    per-row fold + TakeOrderedAndProject — the corpus never shuffles."""
    encoded = sq8_encode(df, stats, vec_col)
    weights = [
        q * (mx - mn) / 255.0 for q, (mn, mx) in zip(query, stats)
    ]
    w_arr = lit_doubles(weights)
    score = (
        F.aggregate(
            F.zip_with(
                F.col("codes"),
                w_arr,
                lambda c, w: (
                    (c.cast("double") * w).cast("decimal(18,6)")
                    * F.lit(1_000_000)
                ).cast("long"),
            ),
            F.lit(0).cast("long"),
            lambda acc, x: acc + x,
        ).cast("double")
        / F.lit(1_000_000.0)
    )
    return (
        encoded.select(F.col(id_col), score.alias(score_col))
        .orderBy(F.col(score_col).desc(), F.col(id_col).asc())
        .limit(k)
    )


def pack_codes(
    df: DataFrame, codes_col: str = "codes", out_col: str | None = None
) -> DataFrame:
    """Pack an `array<long>` of 0..255 codes into ONE BinaryType cell —
    exactly 1 byte per code on disk, which is what makes SQ8's "4x
    smaller than float32" (and PQ's 32x) true at the storage boundary
    rather than a docstring aspiration (array<long> spends 8 bytes per
    code). Pure Catalyst, zero UDF: each code renders as a 2-char hex
    pair, the pairs concatenate, and unhex emits the byte string.

    Contract: codes outside 0..255 are a caller bug (sq8/pq encoders
    clamp); keep `array<long>` as the in-flight compute representation
    and pack only when persisting (parquet/ORC store binary verbatim)."""
    out_col = out_col or codes_col
    packed = F.when(
        F.col(codes_col).isNull(), F.lit(None).cast("binary")
    ).otherwise(
        F.unhex(
            F.concat_ws(
                "",
                F.transform(F.col(codes_col), lambda c: F.lpad(F.hex(c), 2, "0")),
            )
        )
    )
    return df.withColumn(out_col, packed)


def unpack_codes(
    df: DataFrame, packed_col: str = "codes", out_col: str | None = None
) -> DataFrame:
    """Inverse of pack_codes: BinaryType -> `array<long>` of 0..255.
    Round-trips bit-exactly (tests/test_quantize.py)."""
    out_col = out_col or packed_col
    hx = F.hex(F.col(packed_col))
    n = F.length(F.col(packed_col))
    codes = F.when(
        F.col(packed_col).isNull(), F.lit(None).cast("array<long>")
    ).when(n == 0, F.array().cast("array<long>")).otherwise(
        F.transform(
            F.sequence(F.lit(0), n - 1),
            lambda i: F.conv(F.substring(hx, i * 2 + 1, F.lit(2)), 16, 10).cast(
                "long"
            ),
        )
    )
    return df.withColumn(out_col, codes)


# ---------------------------------------------------------------------------
# Product quantization (PQ) on the integer lattice.
#
# Reuses the bit-exact lattice k-means from operators/cluster.py per
# subspace, so codebooks, codes, and ADC distances are ALL exact
# integers — the full fit+encode+search pipeline hash-matches a pure-SQL
# oracle (the same unrolled-Lloyd CTE trick as q_kmeans_embedding_clusters,
# restricted per subspace to its dim range).


def pq_fit(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    m: int = 8,
    k: int = 16,
    iters: int = 1,
    seed: int = 42,
) -> list[list[list[int]]]:
    """Fit m per-subspace codebooks of k centroids each (micro-unit
    lattice space). The seeded init picks the same md5-ranked rows in
    every subspace, so a SQL oracle shares one seed CTE.

    All m subspace fits run fused: ONE seed collect, and per Lloyd
    iteration ONE assignment+aggregate pass computing every subspace's
    argmin codes and centroid means together (the aggregate's shuffle is
    O(partitions * k * dim) partial rows — corpus-size independent, and
    the driver sync is k*dim longs, same as a single full-space k-means).
    Produces bit-identical codebooks to m independent lattice k-means
    runs, which is what the SQL oracle unrolls."""
    from radient_spark.operators.cluster import _argmin_struct, micro_vec
    from radient_spark.operators.dedup import str_hash

    micro = df.select(
        F.col(id_col), micro_vec(F.col(vec_col)).alias("__m")
    ).persist()
    try:
        seed_rows = (
            micro.orderBy(
                str_hash(F.concat_ws("_", F.lit(seed), F.col(id_col))),
                F.col(id_col),
            )
            .limit(k)
            .collect()
        )
        if not seed_rows:
            raise ValueError(
                "pq_fit: empty corpus — nothing to fit codebooks on"
            )
        # dim from the seed rows (optimization r12, guide §1): the old
        # standalone df.first() probe was a separate full-plan job paid
        # before the seed collect every call.
        dim = len(seed_rows[0]["__m"])
        if dim % m != 0:
            raise ValueError(f"dim {dim} not divisible by m={m} subspaces")
        d_sub = dim // m
        if len(seed_rows) < k:
            raise ValueError(
                f"need at least k={k} rows to seed, got {len(seed_rows)}"
            )
        books = [
            [
                list(r["__m"][s * d_sub : (s + 1) * d_sub])
                for r in seed_rows
            ]
            for s in range(m)
        ]
        for _ in range(iters):
            codes = F.array(
                *[
                    _argmin_struct(
                        F.slice(F.col("__m"), s * d_sub + 1, d_sub),
                        books[s],
                    )["c"]
                    for s in range(m)
                ]
            )
            assigned = micro.withColumn("__codes", codes)
            stats = (
                assigned.select(
                    "__codes", F.posexplode("__m").alias("dim", "v")
                )
                .withColumn(
                    "c",
                    F.element_at(
                        "__codes", (F.col("dim") / d_sub + 1).cast("int")
                    ),
                )
                .groupBy("dim", "c")
                .agg(F.sum("v").alias("s"), F.count(F.lit(1)).alias("n"))
                .select("dim", "c", F.expr("s div n").alias("mean"))
                .collect()
            )
            new = [[list(c) for c in b] for b in books]
            for r in stats:
                s, j = divmod(r["dim"], d_sub)
                new[s][r["c"]][j] = r["mean"]
            books = new
    finally:
        micro.unpersist()
    return books


def pq_encode(
    df: DataFrame,
    codebooks: list[list[list[int]]],
    vec_col: str = "embedding",
    out_col: str = "pq_codes",
) -> DataFrame:
    """Append the m-byte PQ code array: per subspace, the argmin-distance
    centroid id (ties to the lower id, exact integer distances). Pure
    Catalyst — zero shuffle, no UDF.

    The quantized vector is materialized ONCE per row through a
    one-element explode: a Generate node emits it as a real attribute,
    which Catalyst cannot inline back into the m*k distance folds (the
    folds reference it m*k times; inlined, the 64-element round/shift
    transform would re-run once per reference)."""
    from radient_spark.operators.cluster import _argmin_struct, micro_vec

    m = len(codebooks)
    d_sub = len(codebooks[0][0])
    staged = df.withColumn(
        "__pq_mv", F.explode(F.array(micro_vec(F.col(vec_col))))
    )
    codes = F.array(
        *[
            _argmin_struct(
                F.slice(F.col("__pq_mv"), s * d_sub + 1, d_sub),
                codebooks[s],
            )["c"]
            for s in range(m)
        ]
    )
    return staged.withColumn(out_col, codes).drop("__pq_mv")


def pq_quantize_query(query: list[float]) -> list[int]:
    """Quantize a raw query vector onto the micro lattice (half-away-from-
    zero, matching cluster.micro_vec). The resulting integers are embedded
    as literals on BOTH the Spark and oracle sides, so the rounding mode
    itself never crosses engines."""
    import math

    from radient_spark.operators.cluster import MICRO, MICRO_SHIFT

    out = []
    for x in query:
        v = float(x) * MICRO
        r = math.floor(v + 0.5) if v >= 0 else math.ceil(v - 0.5)
        out.append(int(r) + MICRO_SHIFT)
    return out


def pq_topk(
    df: DataFrame,
    codebooks: list[list[list[int]]],
    query: list[float],
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dist_col: str = "pq_dist",
    shortlist: int | None = None,
) -> DataFrame:
    """Top-k nearest by PQ asymmetric distance: per subspace, a k-entry
    lookup table of exact squared lattice distances from the query
    subvector to each centroid; a row's distance is the sum of its m
    table entries. Everything is int64 — no float, no rounding contract.

    With `shortlist` set (the production configuration), the PQ scan
    keeps that many candidates and re-ranks them by EXACT squared lattice
    distance — the standard shortlist+rerank recipe that recovers the
    recall quantization loses, still in pure integers.

    Plan: per-row array lookups + fold, then TakeOrderedAndProject; the
    corpus never shuffles and the PQ scan reads only (id, codes)-width
    data. The rerank joins the tiny shortlist broadcast back to the
    corpus and computes exact distances for shortlist rows only."""
    q_micro = pq_quantize_query(query)
    m = len(codebooks)
    d_sub = len(codebooks[0][0])
    lut = [
        [
            sum(
                (q_micro[s * d_sub + j] - c[j]) ** 2
                for j in range(d_sub)
            )
            for c in codebooks[s]
        ]
        for s in range(m)
    ]
    lut_col = lit_long_matrix(lut)
    encoded = pq_encode(df, codebooks, vec_col)
    contrib = F.transform(
        F.col("pq_codes"),
        lambda c, s: F.element_at(F.element_at(lut_col, s + 1), c + 1),
    )
    dist = F.aggregate(
        contrib, F.lit(0).cast("long"), lambda acc, x: acc + x
    )
    scanned = (
        encoded.select(F.col(id_col), dist.alias(dist_col))
        .orderBy(F.col(dist_col).asc(), F.col(id_col).asc())
        .limit(shortlist if shortlist is not None else k)
    )
    if shortlist is None:
        return scanned

    from radient_spark.operators.cluster import micro_vec

    q_arr = lit_longs(q_micro)
    exact = F.aggregate(
        F.zip_with(
            micro_vec(F.col(vec_col)), q_arr, lambda x, y: (x - y) * (x - y)
        ),
        F.lit(0).cast("long"),
        lambda acc, z: acc + z,
    )
    return (
        df.join(F.broadcast(scanned), id_col)
        .withColumn("exact_dist", exact)
        .select(F.col(id_col), F.col(dist_col), F.col("exact_dist"))
        .orderBy(F.col("exact_dist").asc(), F.col(id_col).asc())
        .limit(k)
    )


def sq8_topk_batch(
    df: DataFrame,
    stats: list[tuple[float, float]],
    queries: list[tuple[int, list[float]]],
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    score_col: str = "qscore",
) -> DataFrame:
    """Multi-query ADC search: identical per-term arithmetic to
    `sq8_topk` (decimal-routed integer micro-unit fold), but the
    per-query weight vectors ride a BROADCAST (qid, w) table so the
    corpus is scanned and encoded ONCE for the whole query batch —
    the batched form of "broadcast the model, stream the data".
    Per-query top-k via a (qid)-partitioned rank window.

    Returns (qid, id, rank, qscore): rank is 1-based by (score desc,
    id asc) — deterministic across engines."""
    from pyspark.sql import Window

    spark = df.sparkSession
    encoded = sq8_encode(df, stats, vec_col)
    wrows = [
        (
            int(qid),
            [float(q * (mx - mn) / 255.0) for q, (mn, mx) in zip(vec, stats)],
        )
        for qid, vec in queries
    ]
    qdf = local_frame(spark, wrows, "qid long, __w array<double>")
    score = (
        F.aggregate(
            F.zip_with(
                F.col("codes"),
                F.col("__w"),
                lambda c, w: (
                    (c.cast("double") * w).cast("decimal(18,6)")
                    * F.lit(1_000_000)
                ).cast("long"),
            ),
            F.lit(0).cast("long"),
            lambda acc, x: acc + x,
        ).cast("double")
        / F.lit(1_000_000.0)
    )
    scored = encoded.join(F.broadcast(qdf)).select(
        "qid", F.col(id_col).alias("id"), score.alias(score_col)
    )
    w = Window.partitionBy("qid").orderBy(
        F.col(score_col).desc(), F.col("id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("qid", "id", "rank", score_col)
    )
