"""Embedding-space clustering for semantic data curation: integer-lattice
k-means (Lloyd's) and SemDeDup-style within-cluster near-duplicate pairs.

Beyond-reference LLM-pipeline operators (brief: first-class alongside
SURVEY.md §2). The reference has no clustering; its nearest relative is the
GANN k-means tree split (/root/reference/radient/tasks/sinks/local/_gkmeans.py),
which clusters to *index*, not to curate. Here clustering is a corpus
operator: partition the embedding space, then restrict expensive pairwise
work (near-dup detection, diversity sampling) to within-cluster pairs —
the SemDeDup recipe (Abbas et al. 2023), which prunes the O(n^2) pair
space down to O(sum_c |c|^2).

Determinism contract (the reason this is oracle-checkable value-for-value):
all k-means arithmetic happens on an integer lattice. Embedding floats are
quantized once to micro-units (round(x * 1e6) + MICRO_SHIFT, all positive),
distances are exact BIGINT sums of squares, and centroid updates are exact
integer truncating division. No float enters the iteration, so Spark and a
SQL oracle agree bit-for-bit on every assignment, centroid, and WSS value —
no seeded-RNG or float-summation-order hazards.

Scale design:
- Assignment is a zero-shuffle Catalyst expression: the k centroids are
  literal arrays (k*dim longs — model state, inherently driver-sized, the
  same contract as MLlib's KMeansModel), and argmin is array_min over
  (distance, cluster) structs. Whole-stage codegen, no UDF, no join.
- The centroid update posexplodes to (cluster, dim, value) rows feeding a
  hash aggregate — partial (map-side) aggregation reduces each partition
  to at most k*dim rows before the shuffle, so shuffle volume is
  O(partitions * k * dim), independent of corpus size.
- One driver sync of k*dim longs per Lloyd iteration — the same
  per-iteration synchronization barrier MLlib's KMeans has.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from radient_spark.functions.vector import lit_long_matrix
from radient_spark.operators.dedup import str_hash

MICRO = 1_000_000
# Shift keeps every lattice coordinate positive so truncating integer
# division (Spark `div`, DuckDB `//`) and floor division coincide.
MICRO_SHIFT = 4 * MICRO


def micro_vec(vec) -> F.Column:
    """Quantize a float vector to positive integer micro-units.

    round() half-away-from-zero on the exact float->double widening is
    reproduced verbatim by the SQL oracle, so the lattice is portable.
    """
    return F.transform(
        vec,
        lambda x: F.round(x.cast("double") * MICRO, 0).cast("long")
        + F.lit(MICRO_SHIFT),
    )


def _argmin_struct(micro_col: F.Column, centroids: list[list[int]]) -> F.Column:
    """(distance, cluster) struct of the nearest centroid; ties break to
    the lower cluster index (array_min is lexicographic on the struct).

    One transform over the k x d codebook LITERAL (not k unrolled fold
    expressions): the expression tree stays O(1) in k, which keeps
    codegen/compile time flat as k grows — same distances, same tie
    order. The literal parses in ONE expr call (lit_long_matrix), not
    k*d py4j lit round-trips (optimization r12, guide §1)."""
    books = lit_long_matrix(centroids)
    return F.array_min(
        F.transform(
            books,
            lambda c, i: F.struct(
                F.aggregate(
                    F.zip_with(micro_col, c, lambda x, y: (x - y) * (x - y)),
                    F.lit(0).cast("long"),
                    lambda acc, z: acc + z,
                ).alias("d"),
                i.alias("c"),
            ),
        )
    )


def seed_centroids(
    df: DataFrame, vec_col: str, id_col: str, k: int, seed: int = 42
) -> list[list[int]]:
    """Deterministic seeded init: the k rows with the smallest
    (md5(seed_id), id) rank, quantized. A portable stand-in for random
    init — "random-looking" but identical in any engine that speaks md5.
    """
    rows = (
        df.select(micro_vec(F.col(vec_col)).alias("__m"), F.col(id_col))
        .orderBy(
            str_hash(F.concat_ws("_", F.lit(seed), F.col(id_col))),
            F.col(id_col),
        )
        .limit(k)
        .collect()
    )
    if len(rows) < k:
        raise ValueError(f"need at least k={k} rows to seed, got {len(rows)}")
    return [list(r["__m"]) for r in rows]


def kmeans_fit(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    k: int = 10,
    iters: int = 2,
    seed: int = 42,
) -> list[list[int]]:
    """Lloyd's k-means on the integer lattice; returns final centroids
    (micro-unit space). Each iteration: zero-shuffle argmin assignment,
    then an exact-integer mean per (cluster, dim). Empty clusters keep
    their previous centroid (same choice as MLlib)."""
    micro = df.select(micro_vec(F.col(vec_col)).alias("__m"))
    micro = micro.persist()
    try:
        centroids = seed_centroids(df, vec_col, id_col, k, seed)
        dim = len(centroids[0])
        for _ in range(iters):
            assigned = micro.withColumn(
                "__c", _argmin_struct(F.col("__m"), centroids)["c"]
            )
            stats = (
                assigned.select("__c", F.posexplode("__m").alias("dim", "v"))
                .groupBy("__c", "dim")
                .agg(F.sum("v").alias("s"), F.count(F.lit(1)).alias("n"))
                .select("__c", "dim", F.expr("s div n").alias("mean"))
                .collect()
            )
            new = [list(c) for c in centroids]  # empty cluster -> keep old
            for r in stats:
                new[r["__c"]][r["dim"]] = r["mean"]
            centroids = new
            assert all(len(c) == dim for c in centroids)
    finally:
        micro.unpersist()
    return centroids


def assign_clusters(
    df: DataFrame,
    vec_col: str,
    centroids: list[list[int]],
    out_col: str = "cluster_id",
    dist_col: str | None = None,
) -> DataFrame:
    """Append the nearest-centroid id (and optionally the exact lattice
    distance). Pure Catalyst expression — no shuffle, no UDF."""
    best = _argmin_struct(micro_vec(F.col(vec_col)), centroids)
    out = df.withColumn("__best", best).withColumn(out_col, F.col("__best.c"))
    if dist_col is not None:
        out = out.withColumn(dist_col, F.col("__best.d"))
    return out.drop("__best")


def cluster_balanced_sample(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    centroids: list[list[int]],
    cap: int,
    seed: int = 42,
) -> DataFrame:
    """Diversity sampling: keep at most `cap` rows per embedding cluster,
    chosen by portable md5 rank — the cluster-balanced subsampling step
    of semantic curation (dominant modes are capped, rare modes survive
    whole), the coverage-preserving counterpart to SemDeDup's pruning.

    Deterministic and append-stable within a fixed clustering; one
    shuffle (the per-cluster rank window). Assignment itself is the
    zero-shuffle argmin expression."""
    assigned = assign_clusters(df, vec_col, centroids)
    w = Window.partitionBy("cluster_id").orderBy(
        str_hash(F.concat_ws("_", F.lit(seed), F.col(id_col))),
        F.col(id_col),
    )
    return (
        assigned.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= cap)
        .drop("__rn")
    )


def semdedup_pairs(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    centroids: list[list[int]],
    threshold: float = 0.4,
) -> DataFrame:
    """SemDeDup: near-duplicate pairs restricted to within-cluster
    comparisons. Returns (id_a, id_b, cluster_id, score) with cosine
    rounded to 4 (the repo-wide float determinism contract, same BLAS
    scoring kernel as similarity_self_join so the two agree exactly).

    The cluster key is the whole point: pair candidates drop from n^2 to
    sum_c |c|^2, and each cluster is one applyInPandas group computing
    its upper-triangular score block as a single float64 GEMM — one
    shuffle on the k-ary key, no corpus broadcast, no per-pair array
    allocation. Cross-cluster near-dups are missed by construction —
    SemDeDup's documented recall trade, tuned by k; size k so cluster
    blocks fit one task (~n/k rows * dim floats), the same knob as
    `blocks` in similarity_self_join.
    """
    import numpy as np

    from radient_spark.operators.topk import PAIR_SCORE_DECIMALS, _batch_scores

    assigned = assign_clusters(df, vec_col, centroids).select(
        F.col(id_col), F.col(vec_col), F.col("cluster_id")
    )

    def gen(key, pdf):
        import pandas as pd

        ids = pdf[id_col].to_numpy()
        M = np.array(pdf[vec_col].tolist(), dtype=np.float64)
        S = np.round(_batch_scores(M, M, "cosine"), PAIR_SCORE_DECIMALS)
        ii, jj = np.nonzero((S >= threshold) & (ids[:, None] < ids[None, :]))
        return pd.DataFrame(
            {
                "id_a": pd.Series(ids[ii], dtype="int64"),
                "id_b": pd.Series(ids[jj], dtype="int64"),
                "cluster_id": pd.Series(
                    np.full(len(ii), int(key[0])), dtype="int32"
                ),
                "score": pd.Series(S[ii, jj], dtype="float64"),
            }
        )

    return assigned.groupBy("cluster_id").applyInPandas(
        gen, "id_a long, id_b long, cluster_id int, score double"
    )


def silhouette_report(
    df: DataFrame,
    vec_col: str,
    centroids: list[list[int]],
    out_cluster: str = "cluster_id",
) -> DataFrame:
    """Per-cluster simplified silhouette (centroid-based, the standard
    large-n variant: a = squared lattice distance to the OWN centroid,
    b = min over OTHER centroids; s = (b - a) / max(a, b)) — the
    clustering-quality gauge that tells a SemDeDup/curation pipeline
    whether its k actually separates the embedding space.

    Zero shuffle for the scoring itself (the k x d codebook is a
    literal, per-row arithmetic is exact integers on the micro-unit
    lattice, one IEEE division rounded to 6 decimals); the only
    exchange is the final per-cluster aggregate. Returns (cluster_id,
    n_points, mean_silhouette)."""
    books = lit_long_matrix(centroids)
    micro = micro_vec(F.col(vec_col))
    dists = F.transform(
        books,
        lambda c, i: F.struct(
            F.aggregate(
                F.zip_with(micro, c, lambda x, y: (x - y) * (x - y)),
                F.lit(0).cast("long"),
                lambda acc, z: acc + z,
            ).alias("d"),
            i.alias("c"),
        ),
    )
    staged = df.withColumn("__ds", dists).withColumn(
        "__best", F.array_min(F.col("__ds"))
    )
    second = F.array_min(
        F.filter(
            F.col("__ds"), lambda s: s["c"] != F.col("__best")["c"]
        )
    )
    a = F.col("__best")["d"]
    b = second["d"]
    s = F.when(F.greatest(a, b) == 0, F.lit(0.0)).otherwise(
        F.round(
            (b - a).cast("double") / F.greatest(a, b).cast("double"), 6
        )
    )
    scored = staged.select(
        F.col("__best")["c"].alias(out_cluster), s.alias("__s")
    )
    return (
        scored.groupBy(out_cluster)
        .agg(
            F.count(F.lit(1)).alias("n_points"),
            F.round(
                F.sum(F.col("__s").cast("decimal(18,6)")).cast("double")
                / F.count(F.lit(1)),
                6,
            ).alias("mean_silhouette"),
        )
    )


def embedding_gram(
    df: DataFrame,
    vec_col: str = "embedding",
    dim: int | None = None,
) -> DataFrame:
    """Exact Gram matrix of micro-quantized embeddings via Arrow-batch
    GEMM — the covariance/whitening/PCA precursor computed the way a
    100 TB corpus must: each Arrow batch contributes an integer d x d
    partial (M_micro^T @ M_micro, int64 BLAS), partials SUM exactly in
    DECIMAL, and no (row, dim_i, dim_j) explosion ever exists (the
    naive explode is d^2 rows per vector — 4096x shuffle volume at
    d=64).

    Exactness: values quantize to round(x*1e6) int64 BEFORE the
    multiply, so every partial is exact integer and the cross-batch
    sum is order-independent — the oracle can recompute the same
    sums from the (tiny at test scale) explode formulation.  Overflow
    headroom: int64 partials hold ~1e18 / (1e6*1e6) = 1e6 rows per
    batch at |x|<=1; DECIMAL(38) carries the global sum past 1e9 rows.

    Returns (dim_i, dim_j, n, sxy) for i <= j (the Gram upper
    triangle); covariance = (n*sxy - sx_i*sx_j)/n^2 downstream."""
    import numpy as np
    import pandas as pd

    first = df.select(vec_col).first()
    d = dim or len(first[0])

    def gram(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            M = np.round(
                np.array(pdf[vec_col].tolist(), dtype=np.float64) * 1e6
            ).astype(np.int64)
            G = M.T @ M
            iu = np.triu_indices(d)
            yield pd.DataFrame(
                {
                    "dim_i": iu[0].astype("int32"),
                    "dim_j": iu[1].astype("int32"),
                    "n": np.full(len(iu[0]), len(pdf), dtype="int64"),
                    "sxy": G[iu],
                }
            )

    partials = df.select(vec_col).mapInPandas(
        gram, "dim_i int, dim_j int, n long, sxy long"
    )
    dec = "decimal(38,0)"
    return partials.groupBy("dim_i", "dim_j").agg(
        F.sum(F.col("n").cast(dec)).cast("long").alias("n"),
        F.sum(F.col("sxy").cast(dec)).alias("sxy"),
    )
