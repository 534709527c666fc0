"""Distributed ANN index: the GANN forest re-architected for Spark.

Reference algorithm (SURVEY.md §2.5, /root/reference/radient/tasks/sinks/
local/gann.py:113-259 + _gann_c_src/gann.c):
- build: recursive balanced bisection — per leaf, 2-means gives a
  separating hyperplane w = c1 - c0; rows are sorted by signed distance
  and split in half (with optional spill overlap); stop at
  MAX_LEAF_SIZE = 200 (gann.py:15); k-means runs on a VC-bounded sample
  (_gkmeans.py:26-36, Blumer et al. 1989).
- search: per tree, descend by hyperplane sign to one leaf, scan its
  candidates with SIMD dot products, dedup ids across trees (hash set,
  gann.c:946-993), keep a bounded top-k heap.

Spark re-architecture (NOT a port — the C kernel's job is done by the
engine):
- build is an iterative batch job: per level, (a) one narrow pass
  projects every row onto its leaf's broadcast hyperplane, (b) a tiny
  groupBy computes per-leaf approximate median cutoffs (the distributed
  version of sort-and-split-at-half: balance to percentile accuracy
  without any sort of the full data), (c) one narrow pass reassigns
  leaf ids. Hyperplanes come from numpy 2-means on per-leaf samples
  (seeded, VC-bound-capped) — the same driver-side-cheap trick the
  reference uses, with the balance constraint replaced by the exact
  median split (stronger guarantee than GKMeans' 1% tolerance).
- the index is a DataFrame (tree_id, leaf_id, id, vector), persisted as
  parquet PARTITIONED BY (tree_id, leaf_id): searching reads only the
  hit leaves (partition pruning = the tree descent), and the hyperplane
  forest is a small driver/broadcast object (≡ the .npy/leaves.json
  artifacts, gann.py:183-191).
- search is a join: queries descend the forest driver-side (tiny
  matmuls), producing (tree_id, leaf_id, qid, qvec); joining that
  against the index touches ~n_trees * leaf_size candidates per query.
  Candidates are scored in the map stage and cut to the per-query top
  k by a dense_rank window (≡ gann.c's bounded max-heap); the ids the
  trees share are dropped only among those <= k rows per query
  (≡ the C hash set, applied after the heap instead of before it).
"""

from __future__ import annotations

import json
import math
import os
from dataclasses import dataclass, field

import numpy as np
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from radient_spark.lineage import truncate
from radient_spark.session import local_frame

MAX_LEAF_SIZE = 200  # gann.py:15

# Scale-adaptive width for the per-level build stages (optimization r12,
# guide §2.2/§2.5): the reassignment union is coalesced back to a fixed
# width each level, and that width is derived from the LEVEL'S DATA, not
# from the core count — tiny builds get few tasks (the per-task Python
# round-trip dominates: 64-way stages measured 5.0 s vs 3.6 s at the
# rows-derived width on the sf0.1 forest), mid-size builds fill 2x the
# cores, and big builds are bytes-driven so a pandas GEMM task never
# holds more than ~a scan split of vectors.
_ANN_MAX_SPLIT_BYTES = 128 << 20
_ANN_FILL_ROWS = 1024


def _build_width(
    spark: SparkSession, level_rows: float, row_bytes: int
) -> int:
    """Partitions for a build level holding ~level_rows rows of
    ~row_bytes each: max(1, bytes/maxsplit, min(2*cores, rows/fill)).
    Bytes win at scale (bounded task memory); the rows term fills the
    cluster only when there are enough rows to amortize a Python task;
    tiny levels collapse to a handful of tasks."""
    try:
        par = spark.sparkContext.defaultParallelism
    except Exception:
        par = 8
    return max(
        1,
        math.ceil(level_rows * row_bytes / _ANN_MAX_SPLIT_BYTES),
        min(2 * par, math.ceil(level_rows / _ANN_FILL_ROWS)),
    )


def _local_parquet_exists(d: str) -> bool:
    """True iff the driver-local directory holds at least one parquet
    part file (index save/load paths are driver-local, like the JSON
    sidecars this module already open()s)."""
    import glob

    return bool(glob.glob(os.path.join(d, "*.parquet"))) or bool(
        glob.glob(os.path.join(d, "*", "*.parquet"))
    )


def _ddl(df: DataFrame) -> str:
    """DDL text of a frame's schema, recorded next to a saved index so
    `load` reads the parquet typed: a typed read infers no schema, so
    it runs no Spark job."""
    return ", ".join(
        f"`{f.name}` {f.dataType.simpleString()}" for f in df.schema.fields
    )


def _typed_parquet(spark: SparkSession, meta: dict, *paths: str) -> DataFrame:
    """Read saved index parquet with the DDL its sidecar recorded at save;
    sidecars written before the DDL was recorded fall back to schema
    inference."""
    reader = spark.read.schema(meta["ddl"]) if "ddl" in meta else spark.read
    return reader.parquet(*paths)


# IVF inserts land as one unpartitioned segment each under
# cells/_segments/ (Spark's partition discovery skips `_` directories, so
# a read of cells/ never sees them); `IvfIndex.load` unions them in and
# `IvfIndex.append_save` folds them into the cells once this many exist,
# the same cadence as the claim log's streaming._COMPACT_EVERY.
_FOLD_SEGMENTS = 16
_SEGMENTS = "cells/_segments"
# Written by a fold before it changes any cell, removed once the folded
# segments are gone: the segments it names may already sit in their cells.
_FOLD_INTENT = "_folding.json"


def _segment_dirs(path: str) -> list[str]:
    """The saved index's segment directories, oldest first."""
    import glob

    return sorted(
        d
        for d in glob.glob(os.path.join(path, _SEGMENTS, "seg-*"))
        if _local_parquet_exists(d)
    )


class _dynamic_partition_overwrite:
    """Scope spark.sql.sources.partitionOverwriteMode=dynamic so a
    partitioned overwrite rewrites ONLY the partitions present in the
    written frame, restoring the prior mode on exit."""

    def __init__(self, spark: SparkSession):
        self.spark = spark

    def __enter__(self):
        conf = self.spark.conf
        self.prev = conf.get(
            "spark.sql.sources.partitionOverwriteMode", "static"
        )
        conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")

    def __exit__(self, *exc):
        self.spark.conf.set(
            "spark.sql.sources.partitionOverwriteMode", self.prev
        )


# Rerank scores over the fixed `vector` and `qvec` columns as SQL text,
# so a search parses its score in one call instead of building it
# through the Python lambda API (~300 py4j round trips). Each is the
# same expression tree as its functions/vector builder (cosine_similarity,
# dot, -l2_distance), hence bit-equal; doubles are written `0.0D`
# because a bare `0.0` parses as DECIMAL. Cosine divides with try_divide,
# so a zero-norm vector scores NULL (ranked last by `score DESC`) instead
# of raising DIVIDE_BY_ZERO under ANSI mode.
_DOT_SQL = (
    "aggregate(zip_with(vector, qvec, (x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)), "
    "0.0D, (acc, x) -> acc + x)"
)


def _norm_sql(col: str) -> str:
    return (
        f"sqrt(aggregate({col}, 0.0D, "
        "(acc, x) -> acc + CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))"
    )


_RERANK_SCORE_SQL = {
    "cosine": f"try_divide({_DOT_SQL}, {_norm_sql('vector')} * {_norm_sql('qvec')})",
    "dot": _DOT_SQL,
    "l2": (
        "-sqrt(aggregate(zip_with(vector, qvec, "
        "(x, y) -> CAST(x AS DOUBLE) - CAST(y AS DOUBLE)), "
        "0.0D, (acc, x) -> acc + x * x))"
    ),
}


def _rerank_topk(cand: DataFrame, k: int, metric: str) -> DataFrame:
    """Exact-rerank tail of every search: per query, the top k distinct
    ids by (best score desc, id asc).

    The score is computed in the map stage, so the one shuffle, on qid,
    carries only (qid, id, score). An id can be a candidate more than
    once: a forest spills it into several trees, an interrupted IVF fold
    leaves a segment row next to its folded copy, and an id inserted
    twice with different vectors (an upsert without a tombstone) sits in
    the index twice. The groupBy keeps each (qid, id) once with its best
    score; it needs no exchange of its own, because the rows are already
    partitioned by qid, and neither does the row_number window after it.
    So duplicates never cost a result slot and never change a result."""
    if metric not in _RERANK_SCORE_SQL:
        raise ValueError(f"unknown metric {metric!r}")
    score = F.expr(_RERANK_SCORE_SQL[metric])
    best = (
        cand.select("qid", "id", F.round(score, 6).alias("score"))
        .repartition("qid")
        .groupBy("qid", "id")
        .agg(F.max("score").alias("score"))
    )
    w = Window.partitionBy("qid").orderBy(F.col("score").desc(), F.col("id").asc())
    return (
        best.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= k)
        .select("qid", "id", "score")
    )


def _descend_batch(Q: "np.ndarray", tree: "_Tree") -> "np.ndarray":
    """Vectorized forest descent for a query batch: same per-row result
    as _Tree.descend (stop at the first missing node), but one projection
    per (level, node) group instead of per row."""
    n = len(Q)
    node = np.zeros(n, dtype=np.int64)
    alive = np.ones(n, dtype=bool)
    for level in range(tree.depth):
        if not alive.any():
            break
        next_node = node.copy()
        for nd in np.unique(node[alive]):
            sel = alive & (node == nd)
            entry = tree.nodes.get((level, int(nd)))
            if entry is None:
                alive[sel] = False
                continue
            w, cut = entry
            proj = Q[sel] @ np.asarray(w, dtype=np.float64)
            next_node[sel] = 2 * nd + (proj > cut)
        node = next_node
    return node


def vc_sample_bound(dim: int, eps: float = 0.05, delta: float = 0.05) -> int:
    """Sample size sufficient for eps-accurate cluster estimation
    (_gkmeans.py:26-36, Blumer et al. 1989)."""
    a = 4.0 / eps * math.log(2.0 / delta)
    b = 8.0 * dim / eps * math.log(13.0 / eps)
    return int(max(a, b))


@dataclass
class _Tree:
    """Hyperplane forest node table: {(level, node): (w, cutoff)}."""

    depth: int
    nodes: dict[tuple[int, int], tuple[list[float], float]] = field(
        default_factory=dict
    )

    def descend(self, q: np.ndarray) -> int:
        node = 0
        for level in range(self.depth):
            entry = self.nodes.get((level, node))
            if entry is None:
                break
            w, cutoff = entry
            node = 2 * node + (1 if float(q @ np.asarray(w)) > cutoff else 0)
        return node


def _unit_rows(X: np.ndarray) -> np.ndarray:
    return X / (np.linalg.norm(X, axis=1, keepdims=True) + 1e-12)


def _micro_np(X: np.ndarray) -> np.ndarray:
    """numpy twin of operators/cluster.micro_vec: quantize float vectors
    to the positive integer micro-lattice with HALF-AWAY-FROM-ZERO
    rounding. np.round is half-to-EVEN and would diverge from Spark's
    F.round / DuckDB's round() on exact .5 boundaries, so the rounding
    is spelled out. Works on a single vector or a row batch."""
    from radient_spark.operators.cluster import MICRO, MICRO_SHIFT

    S = np.asarray(X, dtype=np.float64) * MICRO
    return np.where(S >= 0, np.floor(S + 0.5), np.ceil(S - 0.5)) + MICRO_SHIFT


def _two_means_hyperplane(
    X: np.ndarray, seed: int, metric: str = "euclidean", p: float = 2.0
) -> np.ndarray:
    """2-means on a sample -> separating direction w = c1 - c0
    (gann.py:151-156; kernel surface mirrors the reference's GKMeans
    euclidean/cosine distance kernels, _gkmeans.py:74-98). Degenerate
    samples fall back to a seeded random direction so the split still
    halves the leaf.

    metric="cosine" runs SPHERICAL 2-means: rows are unit-normalized
    and centroids re-normalized each Lloyd step, so the split direction
    separates by angle, not magnitude — the right build kernel when the
    search metric is cosine and the corpus is NOT pre-normalized
    (for unit vectors the two kernels coincide).

    metric="lp" assigns by the p-norm (default p=2 ≡ euclidean; the
    reference's torch.cdist kernel, _gkmeans.py:84-89); heavy-tailed
    dimensions split differently under p=1."""
    if metric == "cosine":
        X = _unit_rows(np.asarray(X, dtype=np.float64))
    rng = np.random.RandomState(seed)
    n = len(X)
    if n < 4:
        w = rng.randn(X.shape[1])
        return w / (np.linalg.norm(w) + 1e-12)
    c = X[rng.choice(n, 2, replace=False)].astype(np.float64)

    def dists(center):
        if metric == "lp":
            return np.abs(X - center).__pow__(p).sum(1)
        return ((X - center) ** 2).sum(1)

    for _ in range(20):
        d0 = dists(c[0])
        d1 = dists(c[1])
        m = d1 < d0
        if m.all() or (~m).all():
            break
        nc = np.stack([X[~m].mean(0), X[m].mean(0)])
        if metric == "cosine":
            nc = _unit_rows(nc)
        if np.allclose(nc, c):
            c = nc
            break
        c = nc
    w = c[1] - c[0]
    norm = np.linalg.norm(w)
    if norm < 1e-12:
        w = rng.randn(X.shape[1])
        norm = np.linalg.norm(w)
    return w / norm


def _kmeans(X: np.ndarray, k: int, seed: int, iters: int = 25) -> np.ndarray:
    """Plain seeded Lloyd k-means on a sample (k-means++ init) — the
    centroid trainer for the IVF index. Driver-side on a VC-bounded
    sample, like the reference's GKMeans (which adds a balance loss we
    don't need here: IVF cells may be uneven, probes fix recall)."""
    rng = np.random.RandomState(seed)
    n = len(X)
    k = min(k, n)
    # k-means++ seeding (_gkmeans.py:224-232)
    centroids = [X[rng.randint(n)]]
    for _ in range(k - 1):
        d2 = np.min(
            [((X - c) ** 2).sum(1) for c in centroids], axis=0
        )
        p = d2 / max(d2.sum(), 1e-12)
        centroids.append(X[rng.choice(n, p=p)])
    C = np.stack(centroids).astype(np.float64)
    for _ in range(iters):
        assign = ((X[:, None, :] - C[None, :, :]) ** 2).sum(2).argmin(1)
        newC = np.stack(
            [
                X[assign == j].mean(0) if (assign == j).any() else C[j]
                for j in range(k)
            ]
        )
        if np.allclose(newC, C):
            break
        C = newC
    return C


def _nearest_cells(Q: "np.ndarray", C: "np.ndarray", n: int) -> "np.ndarray":
    """(q x d) queries vs (k x d) centroids -> (q x n) nearest cell ids
    by squared L2 — the ONE cell-assignment kernel shared by IVF build,
    list search, and DataFrame search (so tie/dtype behavior can never
    drift between them). Stable sort: equal distances rank by cell id
    ascending — the (d, c) tie order every SQL oracle uses, and on the
    integer micro-lattice (values < 2^24, squared sums < 2^53) the
    float64 distances here are EXACT integers, so ties are real and the
    order must be pinned."""
    Q = np.asarray(Q, dtype=np.float64)
    C = np.asarray(C, dtype=np.float64)
    d2 = (Q * Q).sum(1)[:, None] + (C * C).sum(1)[None, :] - 2.0 * (Q @ C.T)
    return np.argsort(d2, axis=1, kind="stable")[:, : min(n, C.shape[0])]


def _assign_cells(
    base: DataFrame, centroids: np.ndarray, lattice: bool = False
) -> DataFrame:
    """Map-only nearest-centroid assignment: centroid matrix broadcast,
    one Arrow-batched argmin per partition. (id, vector) -> + cell_id.
    lattice=True quantizes rows to micro units first (centroids are in
    micro space); the integer distances + stable ties then agree with
    cluster.assign_clusters' Catalyst argmin exactly."""
    bc = base.sparkSession.sparkContext.broadcast(
        np.asarray(centroids, dtype=np.float64).tolist()
    )

    def assign(batches):
        C_ = np.asarray(bc.value)
        for pdf in batches:
            if len(pdf) == 0:
                continue
            M = np.array(pdf["vector"].tolist(), dtype=np.float64)
            if lattice:
                M = _micro_np(M)
            out = pdf.copy()
            out["cell_id"] = _nearest_cells(M, C_, 1)[:, 0].astype(np.int32)
            yield out

    return base.mapInPandas(assign, "id long, vector array<float>, cell_id int")


class IvfIndex:
    """IVF (inverted-file) index: rows bucketed by nearest centroid.

    The flat-quantizer alternative to the bisection forest: one
    centroid-assignment pass (narrow, broadcast centroids), candidates =
    the `n_probes` nearest cells per query. Cells map to parquet
    partitions exactly like the forest's leaves.

    A saved index grows like Milvus's growing/sealed segments (Wang et
    al., SIGMOD 2021): `append_save` writes each insert as one
    unpartitioned segment under cells/_segments/ with `cell_id` as a
    data column, `load` unions the segments with the cell partitions,
    and a fold appends the segment rows to their cells, one new file
    per touched cell. The probed-cell filter prunes both sides of the
    union: partition pruning on the cells, parquet statistics on the
    segments. `compact` also folds tombstones, by rewriting the cells
    they hit.
    """

    def __init__(
        self,
        index_df: DataFrame,
        centroids: np.ndarray,
        lattice: bool = False,
    ):
        self.index_df = index_df
        self.centroids = centroids
        # lattice=True: centroids live in integer micro-unit space, so
        # probe vectors are micro-quantized automatically (scoring
        # always uses the original float vectors)
        self.lattice = lattice

    @staticmethod
    def build_lattice(
        df: DataFrame,
        id_col: str = "id",
        vec_col: str = "vector",
        n_cells: int = 16,
        iters: int = 1,
        seed: int = 42,
    ) -> "IvfIndex":
        """Integer-lattice IVF: the coarse quantizer is
        cluster.kmeans_fit (portable md5-seeded Lloyd on micro units)
        and the inverted file is the zero-shuffle Catalyst argmin
        assignment — the oracle-checkable variant of `build`
        (queries.q_ivf_search + _ivf_search_sql replay probe + rerank
        bit-for-bit). Probing quantizes queries to the lattice
        automatically; candidate scoring still uses the original float
        vectors. Unlike `build`, the quantizer is fit on the FULL data
        distributed (no driver-side sample kmeans), so the index is
        also deterministic under any partitioning."""
        from radient_spark.operators.cluster import assign_clusters, kmeans_fit

        cents = kmeans_fit(df, vec_col, id_col, k=n_cells, iters=iters, seed=seed)
        base = df.select(
            F.col(id_col).alias("id"), F.col(vec_col).alias("vector")
        )
        return IvfIndex(
            assign_clusters(base, "vector", cents, out_col="cell_id").select(
                "id", "vector", "cell_id"
            ),
            np.asarray(cents, dtype=np.float64),
            lattice=True,
        )

    @staticmethod
    def build(
        df: DataFrame,
        id_col: str = "id",
        vec_col: str = "vector",
        n_cells: int = 64,
        sample_cap: int = 8192,
        seed: int = 42,
    ) -> "IvfIndex":
        spark = df.sparkSession
        base = df.select(F.col(id_col).alias("id"), F.col(vec_col).alias("vector"))
        # Deterministic VC-bounded seed sample in ONE job: order by a
        # seeded hash and take the first sample_cap rows — compiles to
        # TakeOrderedAndProject (per-partition bounded heap + driver
        # merge), so there is no preliminary count() scan just to size a
        # sampling fraction.
        sample = (
            base.withColumn("__u", F.xxhash64("id", F.lit(seed)))
            .orderBy("__u", "id")
            .limit(sample_cap)
            .select("vector")
            .collect()
        )
        X = np.array([r["vector"] for r in sample], dtype=np.float64)
        C = _kmeans(X, n_cells, seed)
        return IvfIndex(_assign_cells(base, C), C)

    def add(
        self, df: DataFrame, id_col: str = "id", vec_col: str = "vector"
    ) -> "IvfIndex":
        """Incremental insert WITHOUT rebuild: assign the new rows to the
        existing (frozen) centroids and union them into the inverted
        file — the standard IVF maintenance contract (the coarse
        quantizer is fit-once; only assignment, a map-only broadcast
        pass, runs per batch). Returns a new index over the combined
        rows; recall properties are unchanged because search never
        assumes rows influenced the centroids."""
        base = df.select(F.col(id_col).alias("id"), F.col(vec_col).alias("vector"))
        fresh = _assign_cells(base, self.centroids, lattice=self.lattice)
        return IvfIndex(
            self.index_df.select("id", "vector", "cell_id").unionByName(fresh),
            self.centroids,
            lattice=self.lattice,
        )

    def append_save(
        self, df: DataFrame, path: str, id_col: str = "id", vec_col: str = "vector"
    ) -> None:
        """Incremental insert against a SAVED index, the on-disk analogue
        of `add`: assign the new rows to the frozen centroids and write
        them as ONE new segment, an unpartitioned parquet directory under
        cells/_segments/ with `cell_id` as a data column (one file per
        input partition). No cell file is read or rewritten.

        When _FOLD_SEGMENTS segments already exist, the append first
        folds them into their cells (`_fold`: an append of the segment
        rows alone, so it costs O(segment rows), not O(index)), which
        keeps the segments a search scans whole at most _FOLD_SEGMENTS.
        The fold runs BEFORE the new segment is written: if it fails, the
        call fails with this batch not on disk, so a replay of the batch
        (a streaming epoch retry) writes it once."""
        import time
        import uuid

        spark = df.sparkSession
        if len(_segment_dirs(path)) >= _FOLD_SEGMENTS:
            with open(f"{path}/centroids.json") as f:
                IvfIndex._fold(spark, path, json.load(f))
        base = df.select(F.col(id_col).alias("id"), F.col(vec_col).alias("vector"))
        seg = f"seg-{time.time_ns():020d}-{uuid.uuid4().hex[:8]}"
        _assign_cells(base, self.centroids, lattice=self.lattice).write.parquet(
            os.path.join(path, _SEGMENTS, seg)
        )

    def delete(self, ids: DataFrame, id_col: str = "id") -> "IvfIndex":
        """Incremental DELETE without rebuild: anti-join the id set out
        of the inverted file — the in-memory half of the tombstone
        contract. Centroids are untouched (they are a quantizer, not a
        summary of live rows), so recall semantics are unchanged."""
        gone = ids.select(F.col(id_col).alias("id"))
        return IvfIndex(
            self.index_df.join(gone, "id", "left_anti"),
            self.centroids,
            lattice=self.lattice,
        )

    def tombstone_save(
        self, ids: DataFrame, path: str, id_col: str = "id"
    ) -> None:
        """Incremental delete against a SAVED index: append the ids to
        a tombstone sidecar instead of rewriting any cell file — O(1)
        in index size, the deletion analogue of append_save.  `load`
        applies tombstones lazily (anti-join), so searches never see
        deleted rows; `compact` folds them into the cell files and
        rewrites ONLY the touched partitions."""
        ids.select(F.col(id_col).alias("id")).write.mode("append").parquet(
            f"{path}/tombstones"
        )

    @staticmethod
    def _read(
        spark: SparkSession, path: str, meta: dict
    ) -> tuple[DataFrame, DataFrame | None, list[str]]:
        """(cells, segment rows or None, segment dirs) of a saved index.

        The segments an interrupted fold named in its intent may already
        sit in their cells, so their rows that do (same id, cell and
        vector) are dropped here: an interrupted fold never counts a row
        twice. A row inserted twice, identical, with one copy in its
        cell before the fold, is taken as folded too: the count loses
        that copy, searches do not (they return each id once)."""
        cells = _typed_parquet(spark, meta, f"{path}/cells")
        segs = _segment_dirs(path)
        if not segs:
            return cells, None, segs
        intent = os.path.join(path, _SEGMENTS, _FOLD_INTENT)
        folding: set[str] = set()
        if os.path.exists(intent):
            with open(intent) as f:
                folding = set(json.load(f)["segments"])
        pending = [s for s in segs if os.path.basename(s) in folding]
        fresh = [s for s in segs if os.path.basename(s) not in folding]
        rows = _typed_parquet(spark, meta, *fresh) if fresh else None
        if pending:
            unfolded = _typed_parquet(spark, meta, *pending).join(
                cells.select("id", "cell_id", "vector"),
                ["id", "cell_id", "vector"],
                "left_anti",
            )
            rows = unfolded if rows is None else rows.unionByName(unfolded)
        return cells, rows, segs

    @staticmethod
    def _fold(spark: SparkSession, path: str, meta: dict) -> None:
        """Move every segment's rows into their cells: one partitioned
        append of the segment rows (one new file per touched cell), then
        drop the segments. No cell file is rewritten, and none is read
        unless an interrupted fold is being finished, so a fold costs
        O(segment rows) whatever the index size. Each fold adds at most
        one file per cell; `compact` with tombstones merges the files of
        the cells it rewrites.

        Before the append, the fold records the segments it covers in
        cells/_segments/_folding.json. If it stops during the append
        (some cells' files committed, others not) or after it but before
        the segments are deleted, `_read` drops the recorded segments'
        rows that already sit in their cells, so searches and row counts
        equal those of a finished fold; the next fold appends only the
        rows still missing, so it converges without adding any row
        twice. Injection tests cover these windows."""
        import shutil

        _cells, seg, segs = IvfIndex._read(spark, path, meta)
        if seg is None:
            return
        intent = os.path.join(path, _SEGMENTS, _FOLD_INTENT)
        with open(intent + ".tmp", "w") as f:
            json.dump({"segments": [os.path.basename(s) for s in segs]}, f)
        os.replace(intent + ".tmp", intent)
        seg.repartition("cell_id").write.mode("append").partitionBy(
            "cell_id"
        ).parquet(f"{path}/cells")
        for s in segs:
            shutil.rmtree(s)
        os.remove(intent)

    @staticmethod
    def compact(spark: SparkSession, path: str) -> None:
        """Fold segments (`_fold`), then tombstones, into the cell files.
        Tombstones rewrite only the partitions that contain a tombstoned
        row (dynamic partition overwrite, one file per cell, which also
        merges the files earlier folds appended there), then the sidecar
        is dropped. Untouched cells' files are never read or rewritten.

        A failure before the overwrite commits leaves the tombstones in
        place, and `load` still applies them. The overwrite itself is not
        atomic per cell: Spark's dynamic-partition commit deletes a
        touched cell's directory and then renames the new one into
        place, so a crash between the two loses that cell's rows."""
        import shutil

        with open(f"{path}/centroids.json") as f:
            meta = json.load(f)
        IvfIndex._fold(spark, path, meta)
        tomb_dir = f"{path}/tombstones"
        if not _local_parquet_exists(tomb_dir):
            return
        tombs = spark.read.parquet(tomb_dir)
        cells = _typed_parquet(spark, meta, f"{path}/cells")
        touched = [
            r["cell_id"]
            for r in cells.join(tombs, "id", "semi")
            .select("cell_id")
            .distinct()
            .collect()
        ]
        if touched:
            kept = (
                cells.filter(F.col("cell_id").isin(touched))
                .join(tombs, "id", "left_anti")
                .repartition("cell_id")
                .transform(lambda d: truncate(d, eager=True))
            )
            surviving = {
                r["cell_id"]
                for r in kept.select("cell_id").distinct().collect()
            }
            with _dynamic_partition_overwrite(spark):
                kept.write.mode("overwrite").partitionBy("cell_id").parquet(
                    f"{path}/cells"
                )
            # Dynamic partition overwrite only rewrites partitions that
            # appear in `kept`; a touched cell whose rows were ALL
            # tombstoned would keep its stale files and resurrect the
            # deleted ids once the sidecar is gone. Remove those
            # partition directories explicitly (touched is driver-side
            # and bounded by n_cells).
            for cell in touched:
                if cell not in surviving:
                    shutil.rmtree(
                        f"{path}/cells/cell_id={cell}", ignore_errors=True
                    )
        shutil.rmtree(tomb_dir, ignore_errors=True)

    def save(self, path: str) -> None:
        """Parquet partitioned by cell_id + centroid JSON — same layout
        contract as AnnIndex.save (cells ≡ leaves). Repartition by the
        partition key first so each cell directory gets one file, not
        one per (task x cell) — see AnnIndex.save (guide §6). The JSON
        also records the index DDL, for `load`'s typed read. Overwriting
        cells/ also drops any segments a previous index left there.
        Once the new cells have committed, the previous index's
        `tombstones/` sidecar is removed too: its ids named rows of the
        old index and would hide the new index's rows with those ids. A
        crash between the two steps leaves the new cells under the old
        tombstones, so those ids stay hidden until the next `save`."""
        import shutil

        self.index_df.repartition("cell_id").write.mode(
            "overwrite"
        ).partitionBy("cell_id").parquet(f"{path}/cells")
        shutil.rmtree(f"{path}/tombstones", ignore_errors=True)
        with open(f"{path}/centroids.json", "w") as f:
            json.dump(
                {
                    "centroids": self.centroids.tolist(),
                    "lattice": self.lattice,
                    "ddl": _ddl(self.index_df),
                },
                f,
            )

    @staticmethod
    def load(spark: SparkSession, path: str) -> "IvfIndex":
        """The saved cells plus any segments not yet folded, minus
        tombstoned ids. Reads are typed by the saved DDL, so loading
        runs no Spark job."""
        with open(f"{path}/centroids.json") as f:
            meta = json.load(f)
        df, seg, _ = IvfIndex._read(spark, path, meta)
        if seg is not None:
            df = df.unionByName(seg)
        if _local_parquet_exists(f"{path}/tombstones"):
            df = df.join(
                spark.read.parquet(f"{path}/tombstones"), "id", "left_anti"
            )
        return IvfIndex(
            df,
            np.asarray(meta["centroids"], dtype=np.float64),
            lattice=meta.get("lattice", False),
        )

    def search(
        self,
        queries: list[tuple[int, list[float]]],
        k: int = 10,
        n_probes: int = 8,
        metric: str = "cosine",
    ) -> DataFrame:
        """Probe the n_probes nearest cells per query, exact-rerank the
        candidates, window top-k. Candidates ~ n_probes * n/n_cells.
        The probed cell set is driver-known, so it is pushed into the
        scan as a literal `cell_id IN (...)`, parsed once — static
        partition pruning over the cell-partitioned index, like
        AnnIndex.search. The query frame is an Arrow LocalRelation
        (session.local_frame), so no Python-worker job ships it."""
        spark = self.index_df.sparkSession
        hits = []
        for qid, vec in queries:
            q = np.asarray(vec, dtype=np.float64)
            if self.lattice:
                # micro-space centroids: probe with the quantized query
                # (rerank below still scores the original qvec)
                q = _micro_np(q)
            for cell in _nearest_cells(q[None, :], self.centroids, n_probes)[0]:
                hits.append((qid, int(cell), [float(x) for x in vec]))
        qdf = local_frame(spark, hits, "qid long, cell_id int, qvec array<float>")
        probed = sorted({cell for _, cell, _ in hits})
        # one expression parse instead of a py4j call per literal; an
        # empty probe set has no IN () form, and its join is empty anyway
        pruned = (
            self.index_df.filter(
                F.expr(f"cell_id IN ({','.join(map(str, probed))})")
            )
            if probed
            else self.index_df
        )
        cand = pruned.join(F.broadcast(qdf), on="cell_id")
        return _rerank_topk(cand, k, metric)

    def search_df(
        self,
        queries: DataFrame,
        k: int = 10,
        n_probes: int = 8,
        metric: str = "cosine",
        query_id: str = "qid",
        query_vec: str = "qvec",
        probe_vec: str | None = None,
    ) -> DataFrame:
        """DataFrame-native search: cell assignment runs in an executor
        Pandas UDF against the broadcast centroid matrix — the query side
        is never collected to the driver, so queries can themselves be a
        billion-row table. Joining candidate cells is a plain equi-join
        AQE sizes at runtime (broadcast when the probe side is small,
        shuffle when it is not).

        `probe_vec` (optional) names a SECOND vector column used only
        for cell selection, while `query_vec` still scores candidates —
        the standard split when the coarse quantizer lives in a
        transformed space (OPQ rotations, or the integer micro-lattice
        whose +shift offset preserves L2 cell order but would wreck the
        cosine scores; queries.q_ivf_search rides this for its exact
        DuckDB oracle)."""
        spark = self.index_df.sparkSession
        bc = spark.sparkContext.broadcast(self.centroids.tolist())
        pcol = probe_vec or query_vec
        # lattice indexes auto-quantize the probe UNLESS the caller
        # already supplied an explicit probe column
        auto_micro = self.lattice and probe_vec is None

        def probe(batches):
            import pandas as pd

            C_ = np.asarray(bc.value, dtype=np.float64)
            npb = min(n_probes, len(C_))
            for pdf in batches:
                if len(pdf) == 0:
                    continue
                P = np.array(pdf["pvec"].tolist(), dtype=np.float64)
                if auto_micro:
                    P = _micro_np(P)
                cells = _nearest_cells(P, C_, npb)
                yield pd.DataFrame(
                    {
                        "qid": np.repeat(pdf["qid"].to_numpy(), npb),
                        "cell_id": cells.ravel().astype(np.int32),
                        "qvec": np.repeat(pdf["qvec"].to_numpy(), npb),
                    }
                )

        qdf = queries.select(
            F.col(query_id).alias("qid"),
            F.col(query_vec).alias("qvec"),
            F.col(pcol).alias("pvec"),
        ).mapInPandas(probe, "qid long, cell_id int, qvec array<float>")
        cand = self.index_df.join(qdf, on="cell_id")
        return _rerank_topk(cand, k, metric)


class AnnIndex:
    """Forest index over a (id BIGINT, vector ARRAY<FLOAT>) DataFrame."""

    def __init__(
        self,
        index_df: DataFrame,
        trees: list[_Tree],
        dim: int,
        build_metric: str = "euclidean",
    ):
        self.index_df = index_df
        self.trees = trees
        self.dim = dim
        # the forest is metric-specific: cosine-built trees partition by
        # angle (projections of UNIT vectors), so queries must be
        # normalized before descent — recorded here and in forest.json
        self.build_metric = build_metric

    # ------------------------------------------------------------- build
    @staticmethod
    def build(
        df: DataFrame,
        id_col: str = "id",
        vec_col: str = "vector",
        n_trees: int = 2,
        max_leaf_size: int = MAX_LEAF_SIZE,
        sample_cap: int = 4096,
        spill: float = 0.1,
        seed: int = 42,
        metric: str = "cosine",
        auto: bool = False,
        broadcast_budget_bytes: int = 512 << 20,
    ) -> "AnnIndex | IvfIndex":
        """Iterative balanced-bisection build — ALL trees in one DataFrame.

        `metric` selects the split kernel ("euclidean" | "cosine",
        mirroring the reference's GKMeans kernels, _gkmeans.py:74-98):
        cosine builds spherical 2-means hyperplanes and projects
        unit-normalized vectors, so tree structure depends on angle only
        — the right default because search defaults to cosine scoring
        (round 6: the build default previously was "euclidean", which
        silently built a euclidean forest for cosine searches — a recall
        footgun on unnormalized corpora; build and search defaults now
        agree, and search warns on a cross-geometry mismatch).

        Per level (for the whole forest at once): ONE fused driver
        round-trip — the per-(tree,leaf) percentile aggregate also
        carries the NEXT level's VC-bounded hash-sample (the sample
        predicate hashes on level+1 and is evaluated on the
        pre-reassignment projection; the driver routes each sampled row
        to its child leaf with the same >=lo / <=hi rule the executors
        apply, so the routed sample is bit-identical to re-sampling
        after reassignment — all leaves at a level share one analytic
        size, hence one sampling fraction). Plus one projection pass and
        one reassignment pass, both narrow; the only shuffle is the tiny
        per-leaf aggregate. Round 10 halved the round-trips from 2/level
        (the scale probe showed constant-in-n driver rounds, not row
        work, dominate build cost).

        `spill` replicates rows near the cut into BOTH children
        (gann.py:164-178's overlap: each child holds n*(0.5+spill)) —
        the recall lever for boundary-adjacent neighbors; index size
        grows by (1+2*spill)^depth.

        Forest-metadata ceiling (round 12, wiring the round-11
        measurement into the API): the broadcast forest costs
        ~(dim*8+120) B per internal node, so above
        `forest_crossover_rows(dim, ...)` rows it outgrows
        `broadcast_budget_bytes` (default 512 MiB — SCALING.md "forest
        metadata ceiling"). An over-budget build WARNS; with
        `auto=True` it routes to `IvfIndex.build` with ~sqrt(n)
        centroids instead — broadcast state O(sqrt(n)*dim), the pinned
        above-crossover index.
        """
        spark = df.sparkSession
        # one job for BOTH corpus stats (guide §1: the count and the
        # dim probe were two separate full-scan-scheduling round-trips)
        _stats = df.agg(
            F.count(F.lit(1)).alias("__n"), F.first(vec_col).alias("__v")
        ).first()
        n = _stats["__n"]
        dim = len(_stats["__v"])  # None on empty input -> TypeError, as before
        crossover = forest_crossover_rows(
            dim,
            max_leaf_size=max_leaf_size,
            n_trees=n_trees,
            budget_bytes=broadcast_budget_bytes,
        )
        if n > crossover:
            import warnings

            if auto:
                n_cells = max(16, min(int(math.isqrt(n)), 1 << 16))
                warnings.warn(
                    f"AnnIndex.build: {n} rows exceeds the forest "
                    f"metadata crossover ({crossover} rows at dim={dim} "
                    f"for a {broadcast_budget_bytes >> 20} MiB broadcast "
                    f"budget); auto-routing to IvfIndex.build with "
                    f"n_cells={n_cells} (broadcast state O(sqrt(n)*dim))",
                    stacklevel=2,
                )
                return IvfIndex.build(
                    df, id_col=id_col, vec_col=vec_col, n_cells=n_cells,
                    seed=seed,
                )
            warnings.warn(
                f"AnnIndex.build: {n} rows exceeds the forest metadata "
                f"crossover ({crossover} rows at dim={dim}): the "
                f"broadcast forest will outgrow the "
                f"{broadcast_budget_bytes >> 20} MiB budget. Use "
                "IvfIndex.build (sqrt(n) centroids) or pass auto=True "
                "to route there automatically; see SCALING.md 'forest "
                "metadata ceiling'",
                stacklevel=2,
            )
        depth = max(1, math.ceil(math.log2(max(2.0, n / max_leaf_size))))
        sample_sz = min(sample_cap, vc_sample_bound(dim))

        cur = (
            df.select(F.col(id_col).alias("id"), F.col(vec_col).alias("vector"))
            .withColumn(
                "tree_id",
                F.explode(F.array(*[F.lit(t) for t in range(n_trees)])),
            )
            .withColumn("leaf_id", F.lit(0))
        )
        # cosine builds project UNIT rows; rather than re-normalizing the
        # full corpus inside every level's GEMM (depth x O(n*d) redundant
        # work — the round-7 q_ann_build 2.4x regression), compute the
        # row norm ONCE (JVM-side fold, 8 bytes/row carried through the
        # loop) and divide the scalar projection by it:
        # unit(x)@H == (x@H)/||x||.
        if metric == "cosine":
            cur = cur.withColumn(
                "__nrm",
                F.sqrt(
                    F.aggregate(
                        "vector",
                        F.lit(0.0),
                        lambda a, x: a + x.cast("double") * x.cast("double"),
                    )
                )
                + F.lit(1e-12),
            )
        else:
            cur = cur.withColumn("__nrm", F.lit(1.0))
        trees = [_Tree(depth=depth) for _ in range(n_trees)]
        sizes: dict[tuple[int, int], int] = {(t, 0): n for t in range(n_trees)}
        KEY = 1 << (depth + 1)  # composite (tree, leaf) -> tree*KEY + leaf
        # Partition discipline: each level's reassignment unions two
        # narrow filters over the checkpointed projection, which DOUBLES
        # the partition count — left unchecked, a depth-D build runs
        # P0 * 2^D tasks in the last level's GEMM stage (the round-12
        # forest probe hit 102,400 two-row tasks at 200k input rows;
        # at 10^8 rows that's ~10^8 tasks of pure scheduler overhead).
        # Coalescing the union back to a fixed width is a NARROW
        # dependency (no shuffle) and keeps every level's stage at the
        # same task count. The width is sized from the LAST level's
        # analytic row count (spill growth (1+2*spill)^depth included)
        # by _build_width — data-derived, not core-count-derived.
        n_parts = _build_width(
            spark,
            n_trees * n * (1.0 + 2.0 * spill) ** depth,
            dim * 4 + 60,
        )

        key_col = F.col("tree_id") * KEY + F.col("leaf_id")

        def _u_col(lv: int) -> F.Column:
            return (
                F.abs(F.xxhash64("id", "tree_id", F.lit(lv), F.lit(seed)))
                % 1_000_000
            ) / 1_000_000.0

        def _sorted_samples(raw: dict[int, list]) -> dict[int, list]:
            # driver-side id sort: _two_means_hyperplane seeds its
            # centroid choice by row INDEX, so sample order must not
            # depend on partition/collect_list arrival order
            return {
                k: [v for _i, v in sorted(pairs)] for k, pairs in raw.items()
            }

        # level-0 sample: the only standalone sample collect; every later
        # level's sample rides the previous level's cuts aggregate.
        # All leaves at a level share one analytic size, so the sampling
        # fraction is a per-level scalar.
        raw0: dict[int, list] = {}
        for row in (
            cur.withColumn("__u", _u_col(0))
            .filter(F.col("__u") < F.lit(min(1.0, sample_sz / max(1, n))))
            .select(key_col.alias("key"), "id", "vector")
            .collect()
        ):
            raw0.setdefault(row["key"], []).append((row["id"], row["vector"]))
        samples = _sorted_samples(raw0)

        for level in range(depth):
            # (a) driver numpy hyperplanes from this level's routed sample
            hyper = {}
            for (t, leaf) in sizes:
                k = t * KEY + leaf
                X = np.asarray(samples.get(k) or [[0.0] * dim], dtype=np.float64)
                hyper[k] = _two_means_hyperplane(
                    X,
                    seed=hash((seed, t, level, leaf)) & 0x7FFFFFFF,
                    metric=metric,
                )
            bc = spark.sparkContext.broadcast(
                {k: v.tolist() for k, v in hyper.items()}
            )

            # (b) ONE GEMM pass carrying the projection as a column; the
            # lazy localCheckpoint materializes inside the same job that
            # computes the per-(tree,leaf) percentile cuts + next-level
            # sample — so a level costs exactly ONE driver round-trip and the
            # projection is computed once, not re-derived during
            # reassignment (which is now pure Catalyst below).
            def project(batches, _bc=bc, _KEY=KEY, _metric=metric):
                H = {k: np.asarray(v) for k, v in _bc.value.items()}
                for pdf in batches:
                    if len(pdf) == 0:
                        continue
                    M = np.array(pdf["vector"].tolist(), dtype=np.float64)
                    keys = (
                        pdf["tree_id"].to_numpy() * _KEY + pdf["leaf_id"].to_numpy()
                    )
                    d = np.empty(len(pdf))
                    for k in np.unique(keys):
                        m = keys == k
                        d[m] = M[m] @ H[int(k)]
                    if _metric == "cosine":
                        # precomputed-once row norm replaces per-level
                        # corpus re-normalization: unit(x)@H == (x@H)/||x||
                        d /= pdf["__nrm"].to_numpy()
                    out = pdf.copy()
                    out["proj"] = d
                    yield out

            projected = cur.mapInPandas(
                project,
                "id long, vector array<float>, tree_id int, leaf_id int,"
                " __nrm double, proj double",
            ).transform(truncate)
            lo_q, hi_q = max(0.0, 0.5 - spill), min(1.0, 0.5 + spill)
            aggs = [
                F.percentile_approx(
                    "proj", F.array(F.lit(lo_q), F.lit(0.5), F.lit(hi_q)), 10000
                ).alias("cuts")
            ]
            if level + 1 < depth:
                # fuse the NEXT level's hash-sample into this aggregate:
                # the predicate hashes on level+1 against the analytic
                # child-leaf fraction; the driver routes each sampled row
                # to its child below with the executors' own >=lo / <=hi
                # rule, so the routed sample is exactly what a post-
                # reassignment sampling pass would collect — one driver
                # round-trip per level instead of two
                next_sz = max(
                    1, int(next(iter(sizes.values())) * (0.5 + spill))
                )
                aggs.append(
                    F.collect_list(
                        F.when(
                            _u_col(level + 1)
                            < F.lit(min(1.0, sample_sz / next_sz)),
                            F.struct("id", "proj", "vector"),
                        )
                    ).alias("samp")
                )
            cut_rows = projected.groupBy("tree_id", "leaf_id").agg(*aggs).collect()
            cuts = {
                r["tree_id"] * KEY + r["leaf_id"]: tuple(r["cuts"])
                for r in cut_rows
            }
            for (t, leaf) in sizes:
                k = t * KEY + leaf
                lo, mid, hi = cuts.get(k, (0.0, 0.0, 0.0))
                # search descends by the median; spill only widens the
                # build-side assignment
                trees[t].nodes[(level, leaf)] = (hyper[k].tolist(), float(mid))
            if level + 1 < depth:
                raw: dict[int, list] = {}
                for r in cut_rows:
                    k = r["tree_id"] * KEY + r["leaf_id"]
                    lo, _mid, hi = cuts[k]
                    left_k = r["tree_id"] * KEY + r["leaf_id"] * 2
                    for s in r["samp"]:
                        if s["proj"] <= hi:
                            raw.setdefault(left_k, []).append(
                                (s["id"], s["vector"])
                            )
                        if s["proj"] >= lo:
                            raw.setdefault(left_k + 1, []).append(
                                (s["id"], s["vector"])
                            )
                samples = _sorted_samples(raw)

            # (c) reassign leaves via two narrow Catalyst filters over the
            # checkpointed projection — >= / <= (not > / <) so
            # boundary-valued rows spill to BOTH children; at spill=0.5,
            # lo/hi are the min/max projection, so every row lands in
            # both children and any descent sees the full candidate set —
            # the exactness-oracle configuration
            # (queries.q_ann_search_exact)
            key_expr = F.col("tree_id") * KEY + F.col("leaf_id")
            lo_map = F.create_map(
                *[
                    x
                    for k, (lo, _m, _h) in sorted(cuts.items())
                    for x in (F.lit(k), F.lit(float(lo)))
                ]
            )
            hi_map = F.create_map(
                *[
                    x
                    for k, (_l, _m, hi) in sorted(cuts.items())
                    for x in (F.lit(k), F.lit(float(hi)))
                ]
            )
            right = projected.filter(
                F.col("proj") >= F.coalesce(lo_map[key_expr], F.lit(0.0))
            ).withColumn("leaf_id", F.col("leaf_id") * 2 + 1)
            left = projected.filter(
                F.col("proj") <= F.coalesce(hi_map[key_expr], F.lit(0.0))
            ).withColumn("leaf_id", F.col("leaf_id") * 2)
            cur = right.unionByName(left).select(
                "id", "vector", "tree_id", "leaf_id", "__nrm"
            ).coalesce(n_parts)
            # Child sizes follow analytically from the median split: each
            # child holds ~size*(0.5+spill) of its parent (that IS the
            # split rule) — no count job needed; sizes only steer the
            # next level's sampling fraction.
            sizes = {
                (t, 2 * leaf + c): max(1, int(sz * (0.5 + spill)))
                for (t, leaf), sz in sizes.items()
                for c in (0, 1)
            }
        return AnnIndex(
            cur.select("tree_id", "leaf_id", "id", "vector"),
            trees,
            dim,
            build_metric=metric,
        )

    @staticmethod
    def build_lattice(
        df: DataFrame,
        id_col: str = "id",
        vec_col: str = "vector",
        n_trees: int = 2,
        levels: int = 2,
        spill_pm: int = 100,
        seed: int = 42,
    ) -> "AnnIndex":
        """Bisection forest on the INTEGER MICRO-LATTICE: every build
        decision (seed choice, 2-means step, hyperplane, projection,
        spill cuts, leaf assignment) is exact integer arithmetic, so a
        SQL engine can replay the whole build + search bit-for-bit —
        this is the oracle-checkable variant of `build` (the float
        kernel stays the production default; its pruned recall is
        property-tested instead). Same forest data model, save/load
        layout, partition-pruned search, and spill semantics.

        Per level, for all (tree, leaf) nodes at once:
          1. seeds: the 2 members with the smallest md5 rank (portable
             seeded "randomness", same trick as cluster.seed_centroids).
          2. one integer Lloyd step: nearer-seed assignment is a
             Catalyst long fold against per-node literal arrays (ties
             to seed 0); per-side means use truncating integer division.
          3. hyperplane w = mean1 - mean0 (integer vector); projections
             p = <micro, w> are exact longs (|micro| < 2^23, 64 dims —
             well inside 2^53).
          4. cuts: EXACT order statistics of p at ranks
             ceil(n*(500±spill_pm)/1000) and ceil(n/2) — rational spill,
             never a float percentile.
          5. assignment mirrors `build`: left = p <= hi, right =
             p >= lo (boundary rows spill to BOTH children); descent
             goes right iff p > mid.

        Driver round-trips per level: seeds, means, cuts — all bounded
        by nodes x dim, never by rows. `levels` is FIXED (not derived
        from n) so the companion SQL is static; every node must hold
        >= 2 rows (asserted), which balanced splits guarantee when
        n >= 2^(levels+1).

        Search: queries are micro-quantized for descent
        (build_metric="lattice"); candidate scoring still uses the
        ORIGINAL float vectors (the +shift offset preserves L2 order,
        not cosine). Reference parity: same GANN forest contract as
        `build` (gann.py:113-193), kernel swapped for portability.
        """
        from radient_spark.operators.cluster import micro_vec
        from radient_spark.operators.dedup import str_hash

        base = df.select(
            F.col(id_col).alias("id"),
            F.col(vec_col).alias("vector"),
            micro_vec(F.col(vec_col)).alias("__m"),
        )
        stats_row = base.agg(
            F.count(F.lit(1)).alias("n"), F.min(F.size("__m")).alias("d")
        ).first()
        if stats_row is None or stats_row["n"] == 0:
            raise ValueError("build_lattice: empty input")
        n, dim = stats_row["n"], stats_row["d"]
        cur = base.withColumn(
            "tree_id",
            F.explode(F.array(*[F.lit(t) for t in range(n_trees)])),
        ).withColumn("leaf_id", F.lit(0))
        trees = [_Tree(depth=levels) for _ in range(n_trees)]
        KEY = 1 << (levels + 1)
        key_col = F.col("tree_id") * KEY + F.col("leaf_id")
        # same per-level union partition-doubling discipline as `build`:
        # coalesce (narrow) back to a fixed data-derived width each
        # level (_build_width; micro lattice rows carry the long array
        # on top of the float vector, hence the fatter row estimate)
        n_parts = _build_width(
            df.sparkSession,
            n_trees * n * (1.0 + 2.0 * spill_pm / 1000.0) ** levels,
            dim * 12 + 60,
        )

        from radient_spark.functions.vector import lit_longs as lit_arr

        for level in range(levels):
            # lazy: the seed collect below windows over every cur
            # partition, so that job materializes the checkpoint — one
            # job per level instead of two (guide §1.2)
            cur = truncate(cur)
            w_seed = Window.partitionBy("tree_id", "leaf_id").orderBy(
                str_hash(
                    F.concat_ws(
                        "_",
                        F.lit(seed),
                        F.lit(level),
                        F.col("tree_id"),
                        F.col("leaf_id"),
                        F.col("id"),
                    )
                ),
                F.col("id"),
            )
            seed_rows = (
                cur.withColumn("__r", F.row_number().over(w_seed) - 1)
                .filter(F.col("__r") < 2)
                .select("tree_id", "leaf_id", "__r", "__m")
                .collect()
            )
            sc = {
                (r["tree_id"], r["leaf_id"], r["__r"]): list(r["__m"])
                for r in seed_rows
            }
            nodes = sorted({(t, lf) for (t, lf, _r) in sc})
            for (t, lf) in nodes:
                if (t, lf, 1) not in sc:
                    raise ValueError(
                        f"build_lattice: node (tree={t}, leaf={lf}) at "
                        f"level {level} has < 2 rows; lower `levels` "
                        "(SQL replay requires 2 seeds per node)"
                    )
            c0map = F.create_map(
                *[
                    x
                    for (t, lf) in nodes
                    for x in (F.lit(t * KEY + lf), lit_arr(sc[(t, lf, 0)]))
                ]
            )
            c1map = F.create_map(
                *[
                    x
                    for (t, lf) in nodes
                    for x in (F.lit(t * KEY + lf), lit_arr(sc[(t, lf, 1)]))
                ]
            )

            def d2(carr):
                return F.aggregate(
                    F.zip_with(F.col("__m"), carr, lambda x, y: (x - y) * (x - y)),
                    F.lit(0).cast("long"),
                    lambda a, z: a + z,
                )

            assigned = cur.withColumn(
                "__s",
                F.when(d2(c0map[key_col]) <= d2(c1map[key_col]), F.lit(0))
                .otherwise(F.lit(1)),
            )
            mean_rows = (
                assigned.select(
                    "tree_id",
                    "leaf_id",
                    "__s",
                    F.posexplode("__m").alias("__d", "__v"),
                )
                .groupBy("tree_id", "leaf_id", "__s", "__d")
                .agg(F.expr("sum(__v) div count(1)").alias("__mean"))
                .collect()
            )
            means: dict = {}
            for r in mean_rows:
                means.setdefault(
                    (r["tree_id"], r["leaf_id"], r["__s"]), [0] * dim
                )[r["__d"]] = r["__mean"]
            w_py = {}
            for (t, lf) in nodes:
                m0 = means.get((t, lf, 0), sc[(t, lf, 0)])
                m1 = means.get((t, lf, 1), sc[(t, lf, 1)])
                w_py[(t, lf)] = [int(a) - int(b) for a, b in zip(m1, m0)]
            wmap = F.create_map(
                *[
                    x
                    for (t, lf) in nodes
                    for x in (F.lit(t * KEY + lf), lit_arr(w_py[(t, lf)]))
                ]
            )
            projected = assigned.drop("__s").withColumn(
                "__p",
                F.aggregate(
                    F.zip_with(F.col("__m"), wmap[key_col], lambda x, y: x * y),
                    F.lit(0).cast("long"),
                    lambda a, z: a + z,
                ),
            )
            w_rank = Window.partitionBy("tree_id", "leaf_id").orderBy(
                F.col("__p").asc(), F.col("id").asc()
            )
            w_all = Window.partitionBy("tree_id", "leaf_id")
            ranked = projected.withColumn(
                "__rn", F.row_number().over(w_rank)
            ).withColumn("__n", F.count(F.lit(1)).over(w_all))
            lo_r = F.greatest(
                F.lit(1).cast("long"),
                F.expr(f"(__n * {500 - spill_pm} + 999) div 1000"),
            )
            mid_r = F.expr("(__n * 500 + 999) div 1000")
            hi_r = F.least(
                F.col("__n").cast("long"),
                F.expr(f"(__n * {500 + spill_pm} + 999) div 1000"),
            )
            cut_rows = (
                ranked.groupBy("tree_id", "leaf_id")
                .agg(
                    F.max(F.when(F.col("__rn") == lo_r, F.col("__p"))).alias("lo"),
                    F.max(F.when(F.col("__rn") == mid_r, F.col("__p"))).alias("mid"),
                    F.max(F.when(F.col("__rn") == hi_r, F.col("__p"))).alias("hi"),
                )
                .collect()
            )
            cuts = {
                (r["tree_id"], r["leaf_id"]): (r["lo"], r["mid"], r["hi"])
                for r in cut_rows
            }
            for (t, lf) in nodes:
                lo, mid, hi = cuts[(t, lf)]
                trees[t].nodes[(level, lf)] = (
                    [float(x) for x in w_py[(t, lf)]],
                    float(mid),
                )
            lo_map = F.create_map(
                *[
                    x
                    for (t, lf) in nodes
                    for x in (F.lit(t * KEY + lf), F.lit(int(cuts[(t, lf)][0])))
                ]
            )
            hi_map = F.create_map(
                *[
                    x
                    for (t, lf) in nodes
                    for x in (F.lit(t * KEY + lf), F.lit(int(cuts[(t, lf)][2])))
                ]
            )
            right = projected.filter(
                F.col("__p") >= lo_map[key_col]
            ).withColumn("leaf_id", F.col("leaf_id") * 2 + 1)
            left = projected.filter(
                F.col("__p") <= hi_map[key_col]
            ).withColumn("leaf_id", F.col("leaf_id") * 2)
            cur = right.unionByName(left).select(
                "id", "vector", "__m", "tree_id", "leaf_id"
            ).coalesce(n_parts)
        return AnnIndex(
            cur.select("tree_id", "leaf_id", "id", "vector"),
            trees,
            dim,
            build_metric="lattice",
        )

    # ----------------------------------------------------------- persist
    def save(self, path: str) -> None:
        """Parquet partitioned by (tree_id, leaf_id) + JSON forest — the
        Spark analog of dataset.npy + tree_<i>/ dirs (gann.py:183-191).

        One file per leaf directory (optimization r12, guide §6): the
        build output holds every (tree, leaf) in every task, so a naive
        partitionBy write creates tasks x leaves tiny files (measured
        ~2,000 files / ~1.9 s at sf0.1). Repartitioning by the partition
        keys first routes each leaf to exactly one task — file count
        drops to the leaf count, and the pre-write shuffle is index-
        sized (MBs), not corpus-sized."""
        self.index_df.repartition("tree_id", "leaf_id").write.mode(
            "overwrite"
        ).partitionBy("tree_id", "leaf_id").parquet(f"{path}/leaves")
        meta = {
            "dim": self.dim,
            "build_metric": self.build_metric,
            "ddl": _ddl(self.index_df),
            "trees": [
                {
                    "depth": t.depth,
                    "nodes": {
                        f"{lvl}:{node}": {"w": w, "cut": c}
                        for (lvl, node), (w, c) in t.nodes.items()
                    },
                }
                for t in self.trees
            ],
        }
        with open(f"{path}/forest.json", "w") as f:
            json.dump(meta, f)

    @staticmethod
    def load(spark: SparkSession, path: str) -> "AnnIndex":
        with open(f"{path}/forest.json") as f:
            meta = json.load(f)
        trees = []
        for tm in meta["trees"]:
            t = _Tree(depth=tm["depth"])
            for key, v in tm["nodes"].items():
                lvl, node = key.split(":")
                t.nodes[(int(lvl), int(node))] = (v["w"], v["cut"])
            trees.append(t)
        return AnnIndex(
            _typed_parquet(spark, meta, f"{path}/leaves"),
            trees,
            meta["dim"],
            build_metric=meta.get("build_metric", "euclidean"),
        )

    def forest_nbytes(self) -> int:
        """Serialized footprint of the hyperplane forest — the exact
        object `search_df` broadcasts ([(depth, nodes)] per tree) and
        `search` walks on the driver. SCALING.md's "few-KB forest" claim
        holds only below `forest_crossover_rows`; scripts/scale_probe.py
        reports this number alongside build seconds so the growth is
        measured, not assumed."""
        import pickle

        return len(pickle.dumps([(t.depth, t.nodes) for t in self.trees]))

    def n_nodes(self) -> int:
        return sum(len(t.nodes) for t in self.trees)

    def _resolve_metric(self, metric: str | None) -> str:
        """metric=None -> the scoring metric matching the build geometry
        (cosine forest -> cosine scores, euclidean/lp forest -> l2), so
        a mismatched DEFAULT is impossible; an explicit cross-geometry
        metric is honored but warns (handled correctly — descent
        normalizes iff the FOREST is angular — but recall suffers on
        unnormalized corpora)."""
        if metric is None:
            # lattice forests default to cosine scoring too: the micro
            # quantization is metric-neutral (descent happens in shifted
            # L2 space regardless of how candidates are scored)
            return (
                "cosine"
                if self.build_metric in ("cosine", "lattice")
                else "l2"
            )
        if self.build_metric == "lattice":
            return metric
        if (metric == "cosine") != (self.build_metric == "cosine"):
            import warnings

            warnings.warn(
                f"searching a {self.build_metric!r}-built forest with "
                f"metric={metric!r}: tree geometry and scoring disagree; "
                "recall may suffer on unnormalized corpora",
                stacklevel=3,
            )
        return metric

    # ------------------------------------------------------------ search
    def search(
        self,
        queries: list[tuple[int, list[float]]],
        k: int = 10,
        metric: str | None = None,
    ) -> DataFrame:
        """Batch search: driver-side forest descent -> (tree, leaf) hit
        list -> statically partition-pruned scan -> broadcast join ->
        per-query top-k with the cross-tree id dedup (_rerank_topk).

        The hit list is known on the driver, so the (tree_id, leaf_id)
        predicate is pushed into the scan as a LITERAL filter, parsed
        once — the partitioned index reads ONLY the touched leaf
        directories (PartitionFilters, not a full-index scan + join).
        The query frame is an Arrow LocalRelation (session.local_frame),
        so no Python-worker job ships it.

        Returns (qid, id, score) with score descending per query.
        """
        metric = self._resolve_metric(metric)
        spark = self.index_df.sparkSession
        hits = []
        for qid, vec in queries:
            q = np.asarray(vec, dtype=np.float64)
            if self.build_metric == "cosine":
                # angular forest: cuts were taken on unit-vector
                # projections, so descent must see the unit query
                # (rerank below still scores the original qvec)
                q = q / (np.linalg.norm(q) + 1e-12)
            elif self.build_metric == "lattice":
                # lattice forest: cuts are exact integers over micro
                # projections — descend with the micro-quantized query
                # (rerank below still scores the original qvec)
                q = _micro_np(q)
            for t, tree in enumerate(self.trees):
                hits.append((qid, t, tree.descend(q), [float(x) for x in vec]))
        qdf = local_frame(
            spark, hits, "qid long, tree_id int, leaf_id int, qvec array<float>"
        )
        leaves_by_tree: dict[int, set[int]] = {}
        for _, t, leaf, _ in hits:
            leaves_by_tree.setdefault(t, set()).add(leaf)
        # the per-tree OR-chain in one expression parse (see IvfIndex.search)
        prune = " OR ".join(
            f"(tree_id = {t} AND leaf_id IN ({','.join(map(str, sorted(leaves)))}))"
            for t, leaves in leaves_by_tree.items()
        )
        pruned = self.index_df.filter(F.expr(prune)) if prune else self.index_df
        # ids the trees share are dropped by the rerank tail, after the top k
        cand = pruned.join(F.broadcast(qdf), on=["tree_id", "leaf_id"])
        return _rerank_topk(cand, k, metric)

    def search_df(
        self,
        queries: DataFrame,
        k: int = 10,
        metric: str | None = None,
        query_id: str = "qid",
        query_vec: str = "qvec",
    ) -> DataFrame:
        """DataFrame-native search: the forest (a few KB of hyperplanes)
        is broadcast and every query row descends it inside an executor
        Pandas UDF — the query side is never collected to the driver.
        The (tree_id, leaf_id) candidate join is left unhinted so AQE
        broadcasts the descended side when it is small and shuffles both
        sides by leaf when the query table is itself at data scale."""
        metric = self._resolve_metric(metric)
        spark = self.index_df.sparkSession
        bc = spark.sparkContext.broadcast(
            [(t.depth, t.nodes) for t in self.trees]
        )

        build_metric = self.build_metric

        def descend(batches):
            import pandas as pd

            trees = [_Tree(depth=d, nodes=nd) for d, nd in bc.value]
            for pdf in batches:
                if len(pdf) == 0:
                    continue
                Q = np.array(pdf["qvec"].tolist(), dtype=np.float64)
                if build_metric == "cosine":
                    Q = _unit_rows(Q)
                elif build_metric == "lattice":
                    Q = _micro_np(Q)
                frames = []
                for t, tree in enumerate(trees):
                    leaf = _descend_batch(Q, tree)
                    frames.append(
                        pd.DataFrame(
                            {
                                "qid": pdf["qid"].to_numpy(),
                                "tree_id": np.full(len(pdf), t, dtype=np.int32),
                                "leaf_id": leaf.astype(np.int32),
                                "qvec": pdf["qvec"].to_numpy(),
                            }
                        )
                    )
                yield pd.concat(frames, ignore_index=True)

        qdf = queries.select(
            F.col(query_id).alias("qid"), F.col(query_vec).alias("qvec")
        ).mapInPandas(descend, "qid long, tree_id int, leaf_id int, qvec array<float>")
        cand = self.index_df.join(qdf, on=["tree_id", "leaf_id"])
        return _rerank_topk(cand, k, metric)


def forest_crossover_rows(
    dim: int,
    max_leaf_size: int = MAX_LEAF_SIZE,
    n_trees: int = 2,
    budget_bytes: int = 512 << 20,
    node_overhead_bytes: int = 120,
) -> int:
    """Corpus rows at which the broadcast forest outgrows `budget_bytes`.

    The forest stores one (hyperplane, cutoff) node per internal tree
    node: ~2^depth - 1 ≈ n / max_leaf_size nodes per tree, each costing
    dim float64 weights plus ~120 B of pickle/dict structure (validated
    against AnnIndex.forest_nbytes by tests/test_forest_ceiling.py;
    spill widens LEAF row counts, not node counts). Above the returned
    n, the per-level driver cut collect (AnnIndex.build) and the
    search-time broadcast stop being "few KB" (VERDICT r10 watch item):
    switch to the IVF / lattice-IVF path, whose broadcast state is
    k ≈ √n centroids — O(√n·d) instead of O(n/leaf·d). See SCALING.md
    "forest metadata ceiling" for the worked table.
    """
    per_node = dim * 8 + node_overhead_bytes
    nodes_per_tree = budget_bytes / (per_node * n_trees)
    return int(nodes_per_tree * max_leaf_size)
