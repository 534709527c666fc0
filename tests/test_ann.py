"""ANN index property tests (SURVEY.md §5.2 item 3): recall vs exact
brute force, leaf balance, persistence round-trip."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from radient_spark.ann import AnnIndex
from radient_spark.catalog import load_tables


@pytest.fixture(scope="module")
def emb(spark, sf_dir):
    return (
        load_tables(spark, sf_dir)["embeddings"]
        .select(F.col("vec_id").alias("id"), F.col("embedding").alias("vector"))
        .cache()
    )


@pytest.fixture(scope="module")
def index(emb):
    return AnnIndex.build(emb, n_trees=4, max_leaf_size=100, seed=42)


def _exact_topk(emb_rows, queries, k):
    ids = np.array([r["id"] for r in emb_rows])
    M = np.array([r["vector"] for r in emb_rows], dtype=np.float64)
    Mn = M / np.linalg.norm(M, axis=1, keepdims=True)
    out = {}
    for qid, vec in queries:
        q = np.asarray(vec, dtype=np.float64)
        s = Mn @ (q / np.linalg.norm(q))
        order = np.lexsort((ids, -np.round(s, 6)))
        out[qid] = set(ids[order[:k]].tolist())
    return out


def test_leaf_balance(index, emb):
    n = emb.count()
    sizes = [
        r["cnt"]
        for r in index.index_df.groupBy("tree_id", "leaf_id")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .collect()
    ]
    # every tree covers all rows (spill duplicates boundary rows)
    total = sum(sizes)
    assert total >= n * len(index.trees)
    # median split keeps leaves within ~2.5x of the ideal size
    n_leaves_per_tree = len(sizes) / len(index.trees)
    ideal = n / n_leaves_per_tree
    assert max(sizes) <= max(2.5 * ideal, 16), (max(sizes), ideal)


def test_recall_vs_exact(spark, index, emb):
    rows = emb.collect()
    rng = np.random.RandomState(0)
    qidx = rng.choice(len(rows), 20, replace=False)
    queries = [(int(i), list(rows[i]["vector"])) for i in qidx]
    exact = _exact_topk(rows, queries, k=10)
    got = index.search(queries, k=10)
    ann = {}
    for r in got.collect():
        ann.setdefault(r["qid"], set()).add(r["id"])
    recalls = [len(ann.get(q, set()) & exact[q]) / 10 for q, _ in queries]
    mean_recall = float(np.mean(recalls))
    # 4 random-bisection trees on near-orthogonal data: recall well above
    # the single-leaf chance level; self-hit must always be found
    assert mean_recall >= 0.5, recalls
    for qid, _ in queries:
        assert qid in ann[qid]  # the query vector itself is always hit


def test_search_candidates_bounded(index, emb):
    n = emb.count()
    rows = emb.take(5)
    queries = [(int(r["id"]), list(r["vector"])) for r in rows]
    got = index.search(queries, k=10).collect()
    assert len(got) == 5 * 10
    # scores sorted desc per query
    by_q = {}
    for r in got:
        by_q.setdefault(r["qid"], []).append(r["score"])
    for scores in by_q.values():
        assert scores == sorted(scores, reverse=True)


def test_ivf_recall(spark, emb):
    from radient_spark.ann import IvfIndex

    idx = IvfIndex.build(emb, n_cells=16, seed=42)
    rows = emb.collect()
    rng = np.random.RandomState(1)
    qidx = rng.choice(len(rows), 15, replace=False)
    queries = [(int(i), list(rows[i]["vector"])) for i in qidx]
    exact = _exact_topk(rows, queries, k=10)
    ann = {}
    for r in idx.search(queries, k=10, n_probes=8).collect():
        ann.setdefault(r["qid"], set()).add(r["id"])
    recalls = [len(ann.get(q, set()) & exact[q]) / 10 for q, _ in queries]
    assert float(np.mean(recalls)) >= 0.6, recalls
    # probing all cells must give exact results
    ann_full = {}
    for r in idx.search(queries[:5], k=10, n_probes=16).collect():
        ann_full.setdefault(r["qid"], set()).add(r["id"])
    for q, _ in queries[:5]:
        assert ann_full[q] == exact[q]


def test_ivf_cells_cover_everything(spark, emb):
    from radient_spark.ann import IvfIndex

    idx = IvfIndex.build(emb, n_cells=16, seed=42)
    assert idx.index_df.count() == emb.count()
    assert idx.index_df.select("id").distinct().count() == emb.count()


def test_save_load_roundtrip(spark, index, emb, tmp_path):
    path = str(tmp_path / "ann_index")
    index.save(path)
    loaded = AnnIndex.load(spark, path)
    assert loaded.dim == index.dim
    assert len(loaded.trees) == len(index.trees)
    rows = emb.take(3)
    queries = [(int(r["id"]), list(r["vector"])) for r in rows]
    a = {(r["qid"], r["id"]) for r in index.search(queries, k=5).collect()}
    b = {(r["qid"], r["id"]) for r in loaded.search(queries, k=5).collect()}
    assert a == b

def test_search_df_matches_list_search(spark, index, emb):
    rows = emb.take(8)
    queries = [(int(r["id"]), list(r["vector"])) for r in rows]
    qdf = spark.createDataFrame(queries, "qid long, qvec array<float>").repartition(3)
    a = {(r["qid"], r["id"]) for r in index.search(queries, k=10).collect()}
    b = {(r["qid"], r["id"]) for r in index.search_df(qdf, k=10).collect()}
    assert a == b


def test_ivf_search_df_matches_list_search(spark, emb):
    from radient_spark.ann import IvfIndex

    idx = IvfIndex.build(emb, n_cells=16, seed=42)
    rows = emb.take(8)
    queries = [(int(r["id"]), list(r["vector"])) for r in rows]
    qdf = spark.createDataFrame(queries, "qid long, qvec array<float>").repartition(3)
    # probe every cell so the comparison is exact regardless of fp-level
    # centroid-distance tie ordering between the two assignment paths
    a = {(r["qid"], r["id"]) for r in idx.search(queries, k=10, n_probes=16).collect()}
    b = {(r["qid"], r["id"]) for r in idx.search_df(qdf, k=10, n_probes=16).collect()}
    assert a == b


def test_search_df_query_side_not_collected(spark, index, emb):
    qdf = emb.limit(4).select(F.col("id").alias("qid"), F.col("vector").alias("qvec"))
    plan = index.search_df(qdf, k=5)._jdf.queryExecution().executedPlan().toString()
    # descent runs as an executor-side Pandas UDF over the query table
    assert "MapInPandas" in plan


def test_ivf_save_load_roundtrip(spark, emb, tmp_path):
    from radient_spark.ann import IvfIndex

    idx = IvfIndex.build(emb, n_cells=8, seed=42)
    path = str(tmp_path / "ivf")
    idx.save(path)
    loaded = IvfIndex.load(spark, path)
    assert np.allclose(loaded.centroids, idx.centroids)
    assert loaded.index_df.count() == emb.count()
    rows = emb.take(4)
    queries = [(int(r["id"]), list(r["vector"])) for r in rows]
    a = {(r["qid"], r["id"]) for r in idx.search(queries, k=5, n_probes=8).collect()}
    b = {(r["qid"], r["id"]) for r in loaded.search(queries, k=5, n_probes=8).collect()}
    assert a == b
    # probed cells reach the partitioned scan as a literal filter
    plan = loaded.search(queries, k=5, n_probes=2)._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan
    pf = plan.split("PartitionFilters", 1)[1][:200]
    assert "cell_id" in pf, pf


def test_ivf_incremental_add_and_append_save(spark, emb, tmp_path):
    from radient_spark.ann import IvfIndex

    first = emb.filter(F.col("id") % 2 == 0)
    rest = emb.filter(F.col("id") % 2 == 1)
    idx = IvfIndex.build(first, n_cells=8, seed=42)
    grown = idx.add(rest)
    # frozen coarse quantizer, complete coverage, no row lost or duplicated
    assert np.allclose(grown.centroids, idx.centroids)
    assert grown.index_df.count() == emb.count()
    assert grown.index_df.select("id").distinct().count() == emb.count()
    # full-probe search over the grown index is exact over ALL rows,
    # including ones the centroids never saw
    rows = emb.collect()
    queries = [(int(r["id"]), list(r["vector"])) for r in rows[:5]]
    exact = _exact_topk(rows, queries, k=5)
    got = {}
    for r in grown.search(queries, k=5, n_probes=8).collect():
        got.setdefault(r["qid"], set()).add(r["id"])
    for q, _ in queries:
        assert got[q] == exact[q]

    # on-disk append: only assignment runs; reload sees the union
    path = str(tmp_path / "ivf_inc")
    idx.save(path)
    idx.append_save(rest, path)
    loaded = IvfIndex.load(spark, path)
    assert loaded.index_df.count() == emb.count()
    got2 = {}
    for r in loaded.search(queries, k=5, n_probes=8).collect():
        got2.setdefault(r["qid"], set()).add(r["id"])
    for q, _ in queries:
        assert got2[q] == exact[q]


def test_cosine_build_kernel_recall_unnormalized(spark, emb):
    """Round-5 item: angular (spherical 2-means) build kernel. Scale
    each corpus vector by a per-row magnitude so euclidean and angular
    geometry disagree, build with metric="cosine", and check cosine
    recall holds the same floor as the euclidean kernel holds on the
    unscaled corpus — descent must normalize queries (the forest cuts
    live in unit space)."""
    rows = emb.collect()
    rng = np.random.RandomState(3)
    scales = rng.uniform(0.1, 50.0, size=len(rows))
    scaled = [
        (int(r["id"]), [float(x * s) for x in r["vector"]])
        for r, s in zip(rows, scales)
    ]
    df = spark.createDataFrame(scaled, "id long, vector array<float>")
    idx = AnnIndex.build(
        df, n_trees=4, max_leaf_size=100, seed=42, metric="cosine"
    )
    assert idx.build_metric == "cosine"
    qidx = rng.choice(len(scaled), 15, replace=False)
    queries = [(int(i), scaled[i][1]) for i in qidx]
    exact = _exact_topk(df.collect(), queries, k=10)
    ann = {}
    for r in idx.search(queries, k=10, metric="cosine").collect():
        ann.setdefault(r["qid"], set()).add(r["id"])
    recalls = [len(ann.get(q, set()) & exact[q]) / 10 for q, _ in queries]
    assert float(np.mean(recalls)) >= 0.5, recalls
    # round-trip keeps the metric (old indexes load as euclidean)
    import tempfile

    with tempfile.TemporaryDirectory() as d:
        idx.save(f"{d}/ix")
        loaded = AnnIndex.load(spark, f"{d}/ix")
        assert loaded.build_metric == "cosine"


def test_ivf_delete_and_tombstones(spark, emb, tmp_path):
    """Round-5: IVF deletion — in-memory anti-join, lazy tombstones on
    a saved index, and compaction that rewrites only touched cells."""
    from radient_spark.ann import IvfIndex, _local_parquet_exists

    idx = IvfIndex.build(emb, n_cells=8, seed=42)
    n = emb.count()
    gone = emb.select("id").orderBy("id").limit(5)

    # in-memory delete
    idx2 = idx.delete(gone)
    assert idx2.index_df.count() == n - 5
    qrow = emb.orderBy(F.col("id").desc()).first()
    hits = idx2.search([(0, list(qrow["vector"]))], k=5, n_probes=8).collect()
    gone_ids = {r["id"] for r in gone.collect()}
    assert not ({r["id"] for r in hits} & gone_ids)

    # tombstones on a saved index: load applies them lazily
    p = str(tmp_path / "ivf")
    idx.save(p)
    idx.tombstone_save(gone, p)
    loaded = IvfIndex.load(spark, p)
    assert loaded.index_df.count() == n - 5

    # compaction folds them in and drops the sidecar
    IvfIndex.compact(spark, p)
    assert not _local_parquet_exists(f"{p}/tombstones")
    again = IvfIndex.load(spark, p)
    assert again.index_df.count() == n - 5
    assert not (
        {r["id"] for r in again.index_df.select("id").collect()} & gone_ids
    )

    # a new index saved over the path drops the old tombstones: they
    # named rows of the old index and would hide the new one's rows
    idx.tombstone_save(gone, p)
    idx.save(p)
    assert not _local_parquet_exists(f"{p}/tombstones")
    assert IvfIndex.load(spark, p).index_df.count() == n


def test_ivf_compact_emptied_cell_no_resurrection(spark, emb, tmp_path):
    """Round-6 (ADVICE): tombstoning EVERY row of a cell then compacting
    must not resurrect them — dynamic partition overwrite skips cells
    absent from the kept frame, so compact must delete those partition
    directories explicitly before dropping the sidecar."""
    from radient_spark.ann import IvfIndex, _local_parquet_exists

    idx = IvfIndex.build(emb, n_cells=8, seed=42)
    p = str(tmp_path / "ivf_empty_cell")
    idx.save(p)
    # pick one whole cell and tombstone all of its rows
    cell = idx.index_df.select("cell_id").first()["cell_id"]
    gone = idx.index_df.filter(F.col("cell_id") == cell).select("id")
    gone_ids = {r["id"] for r in gone.collect()}
    assert gone_ids  # non-empty cell
    n = emb.count()
    idx.tombstone_save(gone, p)
    IvfIndex.compact(spark, p)
    assert not _local_parquet_exists(f"{p}/tombstones")
    again = IvfIndex.load(spark, p)
    assert again.index_df.count() == n - len(gone_ids)
    live = {r["id"] for r in again.index_df.select("id").collect()}
    assert not (live & gone_ids)


def test_lp_build_kernel_splits(spark):
    """metric='lp' with p=1 must produce a valid unit split direction
    and differ from the euclidean kernel on heavy-tailed data."""
    from radient_spark.ann import _two_means_hyperplane

    rng = np.random.RandomState(5)
    X = rng.standard_cauchy((200, 16))  # heavy tails: p=1 vs p=2 differ
    w_l1 = _two_means_hyperplane(X, seed=1, metric="lp", p=1.0)
    w_l2 = _two_means_hyperplane(X, seed=1, metric="euclidean")
    for w in (w_l1, w_l2):
        assert abs(np.linalg.norm(w) - 1.0) < 1e-9
    assert not np.allclose(w_l1, w_l2)


def test_ivf_recall_curve_monotone(spark, emb):
    """Recall@10 must be non-decreasing in n_probes and reach 1.0 at
    full probing — the recall/latency trade the IVF index sells."""
    from radient_spark.ann import IvfIndex

    idx = IvfIndex.build(emb, n_cells=16, seed=42)
    rows = emb.collect()
    rng = np.random.RandomState(2)
    qidx = rng.choice(len(rows), 10, replace=False)
    queries = [(int(i), list(rows[i]["vector"])) for i in qidx]
    exact = _exact_topk(rows, queries, k=10)
    recalls = []
    for probes in (1, 4, 16):
        ann = {}
        for r in idx.search(queries, k=10, n_probes=probes).collect():
            ann.setdefault(r["qid"], set()).add(r["id"])
        recalls.append(
            float(
                np.mean(
                    [len(ann.get(q, set()) & exact[q]) / 10 for q, _ in queries]
                )
            )
        )
    assert recalls == sorted(recalls), recalls
    assert recalls[-1] == 1.0


def test_metric_defaults_aligned_and_mismatch_warns(spark, emb):
    """Round-6: build defaults to the search default's geometry (cosine),
    metric=None resolves from build_metric, and an explicit
    cross-geometry metric warns instead of silently degrading recall."""
    import warnings

    idx = AnnIndex.build(emb, n_trees=1, max_leaf_size=200, seed=7)
    assert idx.build_metric == "cosine"
    assert idx._resolve_metric(None) == "cosine"

    eidx = AnnIndex.build(
        emb, n_trees=1, max_leaf_size=200, seed=7, metric="euclidean"
    )
    assert eidx._resolve_metric(None) == "l2"

    qrow = emb.orderBy("id").first()
    q = [(0, list(qrow["vector"]))]
    with warnings.catch_warnings(record=True) as w:
        warnings.simplefilter("always")
        eidx.search(q, k=3, metric="cosine").collect()
    assert any("geometry" in str(x.message) for x in w)
    with warnings.catch_warnings(record=True) as w:
        warnings.simplefilter("always")
        idx.search(q, k=3).collect()  # aligned default: no warning
    assert not [x for x in w if "geometry" in str(x.message)]


def test_lattice_build_deterministic_across_partitionings(spark, emb):
    """Round-10: build_lattice (the SQL-replayable kernel behind
    q_ann_search's value oracle) must be bit-identical under any input
    partitioning — every decision is integer arithmetic with pinned tie
    orders, so there is nothing for shuffle order to perturb."""
    a = AnnIndex.build_lattice(emb, n_trees=2, levels=2, seed=42)
    b = AnnIndex.build_lattice(
        emb.repartition(13), n_trees=2, levels=2, seed=42
    )
    assert all(x.nodes == y.nodes for x, y in zip(a.trees, b.trees))
    rows = emb.orderBy("id").limit(5).collect()
    qs = [(int(r["id"]), list(r["vector"])) for r in rows]
    ra = sorted(map(tuple, a.search(qs, k=5, metric="cosine").collect()))
    rb = sorted(map(tuple, b.search(qs, k=5, metric="cosine").collect()))
    assert ra == rb


def test_lattice_search_is_pruned_and_recalls(spark, emb):
    """The lattice forest must genuinely prune (each query touches one
    leaf per tree, not the corpus) while spill keeps recall@10 usable;
    self-queries must always find themselves (they sit in their own
    leaf by construction)."""
    index = AnnIndex.build_lattice(
        emb, n_trees=2, levels=2, spill_pm=100, seed=42
    )
    rows = emb.collect()
    n = len(rows)
    qs = [(int(r["id"]), list(r["vector"])) for r in rows[:20]]
    res = index.search(qs, k=10, metric="cosine").collect()
    by_q: dict = {}
    for r in res:
        by_q.setdefault(r["qid"], set()).add(r["id"])
    # self-hit: the query vector is in the corpus
    assert all(qid in ids for qid, ids in by_q.items())
    exact = _exact_topk(rows, qs, 10)
    hit = sum(len(by_q[q] & exact[q]) for q, _ in qs)
    recall = hit / (10 * len(qs))
    assert recall >= 0.5, recall
    # pruned: candidate rows per (query, tree) bounded by the largest
    # leaf, far below the corpus
    sizes = [
        r["cnt"]
        for r in index.index_df.groupBy("tree_id", "leaf_id")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .collect()
    ]
    assert len(sizes) == 8  # 2 trees x 4 leaves at 2 levels
    assert max(sizes) < n, (max(sizes), n)


def test_lattice_save_load_roundtrip(spark, emb, tmp_path):
    """build_metric='lattice' must survive save/load: descent after load
    quantizes queries exactly like the in-memory index."""
    index = AnnIndex.build_lattice(emb, n_trees=2, levels=2, seed=42)
    path = str(tmp_path / "lattice_idx")
    index.save(path)
    loaded = AnnIndex.load(spark, path)
    assert loaded.build_metric == "lattice"
    rows = emb.orderBy("id").limit(5).collect()
    qs = [(int(r["id"]), list(r["vector"])) for r in rows]
    ra = sorted(map(tuple, index.search(qs, k=5, metric="cosine").collect()))
    rb = sorted(map(tuple, loaded.search(qs, k=5, metric="cosine").collect()))
    assert ra == rb


def test_lattice_rejects_underfilled_nodes(spark):
    """A node with < 2 rows cannot seed a 2-means split (and the SQL
    replay would silently drop its rows) — the build must refuse.
    Note the spill rule keeps every CHILD at >= 2 rows whenever its
    parent has >= 2 (left >= hi_rank >= ceil(n/2) >= 1 and right >=
    n - lo_rank + 1 >= 2 for n = 2 at spill_pm=100), so the guard can
    only fire on a 1-row input — which is exactly what it must catch."""
    import pytest as _pytest

    one = spark.createDataFrame(
        [(1, [1.0, -1.0])], "id long, vector array<float>"
    )
    with _pytest.raises(ValueError, match="2 rows"):
        AnnIndex.build_lattice(one, n_trees=1, levels=1, seed=1)
    # and a 3-row input SURVIVES deep levels: spill floors nodes at 2
    tiny = spark.createDataFrame(
        [(i, [float(i), float(-i)]) for i in range(3)],
        "id long, vector array<float>",
    )
    idx = AnnIndex.build_lattice(tiny, n_trees=1, levels=4, seed=1)
    assert len(idx.trees[0].nodes) == 1 + 2 + 4 + 8


def test_lattice_search_df_matches_list_search(spark, emb):
    """search_df descends with the same micro quantization as search()."""
    index = AnnIndex.build_lattice(emb, n_trees=2, levels=2, seed=42)
    rows = emb.orderBy("id").limit(5).collect()
    qs = [(int(r["id"]), list(r["vector"])) for r in rows]
    qdf = spark.createDataFrame(
        [(q, v) for q, v in qs], "qid long, qvec array<float>"
    )
    ra = sorted(map(tuple, index.search(qs, k=5, metric="cosine").collect()))
    rb = sorted(
        map(tuple, index.search_df(qdf, k=5, metric="cosine").collect())
    )
    assert ra == rb


def test_ivf_search_df_probe_vec_split(spark, emb):
    """probe_vec routes cell selection through a different column than
    scoring: probing with the micro-lattice query (shifted L2 space)
    must yield the same cells as probing with micro values passed as the
    main query vector, while scores come from the original floats."""
    import numpy as np

    from radient_spark.ann import IvfIndex
    from radient_spark.operators.cluster import (
        assign_clusters,
        kmeans_fit,
        micro_vec,
    )

    cents = kmeans_fit(emb, "vector", "id", k=8, iters=1, seed=42)
    index = IvfIndex(
        assign_clusters(emb, "vector", cents, out_col="cell_id").select(
            "id", "vector", "cell_id"
        ),
        np.asarray(cents, dtype=np.float64),
    )
    qdf = (
        emb.orderBy("id")
        .limit(5)
        .select(
            F.col("id").alias("qid"),
            F.col("vector").alias("qvec"),
            micro_vec(F.col("vector")).cast("array<float>").alias("pvec"),
        )
    )
    out = index.search_df(qdf, k=5, n_probes=2, probe_vec="pvec").collect()
    assert len(out) == 25
    by_q: dict = {}
    for r in out:
        by_q.setdefault(r["qid"], []).append(r)
    for qid, rs in by_q.items():
        # scores are cosine of ORIGINAL vectors: self-hit scores 1.0
        assert any(r["id"] == qid and r["score"] == 1.0 for r in rs)


def test_ivf_build_lattice_roundtrip_and_incremental(spark, emb, tmp_path):
    """IvfIndex.build_lattice: the lattice flag survives save/load,
    probes auto-quantize, and incremental `add` assigns new rows with
    the SAME integer argmin as the build (so the combined index equals
    a from-scratch build over the union)."""
    from radient_spark.ann import IvfIndex

    old = emb.filter(F.col("id") % 5 != 0)
    new = emb.filter(F.col("id") % 5 == 0)
    idx = IvfIndex.build_lattice(old, n_cells=8, iters=1, seed=7)
    assert idx.lattice
    combined = idx.add(new)
    # frozen-quantizer contract: every row of the union is present and
    # new rows landed in cells chosen by the same lattice argmin
    from radient_spark.operators.cluster import assign_clusters

    cents = [[int(x) for x in c] for c in idx.centroids.tolist()]
    expected = assign_clusters(new, "vector", cents, out_col="cell_id")
    got = combined.index_df.join(
        new.select("id"), "id", "left_semi"
    ).select("id", "cell_id")
    mism = (
        got.join(
            expected.select("id", F.col("cell_id").alias("exp")), "id"
        )
        .filter(F.col("cell_id") != F.col("exp"))
        .count()
    )
    assert mism == 0
    path = str(tmp_path / "ivf_lat")
    idx.save(path)
    loaded = IvfIndex.load(spark, path)
    assert loaded.lattice
    rows = emb.orderBy("id").limit(3).collect()
    qs = [(int(r["id"]), list(r["vector"])) for r in rows]
    a = sorted(map(tuple, idx.search(qs, k=3, n_probes=2).collect()))
    b = sorted(map(tuple, loaded.search(qs, k=3, n_probes=2).collect()))
    assert a == b


def test_build_partition_width_bounded(spark, emb):
    """Round-12: the per-level reassignment union must NOT double the
    partition count each level — a depth-D build would otherwise run
    P0 * 2^D tasks in its last GEMM stage (the forest-bytes probe hit
    102,400 two-row tasks at 200k rows before the coalesce fix). The
    index_df is the loop's final `cur`, so its partition count pins the
    last level's stage width: bounded by the coalesce target, never
    input_parts * 2^depth."""
    wide = emb.repartition(8)
    # depth = ceil(log2(n / leaf)) >= 4 at sf0.001+ (n >= 600, leaf 32)
    idx = AnnIndex.build(wide, n_trees=2, max_leaf_size=32, seed=7)
    target = max(
        2 * spark.sparkContext.defaultParallelism,
        wide.rdd.getNumPartitions(),
    )
    got = idx.index_df.rdd.getNumPartitions()
    assert got <= target, (got, target)

    lat = AnnIndex.build_lattice(emb.repartition(8), n_trees=2, levels=2, seed=42)
    got_lat = lat.index_df.rdd.getNumPartitions()
    assert got_lat <= target, (got_lat, target)


def _build_saved(kind, emb, path):
    from radient_spark.ann import IvfIndex

    if kind == "ivf":
        IvfIndex.build(emb, n_cells=8, seed=42).save(path)
        return IvfIndex.load(emb.sparkSession, path), {"n_probes": 2}
    if kind == "lattice":
        idx = AnnIndex.build_lattice(emb, n_trees=2, levels=2, seed=42)
    else:
        idx = AnnIndex.build(emb, n_trees=4, max_leaf_size=100, seed=42)
    idx.save(path)
    return AnnIndex.load(emb.sparkSession, path), {}


@pytest.mark.parametrize("kind", ["forest", "lattice", "ivf"])
def test_list_search_plan_is_local_and_pruned(spark, emb, tmp_path, monkeypatch, kind):
    """List search ships its query frame as a LocalRelation (no Python-
    RDD scan, so no Python-worker job per search), and the probed cells
    or (tree, leaf) pairs still reach the index scan as PartitionFilters.
    search([]) is an empty, typed frame: the one-parse probe predicate
    has no `IN ()` form, so the empty probe set must skip it."""
    import re

    import radient_spark.ann as ann_mod
    from radient_spark.plans import formatted_plan

    idx, kw = _build_saved(kind, emb, str(tmp_path / kind))
    shipped, real = [], ann_mod.local_frame

    def spy(spark_, rows, ddl):
        shipped.extend(rows)
        return real(spark_, rows, ddl)

    monkeypatch.setattr(ann_mod, "local_frame", spy)
    qs = [(int(r["id"]), list(r["vector"])) for r in emb.take(3)]
    res = idx.search(qs, k=5, **kw)
    assert shipped
    plan = formatted_plan(res)
    assert "ExistingRDD" not in plan and "LocalTableScan" in plan, plan

    filters = " ".join(l for l in plan.splitlines() if "PartitionFilters" in l)
    ints = {int(x) for x in re.findall(r"\b\d+\b", re.sub(r"#\d+", "", filters))}
    if kind == "ivf":
        probed = {row[1] for row in shipped}
        assert "cell_id" in filters and probed <= ints, (probed, filters)
    else:
        leaves = {row[2] for row in shipped}
        assert "tree_id" in filters and "leaf_id" in filters, filters
        assert leaves <= ints, (leaves, filters)
    assert {r["qid"] for r in res.collect()} == {q for q, _ in qs}

    empty = idx.search([], k=5, **kw)
    assert empty.schema.simpleString() == "struct<qid:bigint,id:bigint,score:double>"
    assert empty.count() == 0


@pytest.mark.parametrize("metric", ["cosine", "dot", "l2"])
def test_rerank_score_bit_equal_to_vector_builders(spark, metric):
    """The rerank score is parsed from constant SQL text; it must be the
    same expression as the functions/vector builders, bit for bit,
    including a zero vector. A cosine over a zero vector divides with
    try_divide, so under ANSI mode (Spark 4's default) both forms give
    NULL instead of raising DIVIDE_BY_ZERO."""
    import math
    import struct

    from pyspark.sql import Window

    from radient_spark.ann import _RERANK_SCORE_SQL, _rerank_topk
    from radient_spark.functions import vector as V

    rng = np.random.default_rng(11)
    vecs = [rng.normal(size=6).tolist() for _ in range(6)] + [[0.0] * 6]
    qvecs = [rng.normal(size=6).tolist(), [0.0] * 6]
    cand = spark.createDataFrame(
        [(q, i, v, qv) for q, qv in enumerate(qvecs) for i, v in enumerate(vecs)],
        "qid bigint, id bigint, vector array<float>, qvec array<float>",
    )
    ref = {
        "cosine": V.cosine_similarity("vector", "qvec"),
        "dot": V.dot("vector", "qvec"),
        "l2": -V.l2_distance("vector", "qvec"),
    }[metric]
    if metric == "cosine":
        # a zero-norm side scores NULL in both forms (try_divide), and the
        # rerank ranks it last instead of failing the query
        zero = cand.filter("NOT (exists(vector, x -> x != 0) AND exists(qvec, x -> x != 0))")
        for score in (F.expr(_RERANK_SCORE_SQL[metric]), ref):
            assert [r[0] for r in zero.select(score).collect()] == [None] * zero.count()
        w = Window.partitionBy("qid").orderBy(F.col("score").desc_nulls_last())
        last = (
            _rerank_topk(cand, len(vecs), metric)
            .withColumn("rn", F.row_number().over(w))
            .filter(F.col("qid") == 0)
            .orderBy(F.col("rn").desc())
            .first()
        )
        assert (last["id"], last["score"]) == (len(vecs) - 1, None)
        cand = cand.filter("exists(vector, x -> x != 0) AND exists(qvec, x -> x != 0)")
    rows = cand.select(
        "qid", "id", F.expr(_RERANK_SCORE_SQL[metric]).alias("got"), ref.alias("want")
    ).collect()

    def bits(x):
        return "nan" if math.isnan(x) else struct.pack("<d", x)

    assert [bits(r["got"]) for r in rows] == [bits(r["want"]) for r in rows]

    top = _rerank_topk(cand, 3, metric)
    w = Window.partitionBy("qid").orderBy(F.col("score").desc(), F.col("id").asc())
    want = (
        cand.withColumn("score", F.round(ref, 6))
        .withColumn("__rn", F.row_number().over(w))
        .filter("__rn <= 3")
        .select("qid", "id", "score")
    )
    assert top.schema == want.schema
    got_rows = sorted((r["qid"], r["id"], bits(r["score"])) for r in top.collect())
    want_rows = sorted((r["qid"], r["id"], bits(r["score"])) for r in want.collect())
    assert got_rows == want_rows


def _sorted_rows(df):
    return sorted(tuple(r) for r in df.collect())


def _parquet_files(d):
    import os

    return sum(1 for _r, _d, fs in os.walk(d) for f in fs if f.endswith(".parquet"))


@pytest.mark.parametrize("lattice", [False, True], ids=["float", "lattice"])
def test_segmented_index_matches_in_memory_add(spark, emb, tmp_path, lattice):
    """A saved index grown by append_save (one segment per insert, read
    back as cells + segments) returns the same rows as the same inserts
    held in memory through `add`: one probe, a partial probe and every
    cell, through list search and search_df."""
    from radient_spark.ann import IvfIndex, _segment_dirs

    n_cells = 12
    base = emb.filter(F.col("id") % 3 != 0)
    batches = [
        emb.filter((F.col("id") % 3 == 0) & (F.col("id") % 2 == b)) for b in (0, 1)
    ]
    if lattice:
        idx = IvfIndex.build_lattice(base, n_cells=n_cells, iters=1, seed=7)
    else:
        idx = IvfIndex.build(base, n_cells=n_cells, seed=7)
    path = str(tmp_path / "seg")
    idx.save(path)
    mem = idx
    for b in batches:
        idx.append_save(b, path)
        mem = mem.add(b)
    assert len(_segment_dirs(path)) == len(batches)
    disk = IvfIndex.load(spark, path)
    assert disk.lattice == lattice
    assert disk.index_df.count() == mem.index_df.count() == emb.count()
    rows = emb.orderBy("id").limit(6).collect()
    qs = [(int(r["id"]), list(r["vector"])) for r in rows]
    qdf = spark.createDataFrame(qs, "qid bigint, qvec array<float>")
    for n_probes in (1, 8, n_cells):
        want = _sorted_rows(mem.search(qs, k=5, n_probes=n_probes))
        assert want and _sorted_rows(disk.search(qs, k=5, n_probes=n_probes)) == want
        want_df = _sorted_rows(mem.search_df(qdf, k=5, n_probes=n_probes))
        assert want_df and _sorted_rows(disk.search_df(qdf, k=5, n_probes=n_probes)) == want_df


def test_append_save_adds_one_file_and_folds_at_threshold(spark, emb, tmp_path, monkeypatch):
    """A 1-partition insert adds exactly one parquet file, which a read of
    cells/ alone does not see; once _FOLD_SEGMENTS segments exist the
    next append first folds them into their cells, adding one file per
    touched cell and rewriting none, then writes its own segment."""
    import os

    import radient_spark.ann as ann_mod
    from radient_spark.ann import IvfIndex

    path = str(tmp_path / "ivf")
    idx = IvfIndex.build(emb, n_cells=8, seed=42)
    idx.save(path)
    n = emb.count()
    before = _parquet_files(f"{path}/cells")
    batch = emb.limit(50).withColumn("id", F.col("id") + 10**6).coalesce(1)
    assert batch.rdd.getNumPartitions() == 1
    idx.append_save(batch, path)
    assert _parquet_files(f"{path}/cells") == before + 1
    assert spark.read.parquet(f"{path}/cells").count() == n
    assert IvfIndex.load(spark, path).index_df.count() == n + 50

    monkeypatch.setattr(ann_mod, "_FOLD_SEGMENTS", 3)
    for b in (2, 3):
        idx.append_save(batch.withColumn("id", F.col("id") + b * 10**6), path)
    assert len(ann_mod._segment_dirs(path)) == 3  # at the threshold: no fold yet
    old_files = {
        os.path.join(r, f)
        for r, _d, fs in os.walk(f"{path}/cells")
        if "_segments" not in r
        for f in fs
        if f.endswith(".parquet")
    }
    idx.append_save(batch.withColumn("id", F.col("id") + 4 * 10**6), path)
    assert len(ann_mod._segment_dirs(path)) == 1  # folded, then this batch's segment
    assert not os.path.exists(f"{path}/cells/_segments/{ann_mod._FOLD_INTENT}")
    cells = spark.read.parquet(f"{path}/cells")
    assert cells.count() == cells.select("id").distinct().count() == n + 150
    folded = cells.filter(F.col("id") >= 10**6).select("cell_id").distinct().count()
    assert all(os.path.exists(f) for f in old_files)  # no cell file rewritten
    assert _parquet_files(f"{path}/cells") == before + folded + 1
    assert IvfIndex.load(spark, path).index_df.count() == n + 200


def test_failed_fold_leaves_append_unwritten(spark, emb, tmp_path, monkeypatch):
    """append_save folds BEFORE it writes its own segment, so a fold that
    fails fails the append with the batch not on disk, and a retried
    append (a replayed streaming epoch) leaves each id once."""
    from pyspark.sql.readwriter import DataFrameWriter

    import radient_spark.ann as ann_mod
    from radient_spark.ann import IvfIndex

    monkeypatch.setattr(ann_mod, "_FOLD_SEGMENTS", 2)
    path = str(tmp_path / "ivf")
    idx = IvfIndex.build(emb, n_cells=8, seed=42)
    idx.save(path)
    n = emb.count()
    batches = [emb.limit(40).withColumn("id", F.col("id") + b * 10**6) for b in (1, 2, 3)]
    for b in batches[:2]:
        idx.append_save(b, path)
    real_parquet = DataFrameWriter.parquet

    def parquet(self, p, *a, **kw):
        if str(p).endswith("/cells"):
            raise RuntimeError("injected: fold fails")
        return real_parquet(self, p, *a, **kw)

    with monkeypatch.context() as m:
        m.setattr(DataFrameWriter, "parquet", parquet)
        with pytest.raises(Exception, match="injected"):
            idx.append_save(batches[2], path)
    assert len(ann_mod._segment_dirs(path)) == 2
    assert IvfIndex.load(spark, path).index_df.count() == n + 80

    idx.append_save(batches[2], path)
    loaded = IvfIndex.load(spark, path).index_df
    assert loaded.count() == loaded.select("id").distinct().count() == n + 120
    assert len(ann_mod._segment_dirs(path)) == 1


@pytest.mark.parametrize(
    "window",
    ["append_fails", "append_partial", "before_segment_delete", "tombstone_overwrite_fails"],
)
def test_fold_crash_windows(spark, emb, tmp_path, monkeypatch, window):
    """A compact that stops during the fold's append to the cells (before
    any cell file commits, or after half of the cells got theirs), after
    the append but before the segments are deleted, or in the tombstone
    overwrite before it commits: searches and row counts equal those of
    an uninterrupted compact, and a second compact converges without
    writing any row twice."""
    import os
    import shutil

    from pyspark.sql.readwriter import DataFrameWriter

    from radient_spark.ann import IvfIndex, _segment_dirs

    base = emb.filter(F.col("id") % 4 != 0)
    idx = IvfIndex.build(base, n_cells=8, seed=42)
    rows = emb.orderBy("id").limit(5).collect()
    qs = [(int(r["id"]), list(r["vector"])) for r in rows]

    def grown(path):
        idx.save(path)
        for b in (0, 4):
            idx.append_save(emb.filter(F.col("id") % 8 == b), path)
        idx.tombstone_save(emb.filter(F.col("id") % 7 == 0), path)
        return path

    def observed(path):
        loaded = IvfIndex.load(spark, path)
        return (
            loaded.index_df.count(),
            [_sorted_rows(loaded.search(qs, k=5, n_probes=p)) for p in (2, 8)],
        )

    ref = grown(str(tmp_path / "ref"))
    IvfIndex.compact(spark, ref)
    want = observed(ref)
    assert want[0] == emb.filter(F.col("id") % 7 != 0).count()

    p = grown(str(tmp_path / "crash"))
    if window == "before_segment_delete":
        real_rmtree = shutil.rmtree

        def rmtree(d, *a, **kw):
            if "_segments" in str(d):
                raise RuntimeError("injected: crash before segment delete")
            return real_rmtree(d, *a, **kw)

        monkeypatch.setattr(shutil, "rmtree", rmtree)
    else:
        real_parquet = DataFrameWriter.parquet
        writes = []

        def parquet(self, path, *a, **kw):
            if str(path).endswith("/cells"):
                writes.append(path)
                if window == "tombstone_overwrite_fails" and len(writes) == 1:
                    return real_parquet(self, path, *a, **kw)  # the fold's append
                if window == "append_partial":
                    cells = sorted(r[0] for r in self._df.select("cell_id").distinct().collect())
                    half = self._df.filter(F.col("cell_id").isin(cells[: len(cells) // 2]))
                    real_parquet(half.write.mode("append").partitionBy("cell_id"), path)
                raise RuntimeError("injected: crash mid-write")
            return real_parquet(self, path, *a, **kw)

        monkeypatch.setattr(DataFrameWriter, "parquet", parquet)
    with pytest.raises(Exception, match="injected"):
        IvfIndex.compact(spark, p)
    monkeypatch.undo()
    assert bool(_segment_dirs(p)) == (window != "tombstone_overwrite_fails")
    assert os.path.exists(f"{p}/tombstones")
    assert observed(p) == want

    IvfIndex.compact(spark, p)
    assert _segment_dirs(p) == []
    assert not os.path.exists(f"{p}/tombstones")
    assert observed(p) == want
    on_disk = spark.read.parquet(f"{p}/cells")
    assert on_disk.count() == on_disk.select("id").distinct().count() == want[0]
    assert _sorted_rows(on_disk) == _sorted_rows(spark.read.parquet(f"{ref}/cells"))


def test_revectored_id_returned_once_with_best_score(spark, emb, tmp_path):
    """An id inserted again with another vector (an upsert without a
    tombstone) sits in the index twice. Every IVF search returns it once,
    with the better of its two scores, and still fills all k slots, in
    memory (`add`) and on disk (a segment next to the cells)."""
    from radient_spark.ann import IvfIndex

    n_cells, k = 6, 5
    idx = IvfIndex.build(emb, n_cells=n_cells, seed=42)
    pts = emb.orderBy("id").collect()
    q = pts[0]
    moved = pts[-1]["id"]  # re-inserted with the query's own vector
    upsert = spark.createDataFrame([(moved, list(q["vector"]))], "id bigint, vector array<float>")
    path = str(tmp_path / "ivf")
    idx.save(path)
    idx.append_save(upsert, path)

    X = np.array([r["vector"] for r in pts] + [q["vector"]], dtype=np.float64)
    ids = [r["id"] for r in pts] + [moved]
    qv = np.asarray(q["vector"], dtype=np.float64)
    sc = X @ qv / (np.linalg.norm(X, axis=1) * np.linalg.norm(qv))
    best = {}
    for i, s in zip(ids, sc):
        best[i] = max(best.get(i, -2.0), s)
    want = sorted(best, key=lambda i: (-round(best[i], 6), i))[:k]
    assert moved in want

    qs = [(0, list(q["vector"]))]
    qdf = spark.createDataFrame(qs, "qid bigint, qvec array<float>")
    for index in (idx.add(upsert), IvfIndex.load(spark, path)):
        assert index.index_df.filter(F.col("id") == moved).count() == 2
        for res in (
            index.search(qs, k=k, n_probes=n_cells),
            index.search_df(qdf, k=k, n_probes=n_cells),
        ):
            got = res.orderBy(F.col("score").desc(), "id").collect()
            assert [r["id"] for r in got] == want
            score = {r["id"]: r["score"] for r in got}[moved]
            assert score == pytest.approx(1.0, abs=1e-6)


def test_forest_rerank_one_shuffle_bit_equal_to_dedup_first(spark, emb):
    """Forest list search shuffles once, carrying only (qid, id, score),
    with no SortAggregate; its rows equal, bit for bit, the old form that
    dropped cross-tree duplicate ids before a row_number top-k."""
    import struct

    from pyspark.sql import Window

    from radient_spark.ann import _RERANK_SCORE_SQL

    idx = AnnIndex.build(emb, n_trees=3, max_leaf_size=100, spill=0.2, seed=42)
    rows = emb.orderBy("id").limit(10).collect()
    qs = [(int(r["id"]), list(r["vector"])) for r in rows]
    res = idx.search(qs, k=10)

    plan = res._jdf.queryExecution().executedPlan()
    if plan.nodeName() == "AdaptiveSparkPlan":
        plan = plan.initialPlan()  # exchanges placed, before execution
    nodes, todo = [], [plan]
    while todo:
        node = todo.pop()
        nodes.append(node)
        kids = node.children()
        todo.extend(kids.apply(i) for i in range(kids.size()))
    names = [n.nodeName() for n in nodes]
    shuffles = [n for n in nodes if n.nodeName() == "Exchange"]
    assert len(shuffles) == 1, names
    out = shuffles[0].child().output()
    assert {out.apply(i).name() for i in range(out.size())} == {"qid", "id", "score"}
    assert "SortAggregate" not in names and "ObjectHashAggregate" not in names, names

    hits = []
    for qid, vec in qs:
        q = np.asarray(vec, dtype=np.float64)
        q = q / (np.linalg.norm(q) + 1e-12)
        hits += [(qid, t, tree.descend(q), vec) for t, tree in enumerate(idx.trees)]
    qdf = spark.createDataFrame(hits, "qid bigint, tree_id int, leaf_id int, qvec array<float>")
    cand = idx.index_df.join(qdf, ["tree_id", "leaf_id"])
    deduped = cand.dropDuplicates(["qid", "id"])
    assert cand.count() > deduped.count()  # the trees share candidates
    w = Window.partitionBy("qid").orderBy(F.col("score").desc(), F.col("id").asc())
    old = (
        deduped.withColumn("score", F.round(F.expr(_RERANK_SCORE_SQL["cosine"]), 6))
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 10)
        .select("qid", "id", "score")
    )

    def bits(df):
        return sorted((r["qid"], r["id"], struct.pack("<d", r["score"])) for r in df.collect())

    assert bits(res) == bits(old)
    assert len(bits(res)) == 10 * len(qs)


def test_load_without_ddl_infers_schema(spark, emb, tmp_path):
    """Sidecars written before the index DDL was recorded still load,
    through schema inference, with the same rows and columns."""
    import json

    from radient_spark.ann import IvfIndex

    for kind, sidecar, idx in (
        ("ivf", "centroids.json", IvfIndex.build(emb, n_cells=8, seed=42)),
        ("forest", "forest.json", AnnIndex.build(emb, n_trees=2, max_leaf_size=100, seed=42)),
    ):
        path = str(tmp_path / kind)
        idx.save(path)
        load = IvfIndex.load if kind == "ivf" else AnnIndex.load
        typed = load(spark, path).index_df
        with open(f"{path}/{sidecar}") as f:
            meta = json.load(f)
        del meta["ddl"]
        with open(f"{path}/{sidecar}", "w") as f:
            json.dump(meta, f)
        inferred = load(spark, path).index_df
        assert inferred.schema == typed.schema, kind
        assert _sorted_rows(inferred) == _sorted_rows(typed), kind
