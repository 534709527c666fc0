"""PageRank (operators/graph.py): float mode vs dense numpy power
iteration; integer mode determinism."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from radient_spark.operators.graph import pagerank, pagerank_integer


def _np_pagerank(edges, n, iters, d=0.85):
    """Dense reference with the SAME dangling policy (mass leaks)."""
    A = np.zeros((n, n))
    deg = np.zeros(n)
    for s, t in edges:
        deg[s] += 1
    for s, t in edges:
        A[t, s] = 1.0 / deg[s]
    r = np.full(n, 1.0 / n)
    for _ in range(iters):
        r = (1 - d) / n + d * (A @ r)
    return r


def test_pagerank_matches_numpy(spark):
    rng = np.random.RandomState(5)
    n = 30
    edges = list({(int(a), int(b)) for a, b in rng.randint(0, n, (120, 2)) if a != b})
    # make every node appear (isolated nodes are out of contract)
    edges += [(i, (i + 1) % n) for i in range(n)]
    edges = sorted(set(edges))
    df = spark.createDataFrame(edges, "src long, dst long")
    got = {r["node"]: r["rank"] for r in pagerank(df, iters=8).collect()}
    exp = _np_pagerank(edges, n, iters=8)
    assert set(got) == set(range(n))
    for i in range(n):
        assert got[i] == pytest.approx(exp[i], rel=1e-9)


def test_pagerank_integer_close_to_float_and_deterministic(spark):
    edges = [(0, 1), (1, 2), (2, 0), (2, 1), (3, 2), (0, 3)]
    df = spark.createDataFrame(edges, "src long, dst long")
    fl = {r["node"]: r["rank"] for r in pagerank(df, iters=2).collect()}
    a = {
        r["node"]: r["rank_units"]
        for r in pagerank_integer(df, iters=2).collect()
    }
    b = {
        r["node"]: r["rank_units"]
        for r in pagerank_integer(df.repartition(7), iters=2).collect()
    }
    assert a == b  # partitioning-independent (bit-exact integer path)
    for node, units in a.items():
        assert units / 1e12 == pytest.approx(fl[node], abs=1e-6)


def test_pagerank_empty_edges(spark):
    from radient_spark.operators.graph import personalized_pagerank_integer

    df = spark.createDataFrame([], "src long, dst long")
    assert pagerank(df).count() == 0
    assert pagerank_integer(df).count() == 0
    assert personalized_pagerank_integer(df, seed_node=1).collect() == []
    # a lone self-loop on the seed keeps all of the seed's mass
    loop = spark.createDataFrame([(1, 1)], "src long, dst long")
    got = personalized_pagerank_integer(loop, seed_node=1).collect()
    assert [tuple(r) for r in got] == [(1, 10**12)]


def test_pagerank_empty_edges_releases_caches(spark):
    """Round-9 ADVICE: the n == 0 early return must not strand the
    edges/nodes persists made on entry."""
    def n_cached():
        return spark.sparkContext._jsc.sc().getPersistentRDDs().size()

    before = n_cached()
    df = spark.createDataFrame([], "src long, dst long")
    pagerank(df).count()
    pagerank_integer(df).count()
    assert n_cached() <= before


def test_pagerank_preserves_caller_cache(spark):
    """Round-9 ADVICE: a caller-persisted edge DataFrame must STAY
    persisted after a graph call — the operator only releases caches it
    created, so multi-call sessions keep their shared edge cache."""
    edges = spark.createDataFrame(
        [(0, 1), (1, 2), (2, 0)], "src long, dst long"
    ).persist()
    edges.count()  # materialize the caller's cache
    assert edges.storageLevel.useMemory
    pagerank(edges, iters=2).count()
    assert edges.storageLevel.useMemory, "operator dropped caller's cache"
    pagerank_integer(edges, iters=2).count()
    assert edges.storageLevel.useMemory
    edges.unpersist()


def test_triangle_count_known_graphs(spark):
    from radient_spark.operators.graph import triangle_count

    # K4 has 4 triangles; adding an isolated edge adds none
    k4 = [(a, b) for a in range(4) for b in range(4) if a < b]
    df = spark.createDataFrame(k4 + [(10, 11)], ["src", "dst"])
    r = triangle_count(df).collect()[0]
    assert (r["n_nodes"], r["n_edges"], r["n_triangles"]) == (6, 7, 4)

    # duplicate + reversed edges must not inflate the count
    noisy = k4 + [(b, a) for a, b in k4] + k4
    r2 = triangle_count(spark.createDataFrame(noisy, ["src", "dst"])).collect()[0]
    assert r2["n_triangles"] == 4


def test_star_components_match_label_propagation(spark):
    """Alternating large/small-star labels == min-label propagation
    fixed point, on a chain (the propagation worst case), a random
    blob, and a self-loop-only node."""
    import random

    from radient_spark.operators.dedup import connected_duplicate_groups
    from radient_spark.operators.graph import connected_components_star

    random.seed(7)
    edges = [(i, i + 1) for i in range(0, 40)]
    edges += [
        (1000 + random.randrange(40), 1000 + random.randrange(40))
        for _ in range(80)
    ]
    edges += [(2000, 2001), (2002, 2001), (2003, 2003)]
    random.shuffle(edges)
    df = spark.createDataFrame(edges, ["id_a", "id_b"])
    star = {
        (r.id, r.group_id) for r in connected_components_star(df).collect()
    }
    prop = {
        (r.id, r.group_id)
        for r in connected_duplicate_groups(df, max_iter=100).collect()
    }
    assert star == prop


def test_star_components_empty(spark):
    from radient_spark.operators.graph import connected_components_star

    empty = spark.createDataFrame([], "id_a long, id_b long")
    assert connected_components_star(empty).count() == 0


def test_star_components_self_pairs_only(spark):
    """Self-pair-only input must self-label every node (the
    connected_duplicate_groups contract) — round-4 ADVICE: an empty
    frame here would drop singleton labels from cc_maintenance_sink's
    persisted state."""
    from radient_spark.operators.graph import connected_components_star

    df = spark.createDataFrame([(5, 5), (9, 9), (5, 5)], ["id_a", "id_b"])
    got = {
        (r.id, r.group_id) for r in connected_components_star(df).collect()
    }
    assert got == {(5, 5), (9, 9)}


def test_star_components_unconverged_dedups(spark):
    """With max_rounds too small to converge, labels must still be one
    row per node (min group_id), and a warning must fire."""
    import warnings

    from radient_spark.operators.graph import connected_components_star

    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(0, 200)], ["id_a", "id_b"]
    )
    with warnings.catch_warnings(record=True) as w:
        warnings.simplefilter("always")
        labels = connected_components_star(chain, max_rounds=1).collect()
    ids = [r.id for r in labels]
    assert len(ids) == len(set(ids)) == 201
    assert any("fixed point" in str(x.message) for x in w)


def test_kcore_peels_tendrils_keeps_clique(spark):
    from radient_spark.operators.graph import kcore

    # 4-clique (each degree 3) + a tail 10-11-12 hanging off node 0:
    # the 3-core is exactly the clique; the tail peels off in 2 rounds.
    clique = [(a, b) for a in range(4) for b in range(a + 1, 4)]
    tail = [(0, 10), (10, 11), (11, 12)]
    df = spark.createDataFrame(clique + tail, "src long, dst long")
    got = {r["node"]: r["degree"] for r in kcore(df, k=3, rounds=4).collect()}
    assert got == {0: 3, 1: 3, 2: 3, 3: 3}


def test_kcore_empty_when_no_core(spark):
    from radient_spark.operators.graph import kcore

    # a path graph has max core number 1
    path = [(i, i + 1) for i in range(6)]
    df = spark.createDataFrame(path, "src long, dst long")
    assert kcore(df, k=2, rounds=4).count() == 0


def test_kcore_fixed_budget_converges_on_registry_graph(spark, sf_dir):
    """The registry query runs exactly _KCORE_ROUNDS synchronized
    rounds; assert the fixed point is reached strictly inside that
    budget (peel depth is bounded by degeneracy, not graph size)."""
    from pyspark.sql import functions as F2

    from radient_spark.operators.graph import kcore
    from radient_spark.queries import _KCORE_K, _KCORE_ROUNDS, load_tables

    li = load_tables(spark, sf_dir)["lineitem"]
    sp = li.select("l_suppkey", "l_partkey").distinct()
    deg = sp.groupBy("l_partkey").agg(F2.count(F2.lit(1)).alias("ns"))
    small = sp.join(deg.filter(F2.col("ns") <= 20).select("l_partkey"), "l_partkey")
    a, b = small.alias("a"), small.alias("b")
    edges = (
        a.join(
            b,
            (F2.col("a.l_partkey") == F2.col("b.l_partkey"))
            & (F2.col("a.l_suppkey") < F2.col("b.l_suppkey")),
        )
        .select(F2.col("a.l_suppkey").alias("src"), F2.col("b.l_suppkey").alias("dst"))
        .distinct()
    )
    at_budget = kcore(edges, k=_KCORE_K, rounds=_KCORE_ROUNDS)
    one_short = kcore(edges, k=_KCORE_K, rounds=_KCORE_ROUNDS - 1)
    rows_a = {tuple(r) for r in at_budget.collect()}
    rows_b = {tuple(r) for r in one_short.collect()}
    assert rows_a == rows_b, "peeling had not converged one round early"


def test_label_propagation_two_cliques_with_bridge(spark):
    from radient_spark.operators.graph import label_propagation

    # two 4-cliques joined by one bridge edge: LPA should settle each
    # clique on its minimum id, and the bridge must not merge them
    c1 = [(a, b) for a in range(4) for b in range(a + 1, 4)]
    c2 = [(a, b) for a in range(10, 14) for b in range(a + 1, 14)]
    df = spark.createDataFrame(c1 + c2 + [(3, 10)], "src long, dst long")
    got = {r["node"]: r["community"] for r in label_propagation(df, rounds=4).collect()}
    assert {got[n] for n in range(4)} == {0}
    assert {got[n] for n in range(10, 14)} == {10}


def test_wl_colors_distinguish_structure_not_ids(spark):
    from radient_spark.operators.graph import wl_colors

    # two disjoint paths of 3: endpoints are structurally identical,
    # middles are structurally identical, endpoints != middles
    df = spark.createDataFrame(
        [(1, 2), (2, 3), (11, 12), (12, 13)], "src long, dst long"
    )
    got = {r["node"]: r["wl_color"] for r in wl_colors(df, rounds=2).collect()}
    assert got[1] == got[3] == got[11] == got[13]
    assert got[2] == got[12]
    assert got[1] != got[2]


def test_wl_colors_separate_different_neighborhoods(spark):
    from radient_spark.operators.graph import wl_colors

    # star center (degree 3) vs triangle nodes (degree 2): all differ
    star = [(0, 1), (0, 2), (0, 3)]
    tri = [(10, 11), (11, 12), (10, 12)]
    df = spark.createDataFrame(star + tri, "src long, dst long")
    got = {r["node"]: r["wl_color"] for r in wl_colors(df, rounds=2).collect()}
    assert got[0] != got[10]
    assert len({got[10], got[11], got[12]}) == 1  # triangle is vertex-transitive
    assert got[1] == got[2] == got[3]  # leaves identical


def test_kcore_matches_python_reference_on_random_graph(spark):
    import random

    from radient_spark.operators.graph import kcore

    rng = random.Random(7)
    edges = sorted(
        {
            (a, b)
            for a, b in (
                sorted(rng.sample(range(40), 2)) for _ in range(180)
            )
        }
    )
    df = spark.createDataFrame(edges, "src long, dst long")
    got = {r["node"]: r["degree"] for r in kcore(df, k=3, rounds=40).collect()}

    # reference: repeated peeling to fixpoint
    cur = set(edges)
    while True:
        deg: dict[int, int] = {}
        for a, b in cur:
            deg[a] = deg.get(a, 0) + 1
            deg[b] = deg.get(b, 0) + 1
        alive = {n for n, d in deg.items() if d >= 3}
        nxt = {(a, b) for a, b in cur if a in alive and b in alive}
        if nxt == cur:
            break
        cur = nxt
    exp: dict[int, int] = {}
    for a, b in cur:
        exp[a] = exp.get(a, 0) + 1
        exp[b] = exp.get(b, 0) + 1
    exp = {n: d for n, d in exp.items() if d >= 3}
    assert got == exp


def test_label_propagation_matches_python_reference(spark):
    import random
    from collections import Counter, defaultdict

    from radient_spark.operators.graph import label_propagation

    rng = random.Random(13)
    edges = sorted(
        {
            (a, b)
            for a, b in (
                sorted(rng.sample(range(30), 2)) for _ in range(90)
            )
        }
    )
    df = spark.createDataFrame(edges, "src long, dst long")
    rounds = 3
    got = {
        r["node"]: r["community"]
        for r in label_propagation(df, rounds=rounds).collect()
    }

    adj = defaultdict(set)
    for a, b in edges:
        adj[a].add(b)
        adj[b].add(a)
    lbl = {n: n for n in adj}
    for _ in range(rounds):
        new = {}
        for n in adj:
            freq = Counter(lbl[v] for v in adj[n])
            top = max(freq.values())
            new[n] = min(l for l, c in freq.items() if c == top)
        lbl = new
    assert got == lbl


def test_bfs_layers_nearest_seed_depths(spark):
    from radient_spark.operators.graph import bfs_layers

    # path 0-1-2-3-4-5 with seeds {0, 4}: depths are nearest-seed
    edges = [(i, i + 1) for i in range(5)]
    df = spark.createDataFrame(edges, "src long, dst long")
    seeds = spark.createDataFrame([(0,), (4,)], "node long")
    got = {r["node"]: r["depth"] for r in bfs_layers(df, seeds, 3).collect()}
    assert got == {0: 0, 4: 0, 1: 1, 3: 1, 5: 1, 2: 2}


def test_bfs_layers_stops_at_max_depth_and_exhaustion(spark):
    from radient_spark.operators.graph import bfs_layers

    edges = [(i, i + 1) for i in range(6)]
    df = spark.createDataFrame(edges, "src long, dst long")
    seeds = spark.createDataFrame([(0,)], "node long")
    got = {r["node"]: r["depth"] for r in bfs_layers(df, seeds, 2).collect()}
    assert got == {0: 0, 1: 1, 2: 2}
    # disconnected seed: frontier exhausts after its component
    df2 = spark.createDataFrame([(0, 1), (10, 11)], "src long, dst long")
    got2 = {
        r["node"]: r["depth"]
        for r in bfs_layers(
            df2, spark.createDataFrame([(0,)], "node long"), 5
        ).collect()
    }
    assert got2 == {0: 0, 1: 1}


def test_hyperball_tracks_exact_neighborhood_function(spark):
    """On a small graph the HLL ball estimates (m=128 >> ball sizes,
    linear-counting branch => near-exact) must track the exact N(t)
    within a few percent, and t=0 is exactly one node per ball."""
    from radient_spark.operators.graph import hyperball

    # two 10-cycles
    edges = [(i, (i + 1) % 10) for i in range(10)] + [
        (10 + i, 10 + (i + 1) % 10) for i in range(10)
    ]
    df = spark.createDataFrame(edges, "src long, dst long")
    rows = {r["t"]: r for r in hyperball(df, rounds=3, p=7).collect()}
    assert rows[0]["n_nodes"] == 20
    # exact N(t) on a cycle: ball size = 2t+1 per node
    for t in range(4):
        exact = 20 * (2 * t + 1)
        est = rows[t]["n_reachable_pairs_est"]
        assert abs(est - exact) / exact < 0.06, (t, est, exact)


def test_hyperball_harmonic_orders_star_center_first(spark):
    from radient_spark.operators.graph import hyperball_harmonic

    # star: center reaches 6 nodes at distance 1; leaves reach 1 at
    # distance 1 and 5 at distance 2 -> center strictly most central
    star = [(0, i) for i in range(1, 7)]
    df = spark.createDataFrame(star, "src long, dst long")
    rows = {
        r["node"]: r["harmonic_lattice"]
        for r in hyperball_harmonic(df, rounds=2, p=7).collect()
    }
    assert rows[0] == max(rows.values())
    leaf_vals = {rows[i] for i in range(1, 7)}
    assert len(leaf_vals) == 1 and rows[0] > leaf_vals.pop()


def test_kcore_warns_when_budget_exhausted(spark):
    """Round-6 (ADVICE): an exhausted `rounds` budget before the peeling
    fixed point must warn (result is a superset of the true k-core)."""
    import warnings

    from radient_spark.operators.graph import kcore

    # a path graph peels one layer per round from each end: with k=2
    # the 2-core is empty, but rounds=1 stops long before that
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(12)], "src long, dst long"
    )
    with warnings.catch_warnings(record=True) as w:
        warnings.simplefilter("always")
        res = kcore(edges, k=2, rounds=1).collect()
    assert any("superset" in str(x.message) for x in w)
    assert len(res) > 0  # superset, not the (empty) true 2-core

    # with enough rounds: converged, no warning, empty 2-core
    with warnings.catch_warnings(record=True) as w:
        warnings.simplefilter("always")
        res = kcore(edges, k=2, rounds=10).collect()
    assert not [x for x in w if "superset" in str(x.message)]
    assert res == []


def test_sweep_jobs_do_not_scale_with_rounds(spark):
    """Optimization r12 (guide §1.2): the fixed-round sweeps keep their
    per-round checkpoints LAZY, so the whole sweep materializes in the
    single _release job at the end — Spark job count must not grow one
    (or two) per round as the old eager-checkpoint discipline did. AQE
    is disabled for the probe because it legitimately splits one query
    into per-stage jobs, which would mask the regression being pinned."""
    from radient_spark.operators.graph import label_propagation

    sc = spark.sparkContext
    aqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        edges = spark.createDataFrame(
            [(i, (i + 1) % 10) for i in range(10)], "src long, dst long"
        )
        label_propagation(edges, rounds=2).collect()  # warm the path
        before = len(sc.statusTracker().getJobIdsForGroup(None))
        label_propagation(edges, rounds=2).collect()
        mid = len(sc.statusTracker().getJobIdsForGroup(None))
        label_propagation(edges, rounds=6).collect()
        jobs_2 = mid - before
        jobs_6 = len(sc.statusTracker().getJobIdsForGroup(None)) - mid
        # Relative pin (round-12 advice): under the lazy-checkpoint
        # discipline the only per-round job is the join's
        # broadcast-relation build (one per round, inherent to the
        # join and launched regardless of checkpoint timing), so four
        # extra rounds may add at most four jobs. The old
        # eager-per-round shape added 2+ jobs per round and fails this
        # bound. A relative bound survives planner changes across
        # Spark upgrades that shift the absolute count.
        assert jobs_6 - jobs_2 <= 4, (
            f"6-round sweep launched {jobs_6} jobs vs {jobs_2} for 2 "
            "rounds — more than one extra job per extra round"
        )
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", aqe)


def test_roster_salt_split_results_identical(spark, monkeypatch):
    """Round-13 hub guard: SPARK_GRAFT_ROSTER_SALTS > 1 splits each
    node's adjacency roster across several rows (bounding the one-row
    neighborhood a social-scale hub would otherwise produce) with
    results identical to the default — a roster is just a grouping of
    the edge list, and every consumer joins on the node key and
    explodes."""
    import pyspark.sql.functions as F

    from radient_spark.operators import graph as G

    # hub node 0 with 40 spokes, plus a ring among 1..12
    edge_rows = [(0, i) for i in range(1, 41)] + [
        (i, i % 12 + 1) for i in range(1, 13)
    ]
    edges = spark.createDataFrame(edge_rows, "src long, dst long")
    seeds = spark.createDataFrame([(0,)], "node long")

    def run_all():
        return {
            "pr_int": sorted(
                tuple(r) for r in G.pagerank_integer(edges, iters=2).collect()
            ),
            "ppr": sorted(
                tuple(r)
                for r in G.personalized_pagerank_integer(
                    edges, seed_node=0, iters=2
                ).collect()
            ),
            "lpa": sorted(
                tuple(r)
                for r in G.label_propagation(edges, rounds=2).collect()
            ),
            "wl": sorted(
                tuple(r) for r in G.wl_colors(edges, rounds=2).collect()
            ),
            "bfs": sorted(
                tuple(r)
                for r in G.bfs_layers(edges, seeds, max_depth=2).collect()
            ),
            "hb": sorted(
                tuple(r) for r in G.hyperball(edges, rounds=2).collect()
            ),
            "harm": sorted(
                tuple(r)
                for r in G.hyperball_harmonic(edges, rounds=2).collect()
            ),
        }

    monkeypatch.delenv("SPARK_GRAFT_ROSTER_SALTS", raising=False)
    base = run_all()
    base_pr = {
        r["node"]: r["rank"] for r in G.pagerank(edges, iters=3).collect()
    }

    monkeypatch.setenv("SPARK_GRAFT_ROSTER_SALTS", "4")
    # the hub's roster really is split across several rows
    adj = G._roster(
        edges.select(F.col("src").alias("u"), F.col("dst").alias("v")),
        "u", "v", F.collect_set, "__vs",
    )
    assert adj.groupBy("u").count().agg(F.max("count")).first()[0] > 1
    # integer/string-state operators are bit-exact under the split
    assert run_all() == base
    # float pagerank sums per-node contributions in a different row
    # order under the split, so compare within float tolerance
    salted_pr = {
        r["node"]: r["rank"] for r in G.pagerank(edges, iters=3).collect()
    }
    assert salted_pr.keys() == base_pr.keys()
    for n, v in base_pr.items():
        assert abs(salted_pr[n] - v) < 1e-12
    # a value that is not an integer is refused, naming the variable,
    # instead of silently meaning 1
    monkeypatch.setenv("SPARK_GRAFT_ROSTER_SALTS", "four")
    with pytest.raises(ValueError, match="SPARK_GRAFT_ROSTER_SALTS"):
        G.label_propagation(edges, rounds=2)


def test_roster_salts_resolved_once_per_operator_call(spark, monkeypatch):
    """An operator reads SPARK_GRAFT_ROSTER_SALTS once and hands the
    value to every roster helper: changing the variable after the roster
    is built (here, right after _roster returns, before the degree and
    node-set frames are built and evaluated) must not let those frames
    assume a different split than the roster has."""
    import os

    from radient_spark.operators import graph as G

    edge_rows = [(0, i) for i in range(1, 41)] + [
        (i, i % 12 + 1) for i in range(1, 13)
    ]
    edges = spark.createDataFrame(edge_rows, "src long, dst long")

    def rows(df):
        return sorted(tuple(r) for r in df.collect())

    ops = {
        "pr_int": lambda: rows(G.pagerank_integer(edges, iters=2)),
        "lpa": lambda: rows(G.label_propagation(edges, rounds=2)),
        "wl": lambda: rows(G.wl_colors(edges, rounds=2)),
        "hb": lambda: rows(G.hyperball(edges, rounds=2)),
    }
    monkeypatch.delenv("SPARK_GRAFT_ROSTER_SALTS", raising=False)
    base = {name: op() for name, op in ops.items()}

    real = G._roster

    def roster_then_flip(*args, **kwargs):
        out = real(*args, **kwargs)
        os.environ["SPARK_GRAFT_ROSTER_SALTS"] = "1"
        return out

    monkeypatch.setattr(G, "_roster", roster_then_flip)
    for name, op in ops.items():
        monkeypatch.setenv("SPARK_GRAFT_ROSTER_SALTS", "4")
        assert op() == base[name], name
