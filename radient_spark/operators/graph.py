"""Graph operators over edge DataFrames: PageRank (float, integer and
personalized), triangles and local clustering, star connected
components, k-core, label propagation, WL colors, BFS and HyperBall.

Extends the engine's graph family (FastRP embeddings,
operators/vectorize.py; the reference graph vectorizer is radient's
tasks/vectorizers/graph/fastrp.py) with the canonical link-analysis
primitive — at corpus scale PageRank is the standard importance prior
for web-crawl curation (rank-weighted sampling of crawled documents by
domain/link graph).

Each kernel exists once and the operators share it:
  * `_roster` — the adjacency-roster aggregation, with the optional
    hub split (`_roster_salts`, resolved once per operator call);
  * `_undirected_roster` — the persisted, eagerly built roster of the
    undirected graph behind label propagation, WL, BFS and HyperBall;
  * `_power_iteration` — the one PageRank loop, given the initial
    rank, the per-source contribution and the update expression;
  * `_hyperball_balls` — the HyperBall register sweep and its per-node
    ball estimate, for `hyperball` and `hyperball_harmonic`;
  * `_undirected_edges` and `_oriented_triangles` — the distinct
    (least, greatest) edge list, and the degree-oriented wedge join of
    `triangle_count` and `local_clustering`.

Spark-first shape per PageRank round: contributions = one join of the
persisted adjacency roster with the current rank vector on src, one
groupBy(dst) sum (map-side combined), one left join back onto the node
set. No driver state beyond the node count; no collect.

Lineage policy: every truncation goes through
radient_spark.lineage.truncate (localCheckpoint by default, reliable
checkpoint under SPARK_GRAFT_CHECKPOINT_DIR). The fixed-round sweeps
truncate LAZILY, so each sweep materializes in its single `_release`
job: label propagation, WL and HyperBall every round, and all three
PageRanks every `checkpoint_every` rounds (4; only `pagerank` takes it
as an argument). This assumes the SMALL FIXED round counts the
registry uses (2-6): physical lineage depth grows with the rounds
between truncations, so an executor loss mid-job recomputes from the
last one — for large sweeps set the reliable checkpoint dir (bounded
recompute) instead. The operators that stop early (star components,
k-core, BFS) truncate every round and run one job per round that
decides whether to stop.

Two PageRank arithmetic modes:
  * `pagerank` — float64, the production operator (validated against a
    dense numpy power-iteration in tests).
  * `pagerank_integer` and `personalized_pagerank_integer` — ranks in
    integer micro-units with floor division, bit-exact in any summation
    order and expressible in ANSI SQL, so the registry queries have
    DuckDB value oracles (same trick as the integer-lattice k-means
    oracle, operators/cluster.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from radient_spark.lineage import truncate


def _roster_salts() -> int:
    """SPARK_GRAFT_ROSTER_SALTS (default 1): how many rows a node's
    adjacency roster may be split across. The default keeps one
    collect_set/collect_list row per node — cheapest, and fine for
    degree-capped projections like the co-supply graph — but a
    social-scale hub (10^7 neighbors) would put its whole neighborhood
    in ONE aggregation buffer/row (guide §5). Setting S > 1 salts the
    roster by pmod(xxhash64(neighbor), S), bounding every roster row to
    ~degree/S neighbors with results provably identical: a roster is
    just a grouping of the edge list, every per-round consumer joins on
    the node key and explodes the arrays, and the salt is a
    deterministic function of the neighbor value so set-dedup stays
    global. Costs one extra setup exchange (re-partition by the join
    key so rounds stay exchange-free) — a deployment knob, not a local
    default. A value that is not an integer raises ValueError; values
    below 1 mean 1."""
    import os

    raw = os.environ.get("SPARK_GRAFT_ROSTER_SALTS", "1")
    try:
        s = int(raw)
    except ValueError:
        raise ValueError(
            f"SPARK_GRAFT_ROSTER_SALTS must be an integer, got {raw!r}"
        ) from None
    return max(1, s)


def _roster(
    pairs: DataFrame, key: str, val: str, agg, out: str,
    salts: int | None = None,
) -> DataFrame:
    """groupBy(key).agg(agg(val)) — the adjacency-roster aggregation
    every iterative operator builds — with the optional hub split into
    `salts` rows per key (None: resolve _roster_salts() now). Each
    operator resolves _roster_salts() once and passes the same value to
    _roster, _roster_keys and _roster_sizes, so a roster and its readers
    agree on the split even if the environment changes in between. With
    S > 1 the output may hold several rows per key, re-partitioned by
    ``key`` so per-round joins keep the exchange-free discipline;
    callers that need one-row-per-key semantics (initial node sets,
    degrees) handle S > 1 explicitly."""
    s = _roster_salts() if salts is None else salts
    grouped = pairs.groupBy(key).agg(agg(val).alias(out))
    if s == 1:
        return grouped
    return (
        pairs.withColumn(
            "__salt", F.pmod(F.xxhash64(F.col(val)), F.lit(s))
        )
        .groupBy(key, "__salt")
        .agg(agg(val).alias(out))
        .drop("__salt")
        .repartition(F.col(key))
    )


def _roster_keys(adj: DataFrame, key: str, salts: int) -> DataFrame:
    """One row per roster key (the node universe of the keyed side) —
    a plain projection when rosters are one row per key, a distinct
    when the hub split may have produced several."""
    sel = adj.select(key)
    return sel if salts == 1 else sel.distinct()


def _roster_sizes(
    adj: DataFrame, key: str, arr: str, key_out: str, out: str, salts: int
) -> DataFrame:
    """(key, total roster size) with exactly one row per key: size()
    per row by default, summed across rows under the hub split (salt
    groups partition the neighbor set, so the sum is the degree)."""
    if salts == 1:
        return adj.select(F.col(key).alias(key_out), F.size(arr).alias(out))
    return (
        adj.groupBy(key)
        .agg(F.sum(F.size(arr)).alias(out))
        .select(F.col(key).alias(key_out), out)
    )


def _release(result: DataFrame, *cached: DataFrame) -> DataFrame:
    """Materialize the node-sized result (eager localCheckpoint truncates
    its lineage off the iteration caches), then unpersist every
    iteration-scoped cache — repeated calls in one session must not
    accumulate cached edge/node tables (round-8 ADVICE)."""
    out = truncate(result, eager=True)
    for df in cached:
        df.unpersist()
    return out


def _undirected_roster(
    edges: DataFrame,
    src: str,
    dst: str,
    key: str = "v",
    val: str = "u",
    out: str = "__us",
) -> tuple[DataFrame, int]:
    """The adjacency roster of the undirected graph, built once per
    operator call: both directions of every edge as (u, v), self-loops
    dropped, rostered by collect_set on ``key`` — one exchange dedups
    the edges and hash-partitions the rosters by the per-round join
    key, and persist (not localCheckpoint) keeps that partitioning
    visible to the planner, so every round shuffles only node-sized
    state. Built eagerly (one count job) before the rounds. Returns the
    roster and the salt count it was built with (see _roster)."""
    salts = _roster_salts()
    adj = _roster(
        edges.select(F.col(src).alias("u"), F.col(dst).alias("v"))
        .unionByName(
            edges.select(F.col(dst).alias("u"), F.col(src).alias("v"))
        )
        .filter(F.col("u") != F.col("v")),
        key, val, F.collect_set, out, salts,
    ).persist()
    adj.count()  # eager: build the roster once before the rounds
    return adj, salts


def _undirected_edges(pairs: DataFrame, a: str, b: str) -> DataFrame:
    """Distinct undirected edges (a, b) with a < b: self-loops dropped,
    each edge once whatever its direction or multiplicity."""
    return (
        pairs.select(F.col(a).alias("a"), F.col(b).alias("b"))
        .filter(F.col("a") != F.col("b"))
        .select(F.least("a", "b").alias("a"), F.greatest("a", "b").alias("b"))
        .distinct()
    )


def _power_iteration(
    edges: DataFrame,
    src: str,
    dst: str,
    iters: int,
    rank_col: str,
    roster_agg,
    step,
    checkpoint_every: int = 4,
    zero=None,
) -> DataFrame:
    """The power-iteration loop of the three PageRanks.

    Scale shape (optimization r12, guide §2.4/§3.1): the edge list
    collapses ONCE into a persisted (src, [dst...]) adjacency roster
    (``roster_agg``: collect_list keeps edge multiplicity, collect_set
    drops duplicate edges in the same exchange), partitioned by the
    per-round join key and with the out-degree free as size(roster), so
    every round shuffles only the node-sized rank state into the roster
    join and explodes the destinations after it. (Null dst endpoints
    are not propagated as rank sinks; null-keyed edges never matched
    the contribution join anyway.) The static out-degree rides INSIDE
    the iterated state, so the loop holds one roster join and one
    node-sized fold per round; degree-0 nodes are filtered out of the
    contributions.

    ``step(n)`` returns the (initial ``__r``, per-source contribution
    ``__c`` from ``__r`` and ``__deg``, updated ``__r`` from the summed
    contributions ``__s``) columns. ``n`` is the node count, counted by
    one job only when ``zero`` — the rank literal of the empty result —
    is given; with no nodes that result is returned at once and the
    entry caches released outright (no localCheckpoint — recomputing an
    empty frame is free, and a checkpoint would itself pin an RDD;
    round-9 ADVICE). Without ``zero``, ``step`` gets None and no count
    job runs. Lineage is truncated lazily every ``checkpoint_every``
    rounds."""
    salts = _roster_salts()
    adj = _roster(
        edges.select(F.col(src).alias("__src"), F.col(dst).alias("__dst")),
        "__src", "__dst", roster_agg, "__ds", salts,
    ).persist()
    nodes = (
        adj.select(F.col("__src").alias("node"))
        .unionByName(adj.select(F.explode("__ds").alias("node")))
        .distinct()
        .persist()
    )
    owned = [adj, nodes]
    n = None
    if zero is not None:
        n = nodes.count()
        if n == 0:
            for c in owned:
                c.unpersist()
            return nodes.withColumn(rank_col, zero)
    init, contrib, update = step(n)
    nd = (
        nodes.join(
            _roster_sizes(adj, "__src", "__ds", "node", "__deg", salts),
            "node",
            "left",
        )
        .select("node", F.coalesce("__deg", F.lit(0)).alias("__deg"))
        .persist()
    )
    owned.append(nd)
    ranks = nd.withColumn("__r", init).cache()
    for i in range(iters):
        per_src = ranks.filter(F.col("__deg") > 0).select(
            F.col("node").alias("__src"), contrib.alias("__c")
        )
        summed = (
            adj.join(per_src, "__src")
            .select(F.explode("__ds").alias("node"), "__c")
            .groupBy("node")
            .agg(F.sum("__c").alias("__s"))
        )
        new = nd.join(summed, "node", "left").select(
            "node", "__deg", update.alias("__r")
        )
        if (i + 1) % checkpoint_every == 0:
            new = new.transform(truncate)
        old = ranks
        ranks = new.cache()
        old.unpersist()
    return _release(
        ranks.select("node", F.col("__r").alias(rank_col)), ranks, *owned
    )


def _integer_step(init, restart, damping_pct: int):
    """(initial rank, contribution, update) of the integer PageRanks:
    floor division throughout, so every sum is order-exact."""
    return (
        init,
        F.expr("__r div __deg"),
        restart + F.expr(f"({damping_pct} * coalesce(__s, 0L)) div 100"),
    )


def pagerank(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    iters: int = 10,
    damping: float = 0.85,
    rank_col: str = "rank",
    checkpoint_every: int = 4,
) -> DataFrame:
    """Standard damped PageRank over a directed edge DataFrame.

    Dangling-node policy: nodes without out-edges simply leak their
    mass (ranks then sum to < 1) — the common large-scale simplification;
    add reverse edges upstream for an undirected reading. Returns
    (node, rank). Iteration shape: _power_iteration, over a
    multiplicity-preserving collect_list roster.
    """

    def step(n):
        return (
            F.lit(1.0 / n),
            F.col("__r") / F.col("__deg"),
            F.lit((1.0 - damping) / n)
            + F.lit(damping) * F.coalesce(F.col("__s"), F.lit(0.0)),
        )

    return _power_iteration(
        edges, src, dst, iters, rank_col, F.collect_list, step,
        checkpoint_every, zero=F.lit(0.0),
    )


def pagerank_integer(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    iters: int = 2,
    damping_pct: int = 85,
    units: int = 10**12,
    rank_col: str = "rank_units",
    dedup_edges: bool = False,
) -> DataFrame:
    """PageRank in integer micro-units (rank ≈ rank_units / units):
    every operation is integer (floor) arithmetic — `div` in Spark,
    `//` in DuckDB — so results are bit-exact regardless of aggregation
    order and the registry query can carry a value oracle. The floor
    truncation loses < iters * n / units of total mass; at units=1e12
    that is measurement noise, and determinism is the point.

    Iteration shape: _power_iteration (see pagerank); integer
    arithmetic is order-exact, so the roster explode cannot change a
    single bit of the result.

    ``dedup_edges=True`` folds a caller's `.distinct()` INTO the roster
    aggregation (collect_set instead of collect_list): one exchange
    dedups and rosters together, where distinct-then-roster paid a
    (src, dst)-keyed exchange plus the roster exchange. Identical
    results whenever the caller would have deduped anyway (set roster
    == list roster over distinct edges, and contribution sums are
    order-exact integers); leave False to preserve edge multiplicity."""

    def step(n):
        base = (units * (100 - damping_pct) // 100) // n
        return _integer_step(
            F.lit(int(units // n)).cast("long"),
            F.lit(int(base)).cast("long"),
            damping_pct,
        )

    return _power_iteration(
        edges, src, dst, iters, rank_col,
        F.collect_set if dedup_edges else F.collect_list, step,
        zero=F.lit(0).cast("long"),
    )


def _oriented_triangles(
    edges: DataFrame, src: str, dst: str
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """Degree-ordered triangle enumeration (the standard bounded-fanout
    formulation): orient every undirected edge from its lower-(degree,
    id) endpoint to the higher one, join oriented wedges a->b, b->c,
    and close them against oriented a->c. Orientation bounds every
    node's out-degree by O(sqrt(|E|)) on any graph, so the wedge join
    never explodes on hubs — the reason this beats the naive three-way
    self-join at scale. Each triangle is found exactly once.

    Returns (und, deg, tris): the distinct undirected edges (a, b), the
    degrees (n, d), and one (x, z, y) row per triangle.
    """
    und = _undirected_edges(edges, src, dst)
    deg = (
        und.select(F.col("a").alias("n"))
        .union(und.select(F.col("b").alias("n")))
        .groupBy("n")
        .agg(F.count(F.lit(1)).alias("d"))
    )
    with_deg = (
        und.join(deg.withColumnRenamed("n", "a").withColumnRenamed("d", "da"), "a")
        .join(deg.withColumnRenamed("n", "b").withColumnRenamed("d", "db"), "b")
    )
    lower_first = (F.col("da") < F.col("db")) | (
        (F.col("da") == F.col("db")) & (F.col("a") < F.col("b"))
    )
    oriented = with_deg.select(
        F.when(lower_first, F.col("a")).otherwise(F.col("b")).alias("u"),
        F.when(lower_first, F.col("b")).otherwise(F.col("a")).alias("v"),
    )
    e1 = oriented.select(F.col("u").alias("x"), F.col("v").alias("y"))
    e2 = oriented.select(F.col("u").alias("y"), F.col("v").alias("z"))
    e3 = oriented.select(F.col("u").alias("x"), F.col("v").alias("z"))
    return und, deg, e1.join(e2, "y").join(e3, ["x", "z"])


def triangle_count(
    edges: DataFrame, src: str = "src", dst: str = "dst"
) -> DataFrame:
    """Global triangle count by degree-ordered edge orientation
    (_oriented_triangles): duplicate, reversed and self-loop edges do
    not count.

    Returns a 1-row DataFrame (n_nodes, n_edges, n_triangles).
    """
    und, deg, tris = _oriented_triangles(edges, src, dst)
    stats = und.agg(F.count(F.lit(1)).alias("n_edges")).crossJoin(
        deg.agg(F.count(F.lit(1)).alias("n_nodes"))
    )
    return stats.crossJoin(
        tris.agg(F.count(F.lit(1)).alias("n_triangles"))
    ).select("n_nodes", "n_edges", "n_triangles")


def connected_components_star(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_rounds: int = 12,
) -> DataFrame:
    """Connected components via alternating large-star / small-star
    (Kiveris et al. 2014, "Connected Components in MapReduce and
    Beyond") — converges in O(log n) ROUNDS on any graph, where the
    min-label propagation in dedup.connected_duplicate_groups needs
    O(diameter) rounds (a 10^6-node chain: ~20 vs 10^6). Each round is
    two windowed min-aggregations + a distinct; no driver state beyond
    the per-round convergence checksum.

    large-star: every node points its LARGER neighbors at the minimum
    of its neighborhood (incl. itself); small-star: every node points
    its smaller neighbors (and itself) at that minimum. At the fixed
    point the edge set IS the star (child -> component-minimum), which
    this returns as (id, group_id) labels — the same contract as
    connected_duplicate_groups, so the recursive-CTE DuckDB oracle is
    shared.

    Scale shape: both stars shuffle the CURRENT edge set once on the
    hub node (window min + emit); edge count never exceeds the input
    edge count (large-star emits only larger-neighbor edges, small-star
    only smaller-neighbor ones), and lineage is truncated with
    localCheckpoint per round.
    """
    from pyspark.sql import Window

    # materialize the (possibly expensive) pair pipeline ONCE: the
    # emptiness probe, round 1, and the final node-universe scan would
    # otherwise each recompute it (an LSH or edit-distance candidate
    # generator is far costlier than this checkpoint)
    e = truncate(_undirected_edges(pairs, id_a, id_b), eager=True)
    if e.isEmpty():
        # no non-self edges: every node (incl. self-pair-only ones) is
        # its own component — the connected_duplicate_groups contract;
        # an empty frame here would silently drop singleton labels from
        # cc_maintenance_sink's persisted state
        return (
            pairs.select(F.col(id_a).alias("id"))
            .union(pairs.select(F.col(id_b).alias("id")))
            .distinct()
            .select("id", F.col("id").alias("group_id"))
        )

    prev_sig = None
    converged = False
    for _ in range(max_rounds):
        # large-star: bidirectional neighborhoods; larger neighbors -> m
        bidir = e.select("a", "b").union(
            e.select(F.col("b").alias("a"), F.col("a").alias("b"))
        )
        w = Window.partitionBy("a")
        ls = _undirected_edges(
            bidir.withColumn(
                "m", F.least(F.col("a"), F.min("b").over(w))
            ).filter(F.col("b") > F.col("a")),
            "m",
            "b",
        )
        # small-star: orient big -> small, smaller neighbors AND self -> m
        ori = ls.select(F.col("b").alias("u"), F.col("a").alias("n"))
        wu = Window.partitionBy("u")
        with_m = ori.withColumn("m", F.min("n").over(wu))
        ss = (
            with_m.select(F.col("m").alias("a"), F.col("n").alias("b"))
            .union(with_m.select(F.col("m").alias("a"), F.col("u").alias("b")))
            .filter(F.col("a") != F.col("b"))
            .distinct()
            # lazy: the signature aggregate right below scans every
            # partition, so it materializes the checkpoint — one job
            # per star round instead of two (guide §1.2)
            .transform(truncate)
        )
        sig_row = ss.agg(
            F.count(F.lit(1)).alias("n"),
            # order-independent edge-set checksum; decimal sum of modded
            # hashes cannot overflow under ANSI arithmetic
            F.coalesce(
                F.sum(
                    (F.xxhash64(F.col("a"), F.col("b")) % F.lit(1_000_000_007))
                    .cast("decimal(38,0)")
                ),
                F.lit(0).cast("decimal(38,0)"),
            ).alias("h"),
        ).collect()[0]
        sig = (sig_row["n"], sig_row["h"])
        e = ss
        if prev_sig == sig:
            converged = True
            break
        prev_sig = sig

    labels = e.select(
        F.col("b").alias("id"), F.col("a").alias("group_id")
    ).union(
        e.select(F.col("a").alias("id")).distinct().withColumn(
            "group_id", F.col("id")
        )
    )
    if not converged:
        # max_rounds exhausted before the edge-set fixed point: the
        # star may still have multi-parent nodes, which would emit
        # duplicate ids.  Warn and resolve each id to its minimum
        # group_id — correct labels require O(log n) rounds, so this is
        # a best-effort partition, not component equality.
        import warnings

        warnings.warn(
            "connected_components_star: no fixed point within "
            f"max_rounds={max_rounds}; labels deduplicated to min "
            "group_id per node (components may be split)",
            stacklevel=2,
        )
        labels = labels.groupBy("id").agg(F.min("group_id").alias("group_id"))
    # nodes appearing ONLY in self-pairs still label themselves — the
    # connected_duplicate_groups contract, so the two engines (and the
    # shared recursive-CTE oracle) agree on the node universe
    nodes = (
        pairs.select(F.col(id_a).alias("id"))
        .union(pairs.select(F.col(id_b).alias("id")))
        .distinct()
    )
    return nodes.join(labels, "id", "left").select(
        "id", F.coalesce(F.col("group_id"), F.col("id")).alias("group_id")
    )


def local_clustering(
    edges: DataFrame, src: str = "src", dst: str = "dst"
) -> DataFrame:
    """Per-node local clustering coefficient: cc(v) = 2*t(v) /
    (d(v)*(d(v)-1)) where t(v) counts triangles through v — the
    node-level refinement of triangle_count (same degree-ordered
    orientation, so wedge fan-out stays O(sqrt(E)) per node; each
    closed triangle is found once and credited to its three corners).

    Returns (node, degree, n_triangles, clustering_coeff) for every
    node with degree >= 2; the coefficient is one IEEE division of
    exact integers rounded to 6 decimals.
    """
    _, deg, tris = _oriented_triangles(edges, src, dst)
    # ONE pass over the triangle set: exploding the corner array credits
    # all three nodes without re-executing the wedge join per corner
    # (a 3-way union of selects would run the join three times)
    per_node = (
        tris.select(
            F.explode(F.array(F.col("x"), F.col("y"), F.col("z"))).alias(
                "node"
            )
        )
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("n_triangles"))
    )
    return (
        deg.filter(F.col("d") >= 2)
        .join(per_node, deg.n == per_node.node, "left")
        .select(
            F.col("n").alias("node"),
            F.col("d").alias("degree"),
            F.coalesce(F.col("n_triangles"), F.lit(0)).alias("n_triangles"),
            F.round(
                (F.coalesce(F.col("n_triangles"), F.lit(0)) * 2).cast("double")
                / (F.col("d") * (F.col("d") - 1)),
                6,
            ).alias("clustering_coeff"),
        )
    )


def kcore(
    edges: DataFrame,
    k: int,
    src: str = "src",
    dst: str = "dst",
    rounds: int = 8,
) -> DataFrame:
    """k-core decomposition by synchronized peeling: repeatedly drop
    every node whose degree in the surviving subgraph is below ``k``
    until a fixed point. The k-core is the standard density filter for
    co-occurrence graphs (spam-farm pruning in web-crawl curation,
    dense-community extraction before entity resolution).

    Spark-first shape per round: one map-side-combined degree groupBy
    and one semi-join of the edge list against surviving nodes per
    endpoint — no driver state, no collect. Each round shrinks the edge
    set monotonically, so rounds cost less as peeling proceeds; lineage
    is truncated with localCheckpoint per round (the loop would
    otherwise triple the plan each iteration — the multiplicative-
    weights lesson, SCALING.md).

    Runs exactly ``rounds`` synchronized rounds (peeling is idempotent
    at the fixed point, so extra rounds are no-ops); tests assert
    convergence within the budget at every test scale, and the registry
    oracle unrolls the identical rounds in SQL. Peeling needs at most
    O(peel-depth) rounds — bounded by the graph's degeneracy, which for
    real co-occurrence graphs is tiny relative to size and INDEPENDENT
    of row count, so a fixed budget survives the 100 TB scale-up where
    per-node sequential peeling would not.

    Returns (node, degree) for nodes in the k-core, with degree counted
    inside the core subgraph.
    """
    # LAZY checkpoints throughout (optimization r12, guide §1.2): every
    # checkpoint here is followed immediately by a count() that scans
    # all partitions, so the count job materializes the checkpoint —
    # one job per round instead of two (materialize + count).
    cur = _undirected_edges(edges, src, dst).transform(truncate)
    n_edges = cur.count()
    for _ in range(rounds):
        deg = (
            cur.select(F.col("a").alias("n"))
            .unionByName(cur.select(F.col("b").alias("n")))
            .groupBy("n")
            .agg(F.count(F.lit(1)).alias("d"))
        )
        alive = deg.filter(F.col("d") >= k).select("n")
        cur = (
            cur.join(alive.withColumnRenamed("n", "a"), "a", "left_semi")
            .join(alive.withColumnRenamed("n", "b"), "b", "left_semi")
            .transform(truncate)
        )
        # unchanged edge count == no node dropped == fixed point; every
        # further round is the identity, so stopping early returns
        # exactly what the full (and the oracle's unrolled) budget would
        prev, n_edges = n_edges, cur.count()
        if n_edges == prev:
            break
    else:
        # budget exhausted while edges were still being peeled: the
        # surviving degrees still count edges to not-yet-peeled
        # neighbors, so the result is a SUPERSET of the true k-core
        # (mirrors connected_components_star's non-convergence warning)
        if n_edges != prev:
            import warnings

            warnings.warn(
                f"kcore: fixed point not reached within rounds={rounds} "
                f"(last round still peeled edges: {prev} -> {n_edges}); "
                "result is a superset of the true k-core — raise `rounds`",
                stacklevel=2,
            )
    final_deg = (
        cur.select(F.col("a").alias("node"))
        .unionByName(cur.select(F.col("b").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("degree"))
    )
    return final_deg.filter(F.col("degree") >= k)


def label_propagation(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    rounds: int = 4,
) -> DataFrame:
    """Synchronized mode-label propagation (community detection): every
    node starts labeled with its own id; each round it adopts the most
    frequent label among its neighbors, ties broken by the smaller
    label. Deterministic by construction (no random visit order — the
    synchronized variant), so a fixed round count is exactly
    reproducible in SQL, unlike classic asynchronous LPA.

    Communities are the standard curation lens on link graphs (domain
    clusters in a crawl, co-purchase segments) — coarser than connected
    components, finer than the whole graph.

    Scale shape (optimization r12, guide §2.4/§3.1): the graph lives as
    a persisted adjacency roster (_undirected_roster), so every round's
    roster-label join shuffles ONLY the node-sized label state. The
    per-round mode-argmax is ONE aggregation —
    mode(lbl, deterministic=true) is exactly "most frequent, ties to
    the smaller label" with map-side partial maps — where the old shape
    paid a (node, label) count exchange plus a per-node max exchange.
    Per round: one node-sized shuffle in, one aggregated shuffle out;
    no driver state; lineage truncated per round. ``rounds`` is a
    constant: LPA is used as a fixed-sweep refinement, not run to
    convergence (it may oscillate — the known two-coloring artifact).

    Returns (node, community).
    """
    adj, salts = _undirected_roster(edges, src, dst)
    labels = _roster_keys(adj, "v", salts).select(
        F.col("v").alias("node")
    ).withColumn("lbl", F.col("node"))
    for _ in range(rounds):
        neigh = adj.join(
            labels.withColumnRenamed("node", "v"), "v"
        ).select(F.explode("__us").alias("node"), "lbl")
        # LAZY per-round checkpoint (optimization r12, guide §1.2): the
        # plan is truncated immediately (LogicalRDD) but materialization
        # folds into the single _release job below — one job for the
        # whole sweep instead of one per round, the same discipline as
        # the pagerank family. Each round's state is deterministic
        # (mode(…, deterministic=true)), so lazy re-computation of a
        # partition cannot diverge.
        labels = (
            neigh.groupBy("node")
            .agg(F.mode("lbl", True).alias("lbl"))
            .transform(truncate)
        )
    out = labels.select("node", F.col("lbl").alias("community"))
    return _release(out, adj)


def wl_colors(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    rounds: int = 2,
    hash_chars: int = 16,
) -> DataFrame:
    """Weisfeiler-Lehman color refinement: node colors start as the
    degree; each round a node's color becomes
    md5(own_color | ',' joined sorted neighbor colors). After t rounds
    two nodes share a color ONLY if their t-hop neighborhoods are
    WL-indistinguishable — the standard structural-equivalence sketch,
    here used as a dedup primitive for linked records (two suppliers
    with identical co-supply neighborhoods collapse to one color
    class).

    Portable by construction: md5 + ordered string aggregation exist
    identically in Spark and ANSI/DuckDB SQL, so the registry oracle
    replays the refinement exactly. Scale shape (optimization r12,
    guide §2.4/§3.1): the graph lives as a persisted adjacency roster
    (_undirected_roster: dedup, degree AND rosters from a single
    exchange, so each round shuffles only the node-sized color state),
    and the own-color attach rides the SAME aggregation
    as the neighbor multiset via a self-row union instead of a second
    node join. The multiset sort is per-node, bounded by degree — no
    global sort; lineage truncated per round.

    Returns (node, wl_color).
    """
    adj, salts = _undirected_roster(edges, src, dst)
    colors = _roster_sizes(adj, "v", "__us", "node", "__d", salts).select(
        "node", F.col("__d").cast("string").alias("color")
    )
    for _ in range(rounds):
        neigh = adj.join(
            colors.withColumnRenamed("node", "v"), "v"
        ).select(
            F.explode("__us").alias("node"),
            F.col("color").alias("__nc"),
            F.lit(False).alias("__self"),
        )
        merged = neigh.unionByName(
            colors.select(
                "node",
                F.col("color").alias("__nc"),
                F.lit(True).alias("__self"),
            )
        )
        colors = (
            merged.groupBy("node")
            .agg(
                F.concat_ws(
                    ",",
                    F.sort_array(
                        F.collect_list(
                            F.when(~F.col("__self"), F.col("__nc"))
                        )
                    ),
                ).alias("__ns"),
                F.max(F.when(F.col("__self"), F.col("__nc"))).alias("__own"),
            )
            .select(
                "node",
                F.substring(
                    F.md5(F.concat_ws("|", "__own", "__ns")), 1, hash_chars
                ).alias("color"),
            )
            # lazy: materializes once in the _release job (see
            # label_propagation — one job per sweep, not per round);
            # colors are deterministic (sorted multiset + md5)
            .transform(truncate)
        )
    out = colors.select("node", F.col("color").alias("wl_color"))
    return _release(out, adj)


def bfs_layers(
    edges: DataFrame,
    seeds: DataFrame,
    max_depth: int = 3,
    src: str = "src",
    dst: str = "dst",
    node_col: str = "node",
) -> DataFrame:
    """Bounded-depth BFS from a seed set over an undirected edge list:
    returns (node, depth) for every node within ``max_depth`` hops,
    depth = hop distance to the NEAREST seed (seeds are depth 0). The
    reachability primitive behind influence radii, contamination
    blast-zones, and crawl frontier analysis.

    Spark-first shape (optimization r12, guide §2.4/§3.1): the graph
    lives as a persisted adjacency roster keyed on u (_undirected_roster),
    so every level's frontier-roster join shuffles only the node-sized
    frontier.
    Per level: that join, one distinct over the exploded neighbors, one
    anti-join against the visited set; lineage truncated per level.
    Level count is the constant ``max_depth`` — each level is one
    synchronized superstep, the Pregel discipline; no per-node
    recursion, no driver state.
    """
    adj, _ = _undirected_roster(edges, src, dst, "u", "v", "__vs")
    frontier = seeds.select(F.col(node_col).alias("n")).distinct()
    visited = truncate(
        frontier.withColumn("depth", F.lit(0)), eager=True
    )
    frontier = visited.select("n")
    for d in range(1, max_depth + 1):
        neighbors = (
            adj.join(
                frontier.withColumnRenamed("n", "u"),
                "u",
            )
            .select(F.explode("__vs").alias("n"))
            .distinct()
        )
        fresh = truncate(
            neighbors.join(visited.select("n"), "n", "left_anti"),
            eager=True,
        )
        if fresh.isEmpty():
            break
        # visited is a UNION of flat checkpointed levels — each level is
        # already a LogicalRDD, so the union plan stays shallow (one
        # scan per level) and nothing is recomputed. The old eager
        # checkpoint here re-wrote the ENTIRE visited set every level:
        # one extra job per level and O(|visited|) redundant writes
        # (guide §1.2 — don't re-materialize what is already
        # materialized).
        visited = visited.unionByName(fresh.withColumn("depth", F.lit(d)))
        frontier = fresh
    out = visited.select(F.col("n").alias(node_col), "depth")
    adj.unpersist()
    return out


def _hyperball_balls(
    edges: DataFrame, src: str, dst: str, rounds: int, p: int, decimals: int
) -> tuple[DataFrame, list[DataFrame]]:
    """The HyperBall register sweep shared by hyperball and
    hyperball_harmonic: every node starts with an HLL counter holding
    itself (md5-derived register index and rho), and each round folds
    in the neighbors' counters by register-wise MAX.

    Scale shape: the whole state is the (node, idx, rho) register
    table — at most nodes x 2^p rows, INDEPENDENT of ball sizes (the
    quantity being counted); each round is one roster-register join +
    one (node, idx) max, lineage truncated per round. The roster
    (_undirected_roster) makes the join input one row per node instead
    of one per (edge, register), so each round shuffles only the
    register state. The per-node estimate uses the same register/
    estimate arithmetic as operators/sketch.py (one ln).

    Returns (adj, balls): the roster, for the caller to release, and
    balls[t] for t in 0..rounds as (node, __e), the estimate of node's
    ball size after t rounds rounded to ``decimals`` as decimal(18,4).
    """
    from radient_spark.operators.sketch import hll_alpha

    m = 1 << p
    numer = hll_alpha(m) * m * m * float(1 << 50)
    adj, salts = _undirected_roster(edges, src, dst)
    h = F.conv(
        F.substring(F.md5(F.col("node").cast("string")), 1, 15), 16, 10
    ).cast("long")
    regs = (
        _roster_keys(adj, "v", salts)
        .select(F.col("v").alias("node"))
        .select(
            "node",
            (h % m).alias("idx"),
            F.when(F.shiftright(h, p) == 0, F.lit(61 - p))
            .otherwise(
                F.lit(61 - p) - F.length(F.conv(F.shiftright(h, p), 10, 2))
            )
            .alias("rho"),
        )
        # lazy (as is every per-round checkpoint below): register
        # contents are deterministic (md5-derived rho, MAX-folded), so
        # the whole sweep materializes in the caller's single _release
        # job — one job instead of one per round (guide §1.2)
        .transform(truncate)
    )

    def ball(r: DataFrame) -> DataFrame:
        folded = r.groupBy("node").agg(
            F.count(F.lit(1)).alias("n_set"),
            F.sum(F.pow(F.lit(2.0), 50 - F.col("rho")).cast("long")).alias(
                "s_set"
            ),
        )
        s_total = F.col("s_set") + (F.lit(m) - F.col("n_set")) * F.lit(1 << 50)
        zeros = F.lit(m) - F.col("n_set")
        e_raw = F.lit(numer) / s_total.cast("double")
        est = F.when(
            (e_raw <= 2.5 * m) & (zeros > 0),
            F.lit(float(m)) * F.log(F.lit(float(m)) / zeros.cast("double")),
        ).otherwise(e_raw)
        return folded.select(
            "node", F.round(est, decimals).cast("decimal(18,4)").alias("__e")
        )

    balls = [ball(regs)]
    for _ in range(rounds):
        neigh = adj.join(
            regs.withColumnRenamed("node", "v"), "v"
        ).select(F.explode("__us").alias("node"), "idx", "rho")
        regs = (
            regs.unionByName(neigh)
            .groupBy("node", "idx")
            .agg(F.max("rho").alias("rho"))
            .transform(truncate)
        )
        balls.append(ball(regs))
    return adj, balls


def hyperball(
    edges: DataFrame,
    rounds: int = 3,
    p: int = 7,
    src: str = "src",
    dst: str = "dst",
    decimals: int = 4,
) -> DataFrame:
    """HyperBall (Boldi & Vigna 2011): estimate the neighborhood
    function N(t) = number of (u, v) pairs with dist(u, v) <= t by
    giving every node an HLL counter of its ball and iterating
    register-wise MAX over neighbors — the sketch that made
    average-distance / effective-diameter computation feasible on
    billion-node graphs. Sweep and per-node estimates:
    _hyperball_balls; N(t) sums the rounded estimates through DECIMAL
    so aggregation order cannot change the hash.

    Returns one row per t in 0..rounds:
    (t, n_nodes, n_reachable_pairs_est).
    """
    adj, balls = _hyperball_balls(edges, src, dst, rounds, p, decimals)
    out = None
    for t, ball in enumerate(balls):
        n_t = ball.agg(
            F.count(F.lit(1)).cast("long").alias("n_nodes"),
            F.sum("__e").cast("double").alias("n_reachable_pairs_est"),
        ).select(F.lit(t).alias("t"), "n_nodes", "n_reachable_pairs_est")
        out = n_t if out is None else out.unionByName(n_t)
    return _release(out, adj)


def personalized_pagerank_integer(
    edges: DataFrame,
    seed_node: int,
    src: str = "src",
    dst: str = "dst",
    iters: int = 3,
    damping_pct: int = 85,
    units: int = 10**12,
    rank_col: str = "rank_units",
    dedup_edges: bool = False,
) -> DataFrame:
    """Personalized PageRank (random walk with restart) in integer
    micro-units: all restart mass returns to ONE seed node, so ranks
    measure proximity TO THE SEED — the classic recommendation /
    related-entities primitive (SimRank-lite without the pairwise
    blowup). Same floor-division arithmetic as pagerank_integer, so
    results are bit-exact in any aggregation order and the unrolled
    DuckDB CTE is a value oracle.

    Scale: the same _power_iteration loop as pagerank_integer; the
    personalization changes only the initial rank and the restart
    term, neither of which needs the node count, so no count job runs
    (and an empty edge list returns an empty frame through the loop).
    ``dedup_edges``: see pagerank_integer."""
    seed = F.col("node") == seed_node

    def step(_n):
        return _integer_step(
            F.when(seed, F.lit(int(units))).otherwise(F.lit(0)).cast("long"),
            F.when(seed, F.lit(int(units * (100 - damping_pct) // 100)))
            .otherwise(F.lit(0))
            .cast("long"),
            damping_pct,
        )

    return _power_iteration(
        edges, src, dst, iters, rank_col,
        F.collect_set if dedup_edges else F.collect_list, step,
    )


def hyperball_harmonic(
    edges: DataFrame,
    rounds: int = 3,
    p: int = 7,
    src: str = "src",
    dst: str = "dst",
    decimals: int = 4,
) -> DataFrame:
    """Harmonic centrality estimated from HyperBall counters: for every
    node, sum (|B(t)| - |B(t-1)|) / t over t = 1..rounds — each new
    node reached at distance t contributes 1/t. The centrality ranking
    a billion-node graph cannot get from per-node BFS; same sweep and
    bounded register state as hyperball (_hyperball_balls).

    Exact-integer contract: per-(node, t) ball estimates land on the
    10^-decimals lattice as longs; deltas multiply by lcm(1..rounds)/t
    so the harmonic sum stays integer. Returns
    (node, harmonic_lattice) where harmonic ~ harmonic_lattice /
    (10^decimals * lcm(1..rounds)).
    """
    import math

    lcm = math.lcm(*range(1, rounds + 1))
    adj, balls = _hyperball_balls(edges, src, dst, rounds, p, decimals)
    joined = None
    for t, ball in enumerate(balls):
        lat = ball.select(
            "node",
            (F.col("__e") * F.lit(10**decimals)).cast("long").alias(f"e{t}"),
        )
        joined = lat if joined is None else joined.join(lat, "node")
    harm = None
    for t in range(1, rounds + 1):
        term = (F.col(f"e{t}") - F.col(f"e{t - 1}")) * F.lit(lcm // t)
        harm = term if harm is None else harm + term
    out = joined.select("node", harm.cast("long").alias("harmonic_lattice"))
    return _release(out, adj)
