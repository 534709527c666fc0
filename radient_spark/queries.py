"""Query registry: every implemented operator exposed as
(spark, sf_dir) -> DataFrame plus a DuckDB oracle SQL string.

Determinism contract with the oracle (driver hash-compares values):
- Double-typed SUM/AVG aggregates go through DECIMAL(18,6): the
  double->decimal cast is order-independent and bit-identical in both
  engines, the decimal sum is exact, and the final cast back to double is
  deterministic. (Plain double sums differ in the last bits between Spark's
  partial-aggregation order and DuckDB's sequential order.)
- Vector scores are sequential-fold double sums rounded to 6 decimals on
  both sides; ordering uses the *rounded* score plus an id tiebreak.
- Window/top-k orderings always carry a unique-id tiebreak.
- Portable hashes are md5-derived integers (identical in Spark and DuckDB).
"""

from __future__ import annotations

import math
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from radient_spark.catalog import _WIDEN_MAX_BYTES, load_tables, register_views
from radient_spark.functions import vector as V
from radient_spark.operators import dedup as D
from radient_spark.operators.asof import asof_join
from radient_spark.operators.topk import knn_join, similarity_self_join, topk
from radient_spark.session import local_frame

# ---------------------------------------------------------------------------
# helpers

MINHASH_P = D.MINHASH_P


def dsum(col, alias: str):
    """Order-independent double sum via exact DECIMAL(18,6) accumulation."""
    return F.sum(col.cast("decimal(18,6)")).cast("double").alias(alias)


def davg(col, alias: str):
    """avg = exact decimal sum / count — deterministic double division."""
    return (
        F.sum(col.cast("decimal(18,6)")).cast("double") / F.count(F.lit(1))
    ).alias(alias)


# Fixed deterministic 64-dim query vector, embedded identically in the
# Spark plan and the oracle SQL literal.
QUERY_VEC = [round(math.sin(0.7 * i) * 0.5, 6) for i in range(64)]
_QV_SQL = "[" + ", ".join(repr(x) for x in QUERY_VEC) + "]::DOUBLE[]"

def _widen_narrow_scan(df: DataFrame) -> DataFrame:
    """Round-robin-widen a scan that arrives in fewer splits than cores.

    Tiny-SF parquet ships as a single row group, so Spark cannot split
    it and every per-row expression upstream of the first exchange runs
    on one core. For CPU-heavy row-local pipelines (MinHash/SimHash
    signatures, SRP codes, tokenize+explode) a cheap repartition of the
    RAW rows first moves the expensive expressions behind a 32-way
    exchange. Guarded: at real scale the scan already has >= cores
    splits and this is a no-op — the shuffle exists only in the
    degenerate small-split case, so the at-scale plan keeps signatures
    shuffle-free (the test_plans pin on q_minhash_signatures is on the
    un-widened pipeline). Pointless for shuffle-immediate pipelines
    (joins/aggs): the added exchange's map side would be the same
    narrow scan.

    Double guard (round-8 ADVICE): split count alone is not enough —
    on a large cluster cores can exceed the split count of a
    well-compacted medium table, and a blind repartition would inject
    a full-table exchange of raw text. So the widen also requires the
    optimizer's size estimate to be under _WIDEN_MAX_BYTES (a few
    row-group-sized files): anything bigger already parallelizes via
    spark.sql.files.maxPartitionBytes splitting, making this strictly
    a tiny-input shim that is provably absent from at-scale plans."""
    if df.isStreaming:
        return df
    p = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() >= p:
        return df
    try:
        size = _plan_size_bytes(df)
    except Exception:
        # Stats unavailable (e.g. Spark Connect, private-API drift):
        # fail CLOSED — the widen is strictly a tiny-input shim, so
        # without a size proof we must not inject a full-table exchange
        # of raw text on what may be a large compacted table.
        return df
    if size > _WIDEN_MAX_BYTES:
        return df
    return df.repartition(p)


def _plan_size_bytes(df: DataFrame) -> int:
    """Catalyst's size estimate for df's optimized plan (private API;
    callers treat any failure as 'unknown' and skip the widen)."""
    return int(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())


def _disc_price():
    return F.col("l_extendedprice") * (1 - F.col("l_discount"))


def _charge():
    return _disc_price() * (1 + F.col("l_tax"))


# ---------------------------------------------------------------------------
# Relational suite (SURVEY.md §2.7): scan -> filter -> agg -> sort, joins,
# windows, rollup, set ops, anti joins, histograms, sessionization, as-of.


def q01_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1 shape: filter + hash-agg + sort, all Catalyst built-ins.
    Filter and column pruning push into the parquet scan."""
    li = load_tables(spark, sf_dir)["lineitem"]
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            dsum(F.col("l_quantity"), "sum_qty"),
            dsum(F.col("l_extendedprice"), "sum_base_price"),
            dsum(_disc_price(), "sum_disc_price"),
            dsum(_charge(), "sum_charge"),
            davg(F.col("l_quantity"), "avg_qty"),
            davg(F.col("l_extendedprice"), "avg_price"),
            davg(F.col("l_discount"), "avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


_Q01_SQL = """
SELECT l_returnflag, l_linestatus,
  CAST(SUM(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE) AS sum_qty,
  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,6))) AS DOUBLE) AS sum_base_price,
  CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))) AS DOUBLE) AS sum_disc_price,
  CAST(SUM(CAST(l_extendedprice * (1 - l_discount) * (1 + l_tax) AS DECIMAL(18,6))) AS DOUBLE) AS sum_charge,
  CAST(SUM(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*) AS avg_qty,
  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*) AS avg_price,
  CAST(SUM(CAST(l_discount AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*) AS avg_disc,
  COUNT(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
GROUP BY l_returnflag, l_linestatus
"""


def q03_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """3-way join + agg + deterministic top-10. Customer side is broadcast
    (small dim); orders/lineitem filters push to the scans."""
    t = load_tables(spark, sf_dir)
    cutoff = F.lit("1998-03-15").cast("timestamp")
    cust = t["customer"].filter(F.col("c_mktsegment") == "BUILDING")
    orders = t["orders"].filter(F.col("o_orderdate") < cutoff)
    li = t["lineitem"].filter(F.col("l_shipdate") > cutoff)
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .groupBy("l_orderkey", "o_orderdate")
        .agg(dsum(_disc_price(), "revenue"))
        .orderBy(F.col("revenue").desc(), F.col("l_orderkey").asc())
        .limit(10)
    )


_Q03_SQL = """
SELECT l_orderkey, o_orderdate,
  CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))) AS DOUBLE) AS revenue
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
WHERE c_mktsegment = 'BUILDING'
  AND o_orderdate < TIMESTAMP '1998-03-15 00:00:00'
  AND l_shipdate > TIMESTAMP '1998-03-15 00:00:00'
GROUP BY l_orderkey, o_orderdate
ORDER BY revenue DESC, l_orderkey ASC
LIMIT 10
"""


def q05_regional_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 shape: 6-way star join; all dimension sides broadcast so the
    only shuffle is the final groupBy on 25 nations."""
    t = load_tables(spark, sf_dir)
    asia = (
        t["nation"]
        .join(F.broadcast(t["region"].filter(F.col("r_name") == "ASIA")),
              F.col("n_regionkey") == F.col("r_regionkey"))
        .select("n_nationkey", "n_name")
    )
    orders = t["orders"].filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp"))
    )
    li = t["lineitem"]
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(t["customer"]), F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(t["supplier"]), li.l_suppkey == F.col("s_suppkey"))
        .filter(F.col("c_nationkey") == F.col("s_nationkey"))
        .join(F.broadcast(asia), F.col("s_nationkey") == F.col("n_nationkey"))
        .groupBy("n_name")
        .agg(dsum(_disc_price(), "revenue"))
    )


_Q05_SQL = """
SELECT n_name,
  CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))) AS DOUBLE) AS revenue
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation ON s_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
WHERE r_name = 'ASIA' AND c_nationkey = s_nationkey
  AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
GROUP BY n_name
"""


def q_customers_inactive_1995(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Anti join (NOT EXISTS): customers with no 1995 order, per nation."""
    t = load_tables(spark, sf_dir)
    orders95 = t["orders"].filter(
        (F.col("o_orderdate") >= F.lit("1995-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1996-01-01").cast("timestamp"))
    )
    return (
        t["customer"]
        .join(orders95, F.col("c_custkey") == F.col("o_custkey"), "left_anti")
        .join(F.broadcast(t["nation"]), F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy("n_name")
        .agg(F.count(F.lit(1)).alias("n_customers"))
    )


_Q_INACTIVE_SQL = """
SELECT n_name, COUNT(*) AS n_customers
FROM customer JOIN nation ON c_nationkey = n_nationkey
WHERE NOT EXISTS (
  SELECT 1 FROM orders
  WHERE o_custkey = c_custkey
    AND o_orderdate >= TIMESTAMP '1995-01-01 00:00:00'
    AND o_orderdate < TIMESTAMP '1996-01-01 00:00:00'
)
GROUP BY n_name
"""


def q_repeat_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Set op (INTERSECT): customers ordering in both 1996 and 1997."""
    orders = load_tables(spark, sf_dir)["orders"]

    def in_year(y: int) -> DataFrame:
        return (
            orders.filter(F.year("o_orderdate") == y)
            .select(F.col("o_custkey").alias("custkey"))
            .distinct()
        )

    return in_year(1996).intersect(in_year(1997))


_Q_REPEAT_SQL = """
SELECT DISTINCT o_custkey AS custkey FROM orders WHERE year(o_orderdate) = 1996
INTERSECT
SELECT DISTINCT o_custkey AS custkey FROM orders WHERE year(o_orderdate) = 1997
"""


def q_top3_orders_per_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ranking window: each customer's 3 largest orders. Raw doubles are
    compared/bit-copied, never re-aggregated, so no decimal dance needed."""
    orders = load_tables(spark, sf_dir)["orders"]
    w = Window.partitionBy("o_custkey").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey").asc()
    )
    return (
        orders.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select("o_custkey", "o_orderkey", "o_totalprice", "rn")
    )


_Q_TOP3_SQL = """
SELECT o_custkey, o_orderkey, o_totalprice, rn FROM (
  SELECT o_custkey, o_orderkey, o_totalprice,
    ROW_NUMBER() OVER (PARTITION BY o_custkey
                       ORDER BY o_totalprice DESC, o_orderkey ASC) AS rn
  FROM orders
) WHERE rn <= 3
"""


def q_rollup_returns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP grouping sets over (returnflag, linestatus)."""
    li = load_tables(spark, sf_dir)["lineitem"]
    return li.rollup("l_returnflag", "l_linestatus").agg(
        F.count(F.lit(1)).alias("n_items"),
        dsum(F.col("l_quantity"), "sum_qty"),
    )


_Q_ROLLUP_SQL = """
SELECT l_returnflag, l_linestatus, COUNT(*) AS n_items,
  CAST(SUM(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE) AS sum_qty
FROM lineitem
GROUP BY ROLLUP (l_returnflag, l_linestatus)
"""


def q_monthly_revenue_momentum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Analytic window (lag): month-over-month revenue delta."""
    orders = load_tables(spark, sf_dir)["orders"]
    monthly = (
        orders.groupBy(F.date_trunc("month", "o_orderdate").alias("month"))
        .agg(dsum(F.col("o_totalprice"), "revenue"))
    )
    w = Window.orderBy("month")
    return (
        monthly.withColumn("prev_revenue", F.lag("revenue").over(w))
        .withColumn("delta", F.col("revenue") - F.col("prev_revenue"))
    )


_Q_MOM_SQL = """
WITH monthly AS (
  SELECT CAST(date_trunc('month', o_orderdate) AS TIMESTAMP) AS month,
    CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE) AS revenue
  FROM orders GROUP BY 1
)
SELECT month, revenue,
  LAG(revenue) OVER (ORDER BY month) AS prev_revenue,
  revenue - LAG(revenue) OVER (ORDER BY month) AS delta
FROM monthly
"""


def q_price_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bucketed histogram of order value — width 50k."""
    orders = load_tables(spark, sf_dir)["orders"]
    return (
        orders.withColumn(
            "bucket", F.floor(F.col("o_totalprice") / F.lit(50000.0)).cast("long")
        )
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.min("o_totalprice").alias("min_price"),
            F.max("o_totalprice").alias("max_price"),
        )
    )


_Q_HIST_SQL = """
SELECT CAST(FLOOR(o_totalprice / 50000.0) AS BIGINT) AS bucket,
  COUNT(*) AS n_orders, MIN(o_totalprice) AS min_price, MAX(o_totalprice) AS max_price
FROM orders GROUP BY 1
"""


def q_events_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-bucketed aggregation over the event stream table (the batch
    shape of a tumbling-window streaming agg)."""
    ev = load_tables(spark, sf_dir)["events"]
    return (
        ev.groupBy(
            F.date_trunc("hour", "ts").alias("hour"),
            F.col("event_type"),
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            dsum(F.col("value"), "sum_value"),
            davg(F.col("value"), "avg_value"),
        )
    )


_Q_EVENTS_HOURLY_SQL = """
SELECT date_trunc('hour', ts) AS hour, event_type, COUNT(*) AS n_events,
  CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value,
  CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*) AS avg_value
FROM events GROUP BY 1, 2
"""


def q_user_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sessionization via lag + gap flag (30-minute inactivity gap) — the
    batch equivalent of a session window."""
    ev = load_tables(spark, sf_dir)["events"]
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    flagged = ev.withColumn("prev_ts", F.lag("ts").over(w)).withColumn(
        "new_session",
        F.when(
            F.col("prev_ts").isNull()
            | (F.col("ts") > F.col("prev_ts") + F.expr("INTERVAL 30 MINUTES")),
            1,
        ).otherwise(0),
    )
    return flagged.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum("new_session").alias("n_sessions"),
    )


_Q_SESSIONS_SQL = """
WITH flagged AS (
  SELECT user_id,
    CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
           OR ts > lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                   + INTERVAL 30 MINUTE
         THEN 1 ELSE 0 END AS new_session
  FROM events
)
SELECT user_id, COUNT(*) AS n_events,
  CAST(SUM(new_session) AS BIGINT) AS n_sessions
FROM flagged GROUP BY user_id
"""


def q_asof_purchase_click(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join: each purchase matched to the user's latest click at or
    before the purchase time (operators/asof.py — one shuffle, no range
    explosion)."""
    ev = load_tables(spark, sf_dir)["events"]
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        F.col("user_id"),
        F.col("event_id").alias("purchase_id"),
        F.col("ts").alias("purchase_ts"),
    )
    clicks = (
        ev.filter(F.col("event_type") == "click")
        .groupBy("user_id", "ts")
        .agg(
            F.max("event_id").alias("click_id"),
            F.max("value").alias("click_value"),
        )
    )
    return asof_join(
        purchases,
        clicks,
        on="user_id",
        left_ts="purchase_ts",
        right_ts="ts",
        payload_cols=["click_id", "click_value"],
    )


_Q_ASOF_SQL = """
WITH p AS (
  SELECT user_id, event_id AS purchase_id, ts AS purchase_ts
  FROM events WHERE event_type = 'purchase'
), c AS (
  SELECT user_id, ts, MAX(event_id) AS click_id, MAX(value) AS click_value
  FROM events WHERE event_type = 'click' GROUP BY user_id, ts
)
SELECT p.user_id, p.purchase_id, p.purchase_ts, c.click_id, c.click_value
FROM p ASOF LEFT JOIN c ON p.user_id = c.user_id AND p.purchase_ts >= c.ts
"""


def q_orders_above_segment_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decorrelated scalar subquery: orders above their segment's average
    price. The per-segment aggregate (5 rows) is broadcast back."""
    t = load_tables(spark, sf_dir)
    o = t["orders"].join(
        F.broadcast(t["customer"].select("c_custkey", "c_mktsegment")),
        F.col("o_custkey") == F.col("c_custkey"),
    )
    seg = o.groupBy("c_mktsegment").agg(
        davg(F.col("o_totalprice"), "seg_avg"),
        F.count(F.lit(1)).alias("n_orders"),
    )
    above = (
        o.join(F.broadcast(seg.select("c_mktsegment", "seg_avg")), "c_mktsegment")
        .filter(F.col("o_totalprice") > F.col("seg_avg"))
        .groupBy("c_mktsegment")
        .agg(F.count(F.lit(1)).alias("n_above"))
    )
    return seg.join(above, "c_mktsegment").select(
        "c_mktsegment", "n_orders", "n_above", "seg_avg"
    )


_Q_ABOVE_AVG_SQL = """
WITH o AS (
  SELECT o_totalprice, c_mktsegment FROM orders
  JOIN customer ON o_custkey = c_custkey
), seg AS (
  SELECT c_mktsegment,
    CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*) AS seg_avg,
    COUNT(*) AS n_orders
  FROM o GROUP BY c_mktsegment
)
SELECT seg.c_mktsegment, n_orders,
  (SELECT COUNT(*) FROM o WHERE o.c_mktsegment = seg.c_mktsegment
     AND o.o_totalprice > seg.seg_avg) AS n_above,
  seg_avg
FROM seg
"""


# ---------------------------------------------------------------------------
# Vector suite: top-k search, kNN join, similarity self-join.


def q_vec_topk_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact cosine top-10 for a fixed query vector. Plan compiles to
    TakeOrderedAndProject — per-partition bounded heap, no full sort."""
    emb = load_tables(spark, sf_dir)["embeddings"]
    return topk(
        emb.select("vec_id", "label", "embedding"),
        vec_col="embedding",
        query=QUERY_VEC,
        k=10,
        metric="cosine",
        score_col="score",
        tiebreak="vec_id",
    ).drop("embedding")


_Q_VEC_TOPK_SQL = f"""
SELECT vec_id, label,
  round(list_dot_product(embedding::DOUBLE[], {_QV_SQL})
        / (sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]))
           * sqrt(list_dot_product({_QV_SQL}, {_QV_SQL}))), 6) AS score
FROM embeddings
ORDER BY score DESC, vec_id ASC
LIMIT 10
"""


def q_vec_nearest_neighbor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Self kNN join (k=1): every vector's nearest other vector by cosine.
    The exact O(n^2) baseline for the LSH scale path.

    Routed through the bipartite block GEMM (`knn_join_blocked`) rather
    than the broadcast-contract `knn_join`: for a SELF join the query side
    is the corpus itself, so collecting it to the driver just to
    re-broadcast it is a pure round-trip — the blocked path keeps both
    sides as DataFrames with zero driver involvement."""
    from radient_spark.operators.topk import knn_join_blocked

    emb = load_tables(spark, sf_dir)["embeddings"].select("vec_id", "embedding")
    queries = emb.select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qvec")
    )
    nn = knn_join_blocked(
        corpus=emb,
        queries=queries,
        corpus_vec="embedding",
        query_vec="qvec",
        k=2,  # top-2 then drop self (score 1.0 with itself)
        metric="cosine",
        query_id="qid",
        corpus_id="vec_id",
        score_col="nn_score",
        corpus_blocks=4,
        query_blocks=2,
    )
    return (
        nn.filter(F.col("vec_id") != F.col("qid"))
        .withColumn(
            "rn",
            F.row_number().over(
                Window.partitionBy("qid").orderBy(
                    F.col("nn_score").desc(), F.col("vec_id").asc()
                )
            ),
        )
        .filter(F.col("rn") == 1)
        .select(F.col("qid").alias("vec_id"), F.col("vec_id").alias("nn_id"), "nn_score")
    )


_Q_VEC_NN_SQL = """
WITH pairs AS (
  SELECT a.vec_id AS vec_id, b.vec_id AS nn_id,
    round(list_dot_product(a.embedding::DOUBLE[], b.embedding::DOUBLE[])
          / (sqrt(list_dot_product(a.embedding::DOUBLE[], a.embedding::DOUBLE[]))
             * sqrt(list_dot_product(b.embedding::DOUBLE[], b.embedding::DOUBLE[]))), 4) AS nn_score
  FROM embeddings a JOIN embeddings b ON a.vec_id <> b.vec_id
)
SELECT vec_id, nn_id, nn_score FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id
                               ORDER BY nn_score DESC, nn_id ASC) AS rn
  FROM pairs
) WHERE rn = 1
"""


def q_vec_knn_blocked(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact k-NN self-join via the bipartite block GEMM
    (knn_join_blocked): both sides are DataFrames, nothing touches the
    driver — the scale path when queries are themselves a table. Top-3
    neighbors (incl. self) per embedding."""
    from radient_spark.operators.topk import knn_join_blocked

    emb = load_tables(spark, sf_dir)["embeddings"]
    corpus = emb.select(F.col("vec_id").alias("id"), F.col("embedding").alias("vec"))
    queries = emb.select(F.col("vec_id").alias("qid"), F.col("embedding").alias("vec"))
    return knn_join_blocked(
        corpus, queries, k=3, corpus_blocks=4, query_blocks=2
    )


_Q_VEC_KNN_BLOCKED_SQL = """
WITH pairs AS (
  SELECT c.vec_id AS id, q.vec_id AS qid,
    round(list_dot_product(c.embedding::DOUBLE[], q.embedding::DOUBLE[])
          / (sqrt(list_dot_product(c.embedding::DOUBLE[], c.embedding::DOUBLE[]))
             * sqrt(list_dot_product(q.embedding::DOUBLE[], q.embedding::DOUBLE[]))), 4) AS score
  FROM embeddings q CROSS JOIN embeddings c
)
SELECT id, qid, score FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY qid ORDER BY score DESC, id ASC) AS rn
  FROM pairs
) WHERE rn <= 3
"""


def q_vec_similar_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Similarity self-join: all pairs with cosine >= 0.4 (embedding-space
    near-duplicate detection, exact baseline)."""
    emb = load_tables(spark, sf_dir)["embeddings"]
    return similarity_self_join(
        emb, vec_col="embedding", id_col="vec_id", threshold=0.4, metric="cosine"
    )


def _vec_pairs_sql(threshold: float) -> str:
    sim = (
        "round(list_dot_product(a.embedding::DOUBLE[], b.embedding::DOUBLE[])"
        " / (sqrt(list_dot_product(a.embedding::DOUBLE[], a.embedding::DOUBLE[]))"
        " * sqrt(list_dot_product(b.embedding::DOUBLE[], b.embedding::DOUBLE[]))), 4)"
    )
    return f"""
SELECT a.vec_id AS id_a, b.vec_id AS id_b, {sim} AS score
FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
WHERE {sim} >= {threshold}
"""


_Q_VEC_PAIRS_SQL = _vec_pairs_sql(0.4)


# ---------------------------------------------------------------------------
# Text-analysis + dedup suite (LLM-data-pipeline north-star ops).


def q_doc_stats_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source token/char statistics — whitespace tokenization as a
    Catalyst expression (functions/text.py)."""
    docs = load_tables(spark, sf_dir)["documents"]
    tok_n = F.size(F.split(F.trim(F.col("text")), r"\s+"))
    return (
        docs.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(tok_n.cast("long")).alias("total_tokens"),
            F.sum(F.col("n_chars")).alias("total_chars"),
            (
                F.sum(F.col("n_chars")).cast("double") / F.count(F.lit(1))
            ).alias("avg_chars"),
        )
    )


_Q_DOC_STATS_SQL = r"""
SELECT source, COUNT(*) AS n_docs,
  CAST(SUM(len(regexp_split_to_array(trim(text), '\s+'))) AS BIGINT) AS total_tokens,
  CAST(SUM(n_chars) AS BIGINT) AS total_chars,
  CAST(SUM(n_chars) AS DOUBLE) / COUNT(*) AS avg_chars
FROM documents GROUP BY source
"""


def q_token_frequencies(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 tokens corpus-wide: explode -> hash-agg -> top-k."""
    docs = load_tables(spark, sf_dir)["documents"]
    return (
        docs.select(
            F.explode(F.split(F.trim(F.col("text")), r"\s+")).alias("token")
        )
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("freq"))
        .orderBy(F.col("freq").desc(), F.col("token").asc())
        .limit(20)
    )


_Q_TOKEN_FREQ_SQL = r"""
SELECT token, COUNT(*) AS freq
FROM (SELECT unnest(regexp_split_to_array(trim(text), '\s+')) AS token FROM documents)
GROUP BY token ORDER BY freq DESC, token ASC LIMIT 20
"""


def q_lang_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language breakdown with distinct-source counts."""
    docs = load_tables(spark, sf_dir)["documents"]
    return docs.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.countDistinct("source").alias("n_sources"),
        F.sum("n_chars").alias("total_chars"),
    )


_Q_LANG_SQL = """
SELECT lang, COUNT(*) AS n_docs, COUNT(DISTINCT source) AS n_sources,
  CAST(SUM(n_chars) AS BIGINT) AS total_chars
FROM documents GROUP BY lang
"""


def q_exact_dedup_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-dup accounting per source: docs vs distinct texts. The shuffle
    carries md5 keys, not document bodies."""
    docs = load_tables(spark, sf_dir)["documents"]
    return docs.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.countDistinct(F.md5("text")).alias("n_distinct"),
        (F.count(F.lit(1)) - F.countDistinct(F.md5("text"))).alias("n_dup_docs"),
    )


_Q_DEDUP_REPORT_SQL = """
SELECT source, COUNT(*) AS n_docs, COUNT(DISTINCT md5(text)) AS n_distinct,
  COUNT(*) - COUNT(DISTINCT md5(text)) AS n_dup_docs
FROM documents GROUP BY source
"""


def q_minhash_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash signature (8 perms, 3-word shingles) per document, as a
    joined string. Pure Catalyst HOFs — no explode, no shuffle; DuckDB
    reproduces the md5-derived hashes bit-for-bit."""
    docs = load_tables(spark, sf_dir)["documents"]
    sigs = D.with_minhash(
        docs.filter(F.length(F.trim("text")) > 0),
        text_col="text",
        num_hashes=8,
        shingle_k=3,
        out_col="sig",
    )
    return sigs.select(
        "doc_id",
        F.array_join(
            F.transform(F.col("sig"), lambda x: x.cast("string")), "_"
        ).alias("minhash_sig"),
    )


def _minhash_sql(num_hashes: int = 8) -> str:
    params = D.hash_params(num_hashes)
    mins = ",\n    ".join(
        f"COALESCE(list_aggregate(list_transform(hs, x -> ({a} * x + {b}) % {MINHASH_P}), 'min'), {MINHASH_P})"
        for a, b in params
    )
    return rf"""
WITH tk AS (
  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS toks
  FROM documents WHERE length(trim(text)) > 0
), sh AS (
  SELECT doc_id,
    CASE WHEN len(toks) < 3 THEN [array_to_string(toks, ' ')]
         ELSE list_transform(generate_series(1, len(toks) - 2),
                             i -> array_to_string(toks[i:i+2], ' '))
    END AS shingles
  FROM tk
), h AS (
  SELECT doc_id,
    list_transform(shingles,
                   s -> ('0x' || substring(md5(s), 1, 8))::BIGINT % {MINHASH_P}) AS hs
  FROM sh
)
SELECT doc_id,
  array_to_string(list_transform([
    {mins}
  ], v -> CAST(v AS VARCHAR)), '_') AS minhash_sig
FROM h
"""


def q_simhash_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """32-bit SimHash fingerprint per document (token-hash bit majority)."""
    docs = load_tables(spark, sf_dir)["documents"]
    return D.with_simhash(
        docs.filter(F.length(F.trim("text")) > 0),
        text_col="text",
        n_bits=32,
        out_col="simhash32",
    ).select("doc_id", "simhash32")


_Q_SIMHASH_SQL = r"""
WITH tk AS (
  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS toks
  FROM documents WHERE length(trim(text)) > 0
), h AS (
  SELECT doc_id,
    list_transform(toks, t -> ('0x' || substring(md5(t), 1, 8))::BIGINT) AS hs
  FROM tk
)
SELECT doc_id,
  CAST(list_sum(list_transform(generate_series(0, 31), b ->
    CASE WHEN list_sum(list_transform(hs,
           x -> CASE WHEN (x >> b) & 1 = 1 THEN 1 ELSE -1 END)) > 0
         THEN (1::BIGINT << b) ELSE 0 END)) AS BIGINT) AS simhash32
FROM h
"""


def q_minhash_dup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-duplicate candidate pairs via LSH banding (16 perms, 4 bands),
    verified by signature-estimated Jaccard >= 0.5. The scale path for
    document dedup: the only shuffle carries (id, band_key) pairs.

    Fully oracle-checked: the banding + estimate is portable md5
    arithmetic, so the DuckDB oracle reproduces it hash-for-hash
    (_minhash_dup_pairs_sql).
    """
    return _minhash_pairs_from(load_tables(spark, sf_dir)["documents"])


def _minhash_pairs_from(docs: DataFrame) -> DataFrame:
    """q_minhash_dup_pairs' pipeline over an arbitrary documents
    DataFrame (the strategy scorecard calls it on a sample)."""
    # One signature computation, cached: the banding branch and both sides
    # of the verify join read the same in-memory signatures.
    sigs = D.with_minhash(
        _widen_narrow_scan(
            docs.filter(F.length(F.trim("text")) > 0).select("doc_id", "text")
        ),
        text_col="text",
        num_hashes=16,
        shingle_k=3,
        out_col="sig",
    ).select("doc_id", "sig").cache()
    pairs = D.lsh_pairs_from_signatures(
        sigs, id_col="doc_id", sig_col="sig", bands=4, num_hashes=16
    )
    a = sigs.select(F.col("doc_id").alias("id_a"), F.col("sig").alias("sig_a"))
    b = sigs.select(F.col("doc_id").alias("id_b"), F.col("sig").alias("sig_b"))
    return (
        pairs.join(a, "id_a")
        .join(b, "id_b")
        .withColumn("est_jaccard", F.round(D.minhash_jaccard_estimate("sig_a", "sig_b"), 6))
        .filter(F.col("est_jaccard") >= 0.5)
        .select("id_a", "id_b", "est_jaccard")
    )


# ---------------------------------------------------------------------------
# Batch 2: vectorizer/dedup operators with oracles, string/JSON/date
# functions, cube, semi join, language ID, FastRP + media pipelines.


def q_hashing_vectorizer_slots(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hashing count-vectorizer (operators/vectorize.py) verified slot by
    slot: posexplode the vector, keep nonzero counts."""
    from radient_spark.operators.vectorize import hashing_vectorizer

    docs = load_tables(spark, sf_dir)["documents"]
    vecs = hashing_vectorizer(docs.select("doc_id", "text"), dim=32, out_col="vec")
    return (
        vecs.select("doc_id", F.posexplode("vec").alias("slot", "cnt"))
        .filter(F.col("cnt") > 0)
        .select("doc_id", "slot", F.col("cnt").cast("long").alias("cnt"))
    )


_Q_HASHVEC_SQL = rf"""
SELECT doc_id, slot, COUNT(*) AS cnt FROM (
  SELECT doc_id,
    CAST(('0x' || substring(md5(unnest(regexp_split_to_array(trim(text), '\s+'))), 1, 8))::BIGINT % 32 AS INT) AS slot
  FROM documents WHERE length(trim(text)) > 0
) GROUP BY doc_id, slot
"""


def q_quality_filter_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style heuristic quality gate: per source, how many docs
    pass ALL rules vs fail each rule — word-count bounds, mean word
    length bounds, and symbol-to-word ratio (the standard pretraining
    corpus filter battery, pure Catalyst). Oracle-checked rule by rule."""
    docs = load_tables(spark, sf_dir)["documents"].filter(
        F.length(F.trim("text")) > 0
    )
    toks = F.split(F.trim("text"), r"\s+")
    n_words = F.size(toks)
    mean_wlen = F.aggregate(
        toks, F.lit(0.0), lambda a, t: a + F.length(t)
    ) / n_words
    n_symbols = F.size(F.split("text", r"[#\.]")) - 1
    scored = docs.select(
        "source",
        (n_words >= 5).alias("r_min_words"),
        (n_words <= 1000).alias("r_max_words"),
        ((mean_wlen >= 2) & (mean_wlen <= 12)).alias("r_word_len"),
        ((n_symbols / n_words) <= 0.1).alias("r_symbol_ratio"),
    )
    return scored.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(
            (
                F.col("r_min_words")
                & F.col("r_max_words")
                & F.col("r_word_len")
                & F.col("r_symbol_ratio")
            ).cast("long")
        ).alias("n_pass"),
        F.sum((~F.col("r_min_words")).cast("long")).alias("f_min_words"),
        F.sum((~F.col("r_max_words")).cast("long")).alias("f_max_words"),
        F.sum((~F.col("r_word_len")).cast("long")).alias("f_word_len"),
        F.sum((~F.col("r_symbol_ratio")).cast("long")).alias("f_symbol_ratio"),
    )


_Q_QUALITY_FILTER_SQL = r"""
WITH t AS (
  SELECT source,
    regexp_split_to_array(trim(text), '\s+') AS toks,
    len(str_split_regex(text, '[#\.]')) - 1 AS n_symbols
  FROM documents WHERE length(trim(text)) > 0
), scored AS (
  SELECT source,
    len(toks) >= 5 AS r_min_words,
    len(toks) <= 1000 AS r_max_words,
    list_sum(list_transform(toks, x -> length(x)))::DOUBLE / len(toks)
      BETWEEN 2 AND 12 AS r_word_len,
    n_symbols::DOUBLE / len(toks) <= 0.1 AS r_symbol_ratio
  FROM t
)
SELECT source, COUNT(*) AS n_docs,
  CAST(SUM((r_min_words AND r_max_words AND r_word_len AND r_symbol_ratio)::BIGINT) AS BIGINT) AS n_pass,
  CAST(SUM((NOT r_min_words)::BIGINT) AS BIGINT) AS f_min_words,
  CAST(SUM((NOT r_max_words)::BIGINT) AS BIGINT) AS f_max_words,
  CAST(SUM((NOT r_word_len)::BIGINT) AS BIGINT) AS f_word_len,
  CAST(SUM((NOT r_symbol_ratio)::BIGINT) AS BIGINT) AS f_symbol_ratio
FROM scored GROUP BY source
"""


def q_train_val_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reproducible 90/10 dataset split (operators/dataset.py hash_split):
    portable md5 bucketing, stateless per row, append-consistent — the
    split every training pipeline stamps onto its corpus. Verified
    bucket-for-bucket against the same md5 arithmetic in DuckDB."""
    from radient_spark.operators.dataset import hash_split

    docs = load_tables(spark, sf_dir)["documents"]
    return (
        hash_split(docs, "doc_id", seed=42)
        .groupBy("source", "split")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            dsum(F.col("n_chars"), "total_chars"),
        )
    )


_Q_SPLIT_SQL = """
SELECT source,
  CASE WHEN ('0x' || substring(md5(concat_ws('_', 42, doc_id)), 1, 8))::BIGINT
            % 10000 < 9000
       THEN 'train' ELSE 'val' END AS split,
  COUNT(*) AS n_docs,
  CAST(SUM(CAST(n_chars AS DECIMAL(18,6))) AS DOUBLE) AS total_chars
FROM documents
GROUP BY 1, 2
"""


def q_pii_scrub_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrubbing audit (operators/dataset.py scrub_pii): emails/URLs
    are synthesized deterministically onto the corpus (it contains none),
    masked with the chained regexp_replace scrubber, and reported per
    source. The full regex chain is reproduced in DuckDB (both engines
    speak the same pattern dialect here), so masked counts AND scrubbed
    lengths are hash-checked."""
    from radient_spark.operators.dataset import pii_counts, scrub_pii

    docs = load_tables(spark, sf_dir)["documents"]
    with_pii = docs.withColumn(
        "t",
        F.concat(
            F.col("text"),
            F.when(
                F.col("doc_id") % 3 == 0,
                F.concat(
                    F.lit(" contact user"),
                    F.col("doc_id").cast("string"),
                    F.lit("@example.com now"),
                ),
            ).otherwise(F.lit("")),
            F.when(
                F.col("doc_id") % 5 == 0,
                F.concat(
                    F.lit(" see https://ex"),
                    F.col("doc_id").cast("string"),
                    F.lit(".org/path"),
                ),
            ).otherwise(F.lit("")),
        ),
    )
    n_emails, n_urls = pii_counts(F.col("t"))
    return (
        with_pii.select(
            "source",
            n_emails.alias("e"),
            n_urls.alias("u"),
            F.length(scrub_pii(F.col("t"))).alias("scrubbed_len"),
        )
        .groupBy("source")
        .agg(
            F.sum("e").cast("long").alias("n_emails"),
            F.sum("u").cast("long").alias("n_urls"),
            F.sum("scrubbed_len").cast("long").alias("total_scrubbed_chars"),
        )
    )


_Q_PII_SQL = r"""
WITH p AS (
  SELECT source,
    text
    || CASE WHEN doc_id % 3 = 0
            THEN concat(' contact user', doc_id, '@example.com now')
            ELSE '' END
    || CASE WHEN doc_id % 5 = 0
            THEN concat(' see https://ex', doc_id, '.org/path')
            ELSE '' END AS t
  FROM documents
)
SELECT source,
  SUM(len(regexp_extract_all(t, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')))::BIGINT AS n_emails,
  SUM(len(regexp_extract_all(t, 'https?://[^\s]+')))::BIGINT AS n_urls,
  SUM(length(
    regexp_replace(
      regexp_replace(
        regexp_replace(t, 'https?://[^\s]+', '<URL>', 'g'),
        '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
      '\+?\d[\d\- ]{7,}\d', '<PHONE>', 'g')
  ))::BIGINT AS total_scrubbed_chars
FROM p
GROUP BY source
"""


def q_token_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Concat-then-chunk sequence packing (operators/dataset.py
    sequential_pack): per source, documents in doc_id order are laid end
    to end and cut every 512 tokens — the standard LLM-pretraining
    packing. chunk assignment is a single window cumsum; verified
    against DuckDB's SUM() OVER."""
    from radient_spark.operators.dataset import sequential_pack

    docs = load_tables(spark, sf_dir)["documents"].filter(
        F.length(F.trim("text")) > 0
    )
    toks = docs.select(
        "source",
        "doc_id",
        F.size(F.split(F.trim("text"), r"\s+")).alias("n_toks"),
    )
    packed = sequential_pack(
        toks, token_col="n_toks", order_col="doc_id",
        partition_cols=["source"], budget=512,
    )
    return packed.groupBy("source", "chunk_id").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_toks").cast("long").alias("chunk_tokens"),
    )


_Q_PACKING_SQL = r"""
WITH toks AS (
  SELECT source, doc_id,
    len(regexp_split_to_array(trim(text), '\s+')) AS n_toks
  FROM documents WHERE length(trim(text)) > 0
), packed AS (
  SELECT source, doc_id, n_toks,
    CAST(FLOOR(COALESCE(SUM(n_toks) OVER (
      PARTITION BY source ORDER BY doc_id
      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) / 512) AS INT)
      AS chunk_id
  FROM toks
)
SELECT source, chunk_id, COUNT(*) AS n_docs,
  SUM(n_toks)::BIGINT AS chunk_tokens
FROM packed GROUP BY 1, 2
"""


def q_sparse_tfidf_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sparse TF-IDF matrix in long form (doc_id, term, tf, tfidf):
    MLlib CountVectorizer + IDF SparseVectors (operators/sparse.py —
    the reference's declared sparse-vector surface), exploded through
    the vocabulary dim and verified term-by-term against DuckDB
    computing tf * ln((m+1)/(df+1)) directly."""
    from radient_spark.operators.sparse import sparse_tfidf, sparse_terms_long

    docs = (
        load_tables(spark, sf_dir)["documents"]
        .filter(F.length(F.trim("text")) > 0)
        .select("doc_id", "text")
    )
    vecs, vocab = sparse_tfidf(docs, vocab_size=1 << 17)
    long = sparse_terms_long(vecs, vocab, vec_col="tfidf", id_col="doc_id")
    return long.select(
        "doc_id", "term", F.round(F.col("value"), 6).alias("tfidf")
    )


_Q_SPARSE_TFIDF_SQL = r"""
WITH docs AS (
  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS toks
  FROM documents WHERE length(trim(text)) > 0
), m AS (
  SELECT COUNT(*) AS n_docs FROM docs
), tf AS (
  SELECT doc_id, unnest(toks) AS term FROM docs
), counts AS (
  SELECT doc_id, term, COUNT(*) AS tf FROM tf GROUP BY doc_id, term
), df AS (
  SELECT term, COUNT(DISTINCT doc_id) AS df FROM tf GROUP BY term
)
SELECT c.doc_id, c.term,
  ROUND(c.tf * ln(((SELECT n_docs FROM m) + 1.0) / (d.df + 1.0)), 6) AS tfidf
FROM counts c JOIN df d ON c.term = d.term
WHERE c.tf * ln(((SELECT n_docs FROM m) + 1.0) / (d.df + 1.0)) != 0
"""


def q_ngram_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """n-gram (token-set) Jaccard near-dup pairs within each source
    partition — the exact verify step of text dedup.

    Sparse set-similarity join (inverted-index formulation): explode
    distinct tokens, self-join on (source, token) to COUNT shared tokens
    per pair, then jaccard = shared / (|A| + |B| - shared). Work is
    O(sum over tokens of co-occurring doc pairs) instead of
    O(all pairs x tokens) — the shape that survives corpus-scale input.
    Pure-integer arithmetic, so the double division matches the oracle
    exactly (no rounding needed).

    Runs operators/dedup.token_pair_counts in DEFAULT (uncapped) mode —
    measured fastest on this corpus's small uniform vocabulary
    (length-ratio pruning, PPJoin prefix filtering, and collect_list +
    HOF pair explosion all measured SLOWER at sf0.1: 10.1s/11.5s vs
    8.5-8.9s — see SCALING.md). On zipfian real corpora pass
    max_df=N to bound each stopword posting's O(df^2) self-join; scores
    are unchanged (candidates re-verify on the full token arrays)."""
    from radient_spark.operators.dedup import token_pair_counts

    docs = load_tables(spark, sf_dir)["documents"]
    toks = _widen_narrow_scan(
        docs.filter(F.length(F.trim("text")) > 0)
    ).select(
        "doc_id",
        "source",
        F.array_distinct(F.split(F.trim("text"), r"\s+")).alias("toks"),
    )
    counts = token_pair_counts(toks, id_col="doc_id", part_col="source")
    jac = F.col("shared") / (F.col("na") + F.col("nb") - F.col("shared"))
    return (
        counts.withColumn("jaccard", jac)
        .filter(F.col("jaccard") >= 0.6)
        .select("source", "id_a", "id_b", "jaccard")
    )


_Q_NGRAM_JACCARD_SQL = r"""
WITH toks AS (
  SELECT doc_id, source, list_distinct(regexp_split_to_array(trim(text), '\s+')) AS t
  FROM documents WHERE length(trim(text)) > 0
)
SELECT a.source, a.doc_id AS id_a, b.doc_id AS id_b,
  CAST(len(list_distinct(list_intersect(a.t, b.t))) AS DOUBLE)
    / len(list_distinct(a.t || b.t)) AS jaccard
FROM toks a JOIN toks b ON a.source = b.source AND a.doc_id < b.doc_id
WHERE CAST(len(list_distinct(list_intersect(a.t, b.t))) AS DOUBLE)
    / len(list_distinct(a.t || b.t)) >= 0.6
"""


def q_cube_priority_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE grouping sets over (orderpriority, orderstatus)."""
    orders = load_tables(spark, sf_dir)["orders"]
    return orders.cube("o_orderpriority", "o_orderstatus").agg(
        F.count(F.lit(1)).alias("n_orders"),
        dsum(F.col("o_totalprice"), "revenue"),
    )


_Q_CUBE_SQL = """
SELECT o_orderpriority, o_orderstatus, COUNT(*) AS n_orders,
  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE) AS revenue
FROM orders GROUP BY CUBE (o_orderpriority, o_orderstatus)
"""


def q_semi_high_value_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left-semi join (EXISTS): customers with at least one 400k+ order,
    counted per market segment."""
    t = load_tables(spark, sf_dir)
    big = t["orders"].filter(F.col("o_totalprice") > 400000)
    return (
        t["customer"]
        .join(big, F.col("c_custkey") == F.col("o_custkey"), "left_semi")
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            dsum(F.col("c_acctbal"), "total_acctbal"),
        )
    )


_Q_SEMI_SQL = """
SELECT c_mktsegment, COUNT(*) AS n_customers,
  CAST(SUM(CAST(c_acctbal AS DECIMAL(18,6))) AS DOUBLE) AS total_acctbal
FROM customer
WHERE EXISTS (SELECT 1 FROM orders
              WHERE o_custkey = c_custkey AND o_totalprice > 400000)
GROUP BY c_mktsegment
"""


def q_priority_string_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """String functions: split/extract/case over o_orderpriority
    ('1-URGENT' style) and part names."""
    orders = load_tables(spark, sf_dir)["orders"]
    return (
        orders.withColumn("prio_num", F.split("o_orderpriority", "-")[0].cast("int"))
        .withColumn("prio_word", F.lower(F.regexp_extract("o_orderpriority", r"\d-(.*)", 1)))
        .groupBy("prio_num", "prio_word")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.max(F.length("o_orderpriority")).alias("max_len"),
        )
    )


_Q_PRIORITY_STR_SQL = r"""
SELECT CAST(str_split(o_orderpriority, '-')[1] AS INT) AS prio_num,
  lower(regexp_extract(o_orderpriority, '\d-(.*)', 1)) AS prio_word,
  COUNT(*) AS n_orders,
  CAST(MAX(length(o_orderpriority)) AS INT) AS max_len
FROM orders GROUP BY 1, 2
"""


def q_json_props_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON extraction: events.props is a JSON object; pull $.k and
    aggregate per event_type."""
    ev = load_tables(spark, sf_dir)["events"]
    return (
        ev.withColumn("k", F.get_json_object("props", "$.k").cast("int"))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("k").cast("long")).alias("sum_k"),
            F.min("k").alias("min_k"),
            F.max("k").alias("max_k"),
        )
    )


_Q_JSON_SQL = """
SELECT event_type, COUNT(*) AS n_events,
  CAST(SUM(CAST(json_extract_string(props, '$.k') AS INT)) AS BIGINT) AS sum_k,
  MIN(CAST(json_extract_string(props, '$.k') AS INT)) AS min_k,
  MAX(CAST(json_extract_string(props, '$.k') AS INT)) AS max_k
FROM events GROUP BY event_type
"""


def q_events_weekday(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Date-part functions: weekday x event_type activity matrix.
    Spark weekday() (0=Monday) == DuckDB isodow-1."""
    ev = load_tables(spark, sf_dir)["events"]
    return (
        ev.withColumn("weekday", F.weekday("ts").cast("int"))
        .groupBy("weekday", "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"), davg(F.col("value"), "avg_value"))
    )


_Q_WEEKDAY_SQL = """
SELECT CAST(date_part('isodow', ts) - 1 AS INT) AS weekday, event_type,
  COUNT(*) AS n_events,
  CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*) AS avg_value
FROM events GROUP BY 1, 2
"""


def q_doc_quality_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composite quality heuristic per document (functions/text.py:
    quality_score): length band + alpha ratio + stopword presence."""
    from radient_spark.functions.text import quality_score

    docs = load_tables(spark, sf_dir)["documents"]
    return docs.select("doc_id", quality_score(F.col("text")).alias("quality"))


_SW = "the a an and or of to in is are was were be been it this that for on with as at by".split()
_Q_QUALITY_SQL = rf"""
WITH t AS (
  SELECT doc_id, text,
    regexp_split_to_array(trim(lower(text)), '\s+') AS toks,
    CASE WHEN length(trim(text)) = 0 THEN 0
         ELSE len(regexp_split_to_array(trim(text), '\s+')) END AS tc
  FROM documents
)
SELECT doc_id,
  round(0.4 * least(CAST(tc AS DOUBLE) / 50.0, 1.0)
      + 0.4 * (CASE WHEN length(text) = 0 THEN 0.0
               ELSE CAST(length(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS DOUBLE)
                    / length(text) END)
      + 0.2 * least((CASE WHEN tc = 0 THEN 0.0
               ELSE CAST(len(list_filter(toks, x -> x IN ({", ".join("'" + w + "'" for w in _SW)}))) AS DOUBLE)
                    / tc END) * 5.0, 1.0), 6) AS quality
FROM t
"""


def q_langid_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heuristic language ID (stopword argmax, functions/text.py:langid)
    vs the labeled lang column: confusion-matrix counts."""
    from radient_spark.functions.text import langid

    docs = load_tables(spark, sf_dir)["documents"]
    return (
        docs.withColumn("predicted", langid(F.col("text")))
        .groupBy("lang", "predicted")
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )


def _langid_sql() -> str:
    from radient_spark.functions.text import LANGID_ORDER, LANGID_STOPWORDS

    counts = {
        lang: f"len(list_filter(toks, x -> x IN ({', '.join(repr(w) for w in LANGID_STOPWORDS[lang])})))"
        for lang in LANGID_ORDER
    }
    case = "CASE "
    for i, lang in enumerate(LANGID_ORDER):
        others = LANGID_ORDER[i + 1 :]
        if others:
            cond = " AND ".join(f"c_{lang} >= c_{other}" for other in others)
            case += f"WHEN {cond} THEN '{lang}' "
        else:
            case += f"ELSE '{lang}' "
    case += "END"
    selects = ",\n    ".join(f"{expr} AS c_{lang}" for lang, expr in counts.items())
    return rf"""
WITH t AS (
  SELECT lang, regexp_split_to_array(trim(lower(text)), '\s+') AS toks
  FROM documents
), scored AS (
  SELECT lang,
    {selects}
  FROM t
)
SELECT lang, {case} AS predicted, COUNT(*) AS n_docs
FROM scored GROUP BY 1, 2
"""


def q_fastrp_supplier_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FastRP node embeddings over the supplier—part co-occurrence graph
    (edges from lineitem). Iterative edge-join matmul, numpy-oracle-verified
    in tests/test_operators.py; here the vector is exploded to
    (suppkey, dim_idx, value) rows — a canonicalizable, sortable shape —
    and checked value-by-value against a DuckDB reimplementation of the
    seeded md5 projection + two propagation hops.

    Determinism contract: arithmetic stays in double end to end
    (cast_float=False) and values are rounded to 6 decimals; summation
    order differences are ~1e-15 absolute, far below the rounding grid.
    """
    from radient_spark.operators.vectorize import fastrp_embeddings

    li = load_tables(spark, sf_dir)["lineitem"]
    edges = (
        li.select(
            F.col("l_suppkey").alias("src"),
            (F.col("l_partkey") + 1_000_000).alias("dst"),
        )
        .distinct()
    )
    emb = fastrp_embeddings(
        edges, dim=16, weights=(0.5, 1.0), beta=0.0, seed=42, cast_float=False
    )
    return (
        emb.filter(F.col("node") < 1_000_000)
        .select(
            F.col("node").alias("suppkey"),
            F.posexplode("vector").alias("dim_idx", "value"),
        )
        .withColumn("value", F.round("value", 6))
    )


# DuckDB oracle for FastRP: same seeded md5 projection (str_hash % 6 ->
# {+sqrt(3), -sqrt(3), 0} with p {1/6, 1/6, 2/3}), L = 0.5/n (beta=0),
# two symmetric propagation hops, acc = 0.5*X1 + 1.0*X2.
_Q_FASTRP_SQL = r"""
WITH edges AS (
  SELECT DISTINCT l_suppkey AS src, l_partkey + 1000000 AS dst FROM lineitem
), sym AS (
  SELECT src, dst FROM edges UNION ALL SELECT dst AS src, src AS dst FROM edges
), nodes AS (
  SELECT DISTINCT src AS node FROM sym
), n AS (
  SELECT CAST(COUNT(*) AS DOUBLE) AS n_nodes FROM nodes
), dims AS (
  SELECT unnest(generate_series(0, 15)) AS j
), x0 AS (
  SELECT node, j,
    (CASE (('0x' || substring(md5(concat_ws('_', 42, node, j)), 1, 8))::BIGINT % 6)
       WHEN 0 THEN sqrt(3.0) WHEN 1 THEN -sqrt(3.0) ELSE 0.0 END)
      * 0.5 * 1.0 / (SELECT n_nodes FROM n) AS val
  FROM nodes CROSS JOIN dims
), x1 AS (
  SELECT s.src AS node, x.j,
    CAST(SUM(CAST(x.val AS DECIMAL(30,15))) AS DOUBLE) AS val
  FROM sym s JOIN x0 x ON x.node = s.dst
  GROUP BY 1, 2
), x2 AS (
  SELECT s.src AS node, x.j,
    CAST(SUM(CAST(x.val AS DECIMAL(30,15))) AS DOUBLE) AS val
  FROM sym s JOIN x1 x ON x.node = s.dst
  GROUP BY 1, 2
)
SELECT x1.node AS suppkey, CAST(x1.j AS INT) AS dim_idx,
  ROUND(0.5 * x1.val + 1.0 * x2.val, 6) AS value
FROM x1 JOIN x2 ON x1.node = x2.node AND x1.j = x2.j
WHERE x1.node < 1000000
"""


def q_media_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end multimodal pipeline: manifest -> video demux fan-out ->
    modality-dispatch vectorizer -> per-modality stats. Exercises the
    mapInPandas transform plumbing + multimodal columns; rows-only check
    (stubbed decoders per the container constraints)."""
    from radient_spark.operators.transforms import video_demux
    from radient_spark.operators.vectorize import multimodal_vectorizer

    docs = load_tables(spark, sf_dir)["documents"]
    manifest = docs.select(
        F.col("doc_id").alias("id"),
        F.concat(F.lit("/media/video_"), F.col("doc_id"), F.lit(".mp4")).alias("uri"),
        F.col("text").cast("binary").alias("payload"),
    )
    units = video_demux(manifest, interval=2.0)
    vecs = multimodal_vectorizer(
        units.withColumn("text", F.col("unit_uri")), dim=16
    )
    return vecs.groupBy("modality").agg(
        F.count(F.lit(1)).alias("n_units"),
        F.countDistinct("id").alias("n_sources"),
    )


# ---------------------------------------------------------------------------
# Batch 4: decorrelated subqueries (TPC-H Q16/Q18/Q22 shapes, Q2-style
# per-group argmin) + the drug-discovery fingerprint-similarity flow.


def q18_large_quantity_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q18 shape: orders whose total lineitem quantity exceeds 150 —
    IN-subquery with HAVING, decorrelated to an aggregate + join."""
    t = load_tables(spark, sf_dir)
    big = (
        t["lineitem"]
        .groupBy("l_orderkey")
        .agg(dsum(F.col("l_quantity"), "sum_qty"))
        .filter(F.col("sum_qty") > 150)
    )
    return (
        t["orders"]
        .join(big, F.col("o_orderkey") == F.col("l_orderkey"))
        .select("o_orderkey", "o_custkey", "o_orderdate", "o_totalprice", "sum_qty")
    )


_Q18_SQL = """
SELECT o_orderkey, o_custkey, o_orderdate, o_totalprice, sum_qty
FROM orders JOIN (
  SELECT l_orderkey,
    CAST(SUM(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE) AS sum_qty
  FROM lineitem GROUP BY l_orderkey
  HAVING CAST(SUM(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE) > 150
) ON o_orderkey = l_orderkey
"""


def q16_brand_supplier_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q16 shape: per (brand, size band) distinct supplier count,
    excluding an anti-set of suppliers (NOT IN -> left_anti)."""
    t = load_tables(spark, sf_dir)
    bad = t["supplier"].filter(F.col("s_acctbal") < 0).select("s_suppkey")
    li = (
        t["lineitem"]
        .join(bad, t["lineitem"].l_suppkey == bad.s_suppkey, "left_anti")
        .join(F.broadcast(t["part"]), F.col("l_partkey") == F.col("p_partkey"))
    )
    return (
        li.withColumn("size_band", F.floor(F.col("p_size") / 10).cast("int"))
        .groupBy("p_brand", "size_band")
        .agg(F.countDistinct("l_suppkey").alias("n_suppliers"))
    )


_Q16_SQL = """
SELECT p_brand, CAST(FLOOR(p_size / 10) AS INT) AS size_band,
  COUNT(DISTINCT l_suppkey) AS n_suppliers
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
GROUP BY 1, 2
"""


def q22_wealthy_inactive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q22 shape: customers with above-average balance and no orders
    after 1999 — scalar subquery (global avg) + NOT EXISTS, per nation.

    The scalar subquery stays IN the plan: the 1-row global average is
    crossJoin(broadcast(...))-ed onto customer, so the whole query is one
    lazy plan (no driver .collect() round trip)."""
    t = load_tables(spark, sf_dir)
    avg_bal = t["customer"].agg(davg(F.col("c_acctbal"), "__avg_bal"))
    recent = t["orders"].filter(
        F.col("o_orderdate") >= F.lit("1999-01-01").cast("timestamp")
    )
    return (
        t["customer"]
        .crossJoin(F.broadcast(avg_bal))
        .filter(F.col("c_acctbal") > F.col("__avg_bal"))
        .join(recent, F.col("c_custkey") == F.col("o_custkey"), "left_anti")
        .groupBy("c_nationkey")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            dsum(F.col("c_acctbal"), "total_bal"),
        )
    )


_Q22_SQL = """
SELECT c_nationkey, COUNT(*) AS n_customers,
  CAST(SUM(CAST(c_acctbal AS DECIMAL(18,6))) AS DOUBLE) AS total_bal
FROM customer
WHERE c_acctbal > (
    SELECT CAST(SUM(CAST(c_acctbal AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*)
    FROM customer)
  AND NOT EXISTS (SELECT 1 FROM orders
                  WHERE o_custkey = c_custkey
                    AND o_orderdate >= TIMESTAMP '1999-01-01 00:00:00')
GROUP BY c_nationkey
"""


def q02_top_supplier_per_part(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q2 shape: per part, the supplier with the highest shipped revenue
    (correlated argmax -> rank-1 window with deterministic tiebreak).
    Restricted to parts with p_size < 10 to keep the result selective."""
    t = load_tables(spark, sf_dir)
    small_parts = t["part"].filter(F.col("p_size") < 10).select("p_partkey")
    rev = (
        t["lineitem"]
        .join(F.broadcast(small_parts), F.col("l_partkey") == F.col("p_partkey"))
        .groupBy("l_partkey", "l_suppkey")
        .agg(dsum(_disc_price(), "revenue"))
    )
    w = Window.partitionBy("l_partkey").orderBy(
        F.col("revenue").desc(), F.col("l_suppkey").asc()
    )
    return (
        rev.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("l_partkey", "l_suppkey", "revenue")
    )


_Q02_SQL = """
SELECT l_partkey, l_suppkey, revenue FROM (
  SELECT l_partkey, l_suppkey,
    CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))) AS DOUBLE) AS revenue,
    ROW_NUMBER() OVER (PARTITION BY l_partkey
                       ORDER BY CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))) AS DOUBLE) DESC,
                                l_suppkey ASC) AS rn
  FROM lineitem JOIN part ON l_partkey = p_partkey
  WHERE p_size < 10
  GROUP BY l_partkey, l_suppkey
) WHERE rn = 1
"""


def q07_nation_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q7 shape: shipping volume between two customer/supplier nations
    per year — multi-join + year extraction + conditional pairing."""
    t = load_tables(spark, sf_dir)
    n1 = t["nation"].select(
        F.col("n_nationkey").alias("s_nk"), F.col("n_name").alias("supp_nation")
    )
    n2 = t["nation"].select(
        F.col("n_nationkey").alias("c_nk"), F.col("n_name").alias("cust_nation")
    )
    joined = (
        t["lineitem"]
        .join(t["orders"], F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(t["customer"]), F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(t["supplier"]), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(n1), F.col("s_nationkey") == F.col("s_nk"))
        .join(F.broadcast(n2), F.col("c_nationkey") == F.col("c_nk"))
        .filter(
            (
                (F.col("supp_nation") == "NATION_3") & (F.col("cust_nation") == "NATION_7")
            )
            | (
                (F.col("supp_nation") == "NATION_7") & (F.col("cust_nation") == "NATION_3")
            )
        )
    )
    return (
        joined.withColumn("l_year", F.year("l_shipdate"))
        .groupBy("supp_nation", "cust_nation", "l_year")
        .agg(dsum(_disc_price(), "volume"))
    )


_Q07_SQL = """
SELECT supp_nation, cust_nation, l_year,
  CAST(SUM(CAST(volume AS DECIMAL(18,6))) AS DOUBLE) AS volume
FROM (
  SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
    year(l_shipdate) AS l_year,
    l_extendedprice * (1 - l_discount) AS volume
  FROM lineitem
  JOIN orders ON l_orderkey = o_orderkey
  JOIN customer ON o_custkey = c_custkey
  JOIN supplier ON l_suppkey = s_suppkey
  JOIN nation n1 ON s_nationkey = n1.n_nationkey
  JOIN nation n2 ON c_nationkey = n2.n_nationkey
  WHERE (n1.n_name = 'NATION_3' AND n2.n_name = 'NATION_7')
     OR (n1.n_name = 'NATION_7' AND n2.n_name = 'NATION_3')
)
GROUP BY supp_nation, cust_nation, l_year
"""


def q08_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q8 shape: a region-nation's share of regional revenue per year —
    ratio of conditional decimal sums (deterministic double division)."""
    t = load_tables(spark, sf_dir)
    asia_nations = (
        t["nation"]
        .join(
            F.broadcast(t["region"].filter(F.col("r_name") == "ASIA")),
            F.col("n_regionkey") == F.col("r_regionkey"),
        )
        .select("n_nationkey", "n_name")
    )
    joined = (
        t["lineitem"]
        .join(t["orders"], F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(t["supplier"]), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(asia_nations), F.col("s_nationkey") == F.col("n_nationkey"))
    )
    vol = _disc_price()
    nation_vol = F.when(F.col("n_name") == "NATION_3", vol).otherwise(F.lit(0.0))
    return (
        joined.withColumn("o_year", F.year("o_orderdate"))
        .groupBy("o_year")
        .agg(
            dsum(nation_vol, "nation_volume"),
            dsum(vol, "total_volume"),
        )
        .withColumn(
            "mkt_share", F.col("nation_volume") / F.col("total_volume")
        )
    )


_Q08_SQL = """
SELECT o_year,
  CAST(SUM(CAST(CASE WHEN n_name = 'NATION_3'
        THEN l_extendedprice * (1 - l_discount) ELSE 0.0 END AS DECIMAL(18,6))) AS DOUBLE) AS nation_volume,
  CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))) AS DOUBLE) AS total_volume,
  CAST(SUM(CAST(CASE WHEN n_name = 'NATION_3'
        THEN l_extendedprice * (1 - l_discount) ELSE 0.0 END AS DECIMAL(18,6))) AS DOUBLE)
    / CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))) AS DOUBLE) AS mkt_share
FROM (
  SELECT year(o_orderdate) AS o_year, n_name, l_extendedprice, l_discount
  FROM lineitem
  JOIN orders ON l_orderkey = o_orderkey
  JOIN supplier ON l_suppkey = s_suppkey
  JOIN nation ON s_nationkey = n_nationkey
  JOIN region ON n_regionkey = r_regionkey
  WHERE r_name = 'ASIA'
)
GROUP BY o_year
"""


def q14_promo_revenue_pct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q14 shape: percentage of revenue from a part-type class in one
    month — CASE-filtered ratio over a date-bounded scan."""
    t = load_tables(spark, sf_dir)
    li = t["lineitem"].filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-07-01").cast("timestamp"))
    )
    joined = li.join(F.broadcast(t["part"]), F.col("l_partkey") == F.col("p_partkey"))
    vol = _disc_price()
    promo = F.when(F.col("p_type") == "PROMO", vol).otherwise(F.lit(0.0))
    return joined.agg(
        dsum(promo, "promo_revenue"),
        dsum(vol, "total_revenue"),
    ).withColumn(
        "promo_pct",
        F.lit(100.0) * F.col("promo_revenue") / F.col("total_revenue"),
    )


_Q14_SQL = """
SELECT
  CAST(SUM(CAST(CASE WHEN p_type = 'PROMO'
        THEN l_extendedprice * (1 - l_discount) ELSE 0.0 END AS DECIMAL(18,6))) AS DOUBLE) AS promo_revenue,
  CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))) AS DOUBLE) AS total_revenue,
  100.0 * CAST(SUM(CAST(CASE WHEN p_type = 'PROMO'
        THEN l_extendedprice * (1 - l_discount) ELSE 0.0 END AS DECIMAL(18,6))) AS DOUBLE)
    / CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))) AS DOUBLE) AS promo_pct
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
  AND l_shipdate < TIMESTAMP '1997-07-01 00:00:00'
"""


def q_fingerprint_similarity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The drug-discovery flow (examples/drug_discovery.md:42-48):
    fingerprint every 'molecule' (part names stand in for SMILES),
    brute-force Jaccard against a query, take the top 10. The
    fingerprint is the deterministic char-ngram variant of
    operators/vectorize.fingerprint_vectorizer, reproduced bit-for-bit
    by the DuckDB oracle via md5 bit-id sets."""
    from radient_spark.operators.vectorize import fingerprint_vectorizer
    from radient_spark.functions.vector import jaccard_bool

    parts = load_tables(spark, sf_dir)["part"].select("p_partkey", "p_name")
    fps = fingerprint_vectorizer(
        parts, input_col="p_name", out_col="fp", dim=128, n_hashes=2, radius=3
    )
    query_name = "red widget"
    qfp_row = fingerprint_vectorizer(
        local_frame(spark, [(query_name,)], "p_name string"),
        input_col="p_name",
        out_col="fp",
        dim=128,
        n_hashes=2,
        radius=3,
    ).collect()[0]["fp"]
    qfp = F.expr(
        "array(" + ",".join("true" if b else "false" for b in qfp_row) + ")"
    )
    return (
        fps.withColumn("jaccard", jaccard_bool(F.col("fp"), qfp))
        .orderBy(F.col("jaccard").desc(), F.col("p_partkey").asc())
        .limit(10)
        .select("p_partkey", "p_name", "jaccard")
    )


def _fingerprint_sql(dim: int = 128, n_hashes: int = 2, radius: int = 3) -> str:
    """DuckDB oracle for the char-ngram fingerprint: the bit set of a
    string is {md5(i + '#' + gram) % dim}; Jaccard over bit sets equals
    Jaccard over the boolean arrays."""
    gram_parts = []
    for k in range(1, radius + 1):
        gram_parts.append(
            f"CASE WHEN length(p_name) = 0 THEN [] "
            f"WHEN length(p_name) < {k} THEN [p_name] "
            f"ELSE list_transform(generate_series(1, length(p_name) - {k - 1}), i -> substring(p_name, i, {k})) END"
        )
    grams = " || ".join(gram_parts)
    hashes = " || ".join(
        f"list_transform(grams, g -> ('0x' || substring(md5('{i}#' || g), 1, 8))::BIGINT % {dim})"
        for i in range(n_hashes)
    )
    return f"""
WITH g AS (
  SELECT p_partkey, p_name, ({grams}) AS grams FROM part
), bits AS (
  SELECT p_partkey, p_name, list_distinct({hashes}) AS bitset FROM g
), q AS (
  SELECT list_distinct({hashes.replace("grams", "qgrams")}) AS qbits FROM (
    SELECT ({grams.replace("p_name", "'red widget'")}) AS qgrams
  )
)
SELECT p_partkey, p_name,
  CASE WHEN len(list_distinct(bitset || qbits)) = 0 THEN 0.0
       ELSE CAST(len(list_distinct(list_intersect(bitset, qbits))) AS DOUBLE)
            / len(list_distinct(bitset || qbits)) END AS jaccard
FROM bits, q
ORDER BY jaccard DESC, p_partkey ASC
LIMIT 10
"""


# ---------------------------------------------------------------------------
# Batch 3: window frames, set difference, range join, pivot-style agg,
# full outer join, first/last analytics.


def q_running_customer_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Window frame: running order total per customer (rowsBetween
    unboundedPreceding..current), deterministic order + decimal-routed
    cumulative sum."""
    orders = load_tables(spark, sf_dir)["orders"]
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return orders.select(
        "o_custkey",
        "o_orderkey",
        "o_orderdate",
        F.sum(F.col("o_totalprice").cast("decimal(18,6)"))
        .over(w)
        .cast("double")
        .alias("running_total"),
    )


_Q_RUNNING_SQL = """
SELECT o_custkey, o_orderkey, o_orderdate,
  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6)))
       OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
    AS running_total
FROM orders
"""


def q_churned_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Set difference (EXCEPT): customers active in 1996 but not 1997."""
    orders = load_tables(spark, sf_dir)["orders"]

    def in_year(y: int) -> DataFrame:
        return (
            orders.filter(F.year("o_orderdate") == y)
            .select(F.col("o_custkey").alias("custkey"))
            .distinct()
        )

    return in_year(1996).exceptAll(in_year(1997))


_Q_CHURN_SQL = """
SELECT DISTINCT o_custkey AS custkey FROM orders WHERE year(o_orderdate) = 1996
EXCEPT
SELECT DISTINCT o_custkey AS custkey FROM orders WHERE year(o_orderdate) = 1997
"""


def q_purchase_error_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range (interval) join: for each purchase event, count same-user
    error events in the following hour. Inequality join conditions —
    Catalyst plans the equi-part (user_id) as the join key and the range
    as a post-filter, so no cross product."""
    ev = load_tables(spark, sf_dir)["events"]
    p = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"),
        F.col("user_id"),
        F.col("ts").alias("pts"),
    )
    e = ev.filter(F.col("event_type") == "error").select(
        F.col("user_id").alias("euser"), F.col("ts").alias("ets")
    )
    joined = p.join(
        e,
        (F.col("user_id") == F.col("euser"))
        & (F.col("ets") > F.col("pts"))
        & (F.col("ets") <= F.col("pts") + F.expr("INTERVAL 1 HOUR")),
        "left",
    )
    return joined.groupBy("purchase_id", "user_id").agg(
        F.count("ets").alias("n_errors_next_hour")
    )


_Q_RANGE_JOIN_SQL = """
SELECT p.event_id AS purchase_id, p.user_id,
  COUNT(e.ts) AS n_errors_next_hour
FROM events p
LEFT JOIN events e
  ON e.event_type = 'error' AND e.user_id = p.user_id
 AND e.ts > p.ts AND e.ts <= p.ts + INTERVAL 1 HOUR
WHERE p.event_type = 'purchase'
GROUP BY p.event_id, p.user_id
"""


def q_segment_status_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot as conditional aggregation: order-status counts fanned into
    columns per market segment."""
    t = load_tables(spark, sf_dir)
    o = t["orders"].join(
        F.broadcast(t["customer"].select("c_custkey", "c_mktsegment")),
        F.col("o_custkey") == F.col("c_custkey"),
    )
    return o.groupBy("c_mktsegment").agg(
        F.sum(F.when(F.col("o_orderstatus") == "F", 1).otherwise(0)).alias("n_f"),
        F.sum(F.when(F.col("o_orderstatus") == "O", 1).otherwise(0)).alias("n_o"),
        F.sum(F.when(F.col("o_orderstatus") == "P", 1).otherwise(0)).alias("n_p"),
    )


_Q_PIVOT_SQL = """
SELECT c_mktsegment,
  CAST(SUM(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END) AS BIGINT) AS n_f,
  CAST(SUM(CASE WHEN o_orderstatus = 'O' THEN 1 ELSE 0 END) AS BIGINT) AS n_o,
  CAST(SUM(CASE WHEN o_orderstatus = 'P' THEN 1 ELSE 0 END) AS BIGINT) AS n_p
FROM orders JOIN customer ON o_custkey = c_custkey
GROUP BY c_mktsegment
"""


def q_yearly_revenue_full_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full outer join: per-customer 1996 vs 1997 revenue side by side
    (nulls where a customer is active in only one year)."""
    orders = load_tables(spark, sf_dir)["orders"]

    def rev(y: int, alias: str) -> DataFrame:
        return (
            orders.filter(F.year("o_orderdate") == y)
            .groupBy(F.col("o_custkey").alias(f"ck_{alias}"))
            .agg(dsum(F.col("o_totalprice"), f"rev_{alias}"))
        )

    a, b = rev(1996, "a"), rev(1997, "b")
    return a.join(b, a.ck_a == b.ck_b, "full").select(
        F.coalesce("ck_a", "ck_b").alias("custkey"), "rev_a", "rev_b"
    )


_Q_FULL_OUTER_SQL = """
WITH a AS (
  SELECT o_custkey AS ck_a,
    CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE) AS rev_a
  FROM orders WHERE year(o_orderdate) = 1996 GROUP BY 1
), b AS (
  SELECT o_custkey AS ck_b,
    CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE) AS rev_b
  FROM orders WHERE year(o_orderdate) = 1997 GROUP BY 1
)
SELECT COALESCE(ck_a, ck_b) AS custkey, rev_a, rev_b
FROM a FULL OUTER JOIN b ON ck_a = ck_b
"""


def q_part_price_span(spark: SparkSession, sf_dir: str) -> DataFrame:
    """first_value/last_value with full-frame windows: first and latest
    shipment price per part (deterministic tiebreaks)."""
    li = load_tables(spark, sf_dir)["lineitem"]
    w = Window.partitionBy("l_partkey").orderBy(
        "l_shipdate", "l_orderkey", "l_linenumber"
    )
    full = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    return (
        li.select(
            "l_partkey",
            F.first_value(F.col("l_extendedprice")).over(full).alias("first_price"),
            F.last_value(F.col("l_extendedprice")).over(full).alias("last_price"),
            F.count(F.lit(1)).over(full).alias("n_shipments"),
        )
        .dropDuplicates(["l_partkey"])
    )


_Q_SPAN_SQL = """
SELECT DISTINCT l_partkey,
  FIRST_VALUE(l_extendedprice) OVER w AS first_price,
  LAST_VALUE(l_extendedprice) OVER w AS last_price,
  COUNT(*) OVER w AS n_shipments
FROM lineitem
WINDOW w AS (PARTITION BY l_partkey
             ORDER BY l_shipdate, l_orderkey, l_linenumber
             ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
"""


def q_approx_cardinalities(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch aggregates: Spark's native HyperLogLog++ distinct counts
    and approximate percentiles CERTIFIED against their exact
    counterparts — the constant-memory path for 100 TB
    cardinality/quantile estimation. Sketch internals differ across
    engines by design, so the raw estimates are not oracle-comparable;
    instead the query emits the exact values plus error-bound
    certificates (|est - exact| / exact within 5% for HLL at rsd=0.02
    — observed max 3.3% across sf0.001-0.1 — and 1% for the
    accuracy-10000 percentile, observed max 0.08%), which the DuckDB
    oracle checks as literal TRUE.  This retires the round-4 rows-only
    status: a wrong native-sketch configuration now hash-MISmatches."""
    li = load_tables(spark, sf_dir)["lineitem"]
    # Pre-distinct the (flag, orderkey) pairs instead of using
    # countDistinct: both exact and HLL counts aggregate the DEDUPED
    # rows (HLL registers are duplicate-insensitive, so the estimate is
    # bit-identical), which removes the Expand that would otherwise
    # triple every lineitem row through the aggregate — measured 6.5x
    # on this query at sf0.1.  n_rows and the median sketch ride their
    # own expand-free passes.
    d = li.select("l_returnflag", "l_orderkey").distinct()
    exact = F.count(F.lit(1))
    approx = F.approx_count_distinct("l_orderkey", 0.02)
    agg = d.groupBy("l_returnflag").agg(
        exact.alias("exact_orders"),
        (
            F.abs(approx - exact).cast("double") / exact.cast("double")
            <= F.lit(0.05)
        ).alias("hll_within_5pct"),
    )
    counts = li.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.percentile_approx("l_extendedprice", 0.5, 10000).alias(
            "__med_approx"
        ),
    )
    agg = agg.join(F.broadcast(counts), "l_returnflag")
    # exact median via the HISTOGRAM order-statistic engine (round 9):
    # prices live on the integer cent lattice, so the per-group
    # histogram is bounded by the price domain, not the row count —
    # one map-side-combined count + one histogram-sized window replaces
    # exact_group_quantiles' approxQuantile probe + raw-row windows
    # (same GREATEST(1, CEIL(q*n)) rank, identical value).
    from radient_spark.operators.dataset import histogram_order_statistic

    cents = F.round(F.col("l_extendedprice") * 100, 0).cast("long")
    hist = li.groupBy("l_returnflag", cents.alias("__v")).agg(
        F.count(F.lit(1)).alias("__c")
    )
    med = histogram_order_statistic(
        hist, "l_returnflag", "__v", count_col="__c", qs=[0.5],
        out_cols=["__med_cents"],
    ).select(
        "l_returnflag",
        (F.col("__med_cents").cast("double") / 100.0).alias("__med_exact"),
    )
    return (
        agg.join(F.broadcast(med), "l_returnflag")
        .select(
            "l_returnflag",
            "exact_orders",
            "hll_within_5pct",
            (
                F.abs(F.col("__med_approx") - F.col("__med_exact"))
                / F.col("__med_exact")
                <= F.lit(0.01)
            ).alias("median_within_1pct"),
            "n_rows",
        )
        .orderBy("l_returnflag")
    )


_Q_APPROX_CARD_SQL = """
SELECT l_returnflag,
  CAST(COUNT(DISTINCT l_orderkey) AS BIGINT) AS exact_orders,
  TRUE AS hll_within_5pct,
  TRUE AS median_within_1pct,
  COUNT(*) AS n_rows
FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag
"""


def q_bpe_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token accounting with the BPE-ish (GPT-2 pretokenizer) regex next
    to whitespace counts — the token-counting pair a training-data
    pipeline budgets with (functions/text.py)."""
    from radient_spark.functions.text import bpe_ish_token_count

    docs = load_tables(spark, sf_dir)["documents"]
    ws = F.size(F.split(F.trim("text"), r"\s+"))
    return (
        docs.filter(F.length(F.trim("text")) > 0)
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(ws.cast("long")).alias("ws_tokens"),
            F.sum(bpe_ish_token_count(F.col("text")).cast("long")).alias("bpe_tokens"),
            F.max(bpe_ish_token_count(F.col("text"))).alias("max_bpe_doc"),
        )
    )


_Q_BPE_SQL = r"""
SELECT source, COUNT(*) AS n_docs,
  CAST(SUM(len(regexp_split_to_array(trim(text), '\s+'))) AS BIGINT) AS ws_tokens,
  CAST(SUM(len(regexp_extract_all(text, '''s|''t|''re|''ve|''m|''ll|''d| ?\p{L}+| ?\p{N}+| ?[^\s\p{L}\p{N}]+'))) AS BIGINT) AS bpe_tokens,
  CAST(MAX(len(regexp_extract_all(text, '''s|''t|''re|''ve|''m|''ll|''d| ?\p{L}+| ?\p{N}+| ?[^\s\p{L}\p{N}]+'))) AS INT) AS max_bpe_doc
FROM documents WHERE length(trim(text)) > 0
GROUP BY source
"""


def q_tokenizer_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer-efficiency audit per language: fertility (subword
    tokens per whitespace word) and bytes per subword token, via the
    model-free BPE-ish (GPT-2 pretokenizer) regex — the two numbers a
    multilingual training pipeline reads before committing a vocab
    (high fertility = the tokenizer fragments that language; high
    bytes/token = the language is under-served by the byte budget).
    Complements q_bpe_token_stats' per-source volume accounting with
    the per-language efficiency RATIOS.

    One scan, one map-side-combined groupBy(lang); ratios are single
    rounded IEEE divisions of exact integer sums, so the oracle
    hash-matches."""
    from radient_spark.functions.text import bpe_ish_token_count

    docs = load_tables(spark, sf_dir)["documents"].filter(
        F.length(F.trim("text")) > 0
    )
    ws = F.size(F.split(F.trim("text"), r"\s+"))
    agg = docs.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(ws.cast("long")).alias("ws_tokens"),
        F.sum(bpe_ish_token_count(F.col("text")).cast("long")).alias(
            "bpe_tokens"
        ),
        F.sum(F.octet_length("text").cast("long")).alias("n_bytes"),
    )
    return agg.select(
        "lang",
        "n_docs",
        "ws_tokens",
        "bpe_tokens",
        "n_bytes",
        F.round(
            F.col("bpe_tokens").cast("double") / F.col("ws_tokens"), 6
        ).alias("fertility"),
        F.round(
            F.col("n_bytes").cast("double") / F.col("bpe_tokens"), 6
        ).alias("bytes_per_token"),
    ).orderBy("lang")


_Q_TOKENIZER_FERTILITY_SQL = r"""
SELECT lang, COUNT(*) AS n_docs,
  CAST(SUM(len(regexp_split_to_array(trim(text), '\s+'))) AS BIGINT)
    AS ws_tokens,
  CAST(SUM(len(regexp_extract_all(text, '''s|''t|''re|''ve|''m|''ll|''d| ?\p{L}+| ?\p{N}+| ?[^\s\p{L}\p{N}]+'))) AS BIGINT)
    AS bpe_tokens,
  CAST(SUM(strlen(text)) AS BIGINT) AS n_bytes,
  ROUND(CAST(SUM(len(regexp_extract_all(text, '''s|''t|''re|''ve|''m|''ll|''d| ?\p{L}+| ?\p{N}+| ?[^\s\p{L}\p{N}]+'))) AS DOUBLE)
        / SUM(len(regexp_split_to_array(trim(text), '\s+'))), 6) AS fertility,
  ROUND(CAST(SUM(strlen(text)) AS DOUBLE)
        / SUM(len(regexp_extract_all(text, '''s|''t|''re|''ve|''m|''ll|''d| ?\p{L}+| ?\p{N}+| ?[^\s\p{L}\p{N}]+'))), 6)
    AS bytes_per_token
FROM documents WHERE length(trim(text)) > 0
GROUP BY lang ORDER BY lang
"""


def q_dataset_card(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The dataset card: the one-table summary a curation pipeline
    publishes next to every corpus snapshot — per source: volume
    (docs, whitespace tokens, BPE-ish subword tokens, bytes), breadth
    (exact distinct languages), hygiene (empty docs, within-source
    exact-duplicate docs + ppm rate), and density (mean tokens/doc).
    Composes the profiling, token-accounting, and exact-dedup audits
    into the single artifact a consumer reads first.

    Scale shape: ONE scan feeds a per-source aggregate (volume/breadth/
    density are map-side-combined; the distinct-lang count is the only
    Expand) plus a per-(source, md5) dup count whose per-source rollup
    joins back — both shuffles are keyed on source-sized tables. All
    counts integer; the two ratios are single rounded divisions."""
    from radient_spark.functions.text import bpe_ish_token_count

    docs = load_tables(spark, sf_dir)["documents"]
    ws = F.size(F.split(F.trim("text"), r"\s+"))
    nonempty = F.length(F.trim("text")) > 0
    base = docs.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.when(~nonempty, 1).otherwise(0)).alias("n_empty"),
        F.sum(F.when(nonempty, ws).otherwise(0).cast("long")).alias(
            "ws_tokens"
        ),
        F.sum(bpe_ish_token_count(F.col("text")).cast("long")).alias(
            "bpe_tokens"
        ),
        F.sum(F.octet_length("text").cast("long")).alias("n_bytes"),
        F.countDistinct("lang").alias("n_langs"),
    )
    dups = (
        docs.groupBy("source", F.md5("text").alias("__h"))
        .agg(F.count(F.lit(1)).alias("c"))
        .groupBy("source")
        .agg(
            F.sum(F.when(F.col("c") > 1, F.col("c") - 1).otherwise(0)).alias(
                "n_dup_docs"
            )
        )
    )
    return (
        base.join(dups, "source")
        .select(
            "source",
            "n_docs",
            "n_empty",
            "ws_tokens",
            "bpe_tokens",
            "n_bytes",
            "n_langs",
            "n_dup_docs",
            F.expr("n_dup_docs * 1000000 div n_docs").alias("dup_ppm"),
            F.round(
                F.col("ws_tokens").cast("double") / F.col("n_docs"), 6
            ).alias("mean_ws_tokens"),
        )
        .orderBy("source")
    )


_Q_DATASET_CARD_SQL = r"""
WITH base AS (
  SELECT source, COUNT(*) AS n_docs,
    CAST(SUM(CASE WHEN length(trim(text)) = 0 THEN 1 ELSE 0 END) AS BIGINT)
      AS n_empty,
    CAST(SUM(CASE WHEN length(trim(text)) > 0
             THEN len(regexp_split_to_array(trim(text), '\s+'))
             ELSE 0 END) AS BIGINT) AS ws_tokens,
    CAST(SUM(len(regexp_extract_all(text, '''s|''t|''re|''ve|''m|''ll|''d| ?\p{L}+| ?\p{N}+| ?[^\s\p{L}\p{N}]+'))) AS BIGINT)
      AS bpe_tokens,
    CAST(SUM(strlen(text)) AS BIGINT) AS n_bytes,
    CAST(COUNT(DISTINCT lang) AS BIGINT) AS n_langs
  FROM documents GROUP BY source
), dups AS (
  SELECT source,
    CAST(SUM(CASE WHEN c > 1 THEN c - 1 ELSE 0 END) AS BIGINT) AS n_dup_docs
  FROM (SELECT source, md5(text) AS h, COUNT(*) AS c
        FROM documents GROUP BY source, md5(text))
  GROUP BY source
)
SELECT b.source, b.n_docs, b.n_empty, b.ws_tokens, b.bpe_tokens, b.n_bytes,
  b.n_langs, d.n_dup_docs,
  CAST(d.n_dup_docs * 1000000 // b.n_docs AS BIGINT) AS dup_ppm,
  ROUND(CAST(b.ws_tokens AS DOUBLE) / b.n_docs, 6) AS mean_ws_tokens
FROM base b JOIN dups d USING (source)
ORDER BY b.source
"""


def q_winnowing_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing LOCAL fingerprints (Schleimer et al. 2003,
    operators/pandas_ops.winnowing_fingerprints): per document, the
    rightmost-minimum selection over every window of 8 consecutive
    16-char Karp-Rabin hashes — one (pos, fp) row per selection, the
    MOSS-style index rows a local near-dup/plagiarism pipeline joins
    on. Guarantees every substring match >= w+k-1 chars a shared
    fingerprint, where the whole-doc minimum (q_rolling_fingerprints)
    only catches global near-identity.

    Pure integer arithmetic (base-31 poly mod 1e6+3 over code points),
    so the DuckDB oracle reproduces every selected position and hash
    bit-for-bit. Bounded to doc_id < 120 — the selection math, not the
    corpus, is under audit; the operator itself is one mapInPandas."""
    from radient_spark.operators.pandas_ops import winnowing_fingerprints

    docs = load_tables(spark, sf_dir)["documents"].filter(
        (F.col("doc_id") < 120) & (F.length("text") > 0)
    )
    return winnowing_fingerprints(docs, id_col="doc_id", text_col="text")


def _winnowing_fp_sql(rel: str) -> str:
    """Winnowing fingerprint rows over an arbitrary source relation
    (the registry query audits a fixed doc window; the strategy
    scorecard runs it over the sampled sdocs CTE)."""
    return f"""
WITH c AS (
  SELECT doc_id, str_split(text, '') AS chars, length(text) AS n
  FROM {rel}
), h AS (
  SELECT doc_id,
    list_transform(
      generate_series(1, n - LEAST(16, n) + 1),
      i -> list_reduce(
             [0::BIGINT] || list_transform(
               chars[i : i + LEAST(16, n) - 1], ch -> ascii(ch)::BIGINT),
             (a, cc) -> (a * 31 + cc) % 1000003)
    ) AS hs
  FROM c
), wins AS (
  SELECT doc_id, hs, LEAST(8, len(hs)) AS w,
    unnest(generate_series(1, len(hs) - LEAST(8, len(hs)) + 1)) AS j
  FROM h
), sel AS (
  SELECT doc_id, hs, j,
    j + (w - list_position(list_reverse(hs[j : j + w - 1]),
                           list_aggregate(hs[j : j + w - 1], 'min'))) AS p
  FROM wins
)
SELECT DISTINCT doc_id, CAST(p - 1 AS INT) AS pos, hs[p] AS fp
FROM sel
"""


_Q_WINNOWING_SQL = _winnowing_fp_sql(
    "documents WHERE doc_id < 120 AND length(text) > 0"
)


def q_winnowing_dup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing fingerprints promoted to a DEDUP STRATEGY: candidate
    pairs are documents sharing >= 3 distinct selected fingerprint
    values (the MOSS join — locality comes from the w+k-1 substring
    guarantee, so any sufficiently long shared passage forces a
    candidate), reported with the shared-fingerprint count and each
    side's selection count — the local-similarity complement to
    MinHash's token-set locality and SimHash's Hamming locality.

    Scale shape: the fingerprint index is ~2n/(w+1) rows; the pair join
    shuffles only (fp, doc) postings, and per-fp fanout is bounded by
    how many documents share a k-gram — the zipfian stopword problem
    does not exist at k=16 chars. Pure integer arithmetic end to end,
    so the oracle reproduces pair counts exactly. Same doc_id < 120
    audit window as q_winnowing_fingerprints."""
    from radient_spark.operators.pandas_ops import winnowing_fingerprints

    docs = load_tables(spark, sf_dir)["documents"].filter(
        (F.col("doc_id") < 120) & (F.length("text") > 0)
    )
    fps = winnowing_fingerprints(docs, id_col="doc_id", text_col="text")
    sel = fps.select("doc_id", "fp").distinct()
    per_doc = sel.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_sel"))
    pairs = (
        sel.alias("a")
        .join(
            sel.alias("b"),
            (F.col("a.fp") == F.col("b.fp"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(
            F.col("a.doc_id").alias("id_a"), F.col("b.doc_id").alias("id_b")
        )
        .agg(F.count(F.lit(1)).alias("shared_fps"))
        .filter(F.col("shared_fps") >= 3)
    )
    return (
        pairs.join(
            per_doc.select(
                F.col("doc_id").alias("id_a"), F.col("n_sel").alias("n_sel_a")
            ),
            "id_a",
        )
        .join(
            per_doc.select(
                F.col("doc_id").alias("id_b"), F.col("n_sel").alias("n_sel_b")
            ),
            "id_b",
        )
        .select("id_a", "id_b", "shared_fps", "n_sel_a", "n_sel_b")
    )


def _winnowing_pairs_sql() -> str:
    return f"""
WITH fp_rows AS ({_Q_WINNOWING_SQL}),
sel AS (SELECT DISTINCT doc_id, fp FROM fp_rows),
per_doc AS (SELECT doc_id, COUNT(*) AS n_sel FROM sel GROUP BY doc_id),
pairs AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS shared_fps
  FROM sel a JOIN sel b ON a.fp = b.fp AND a.doc_id < b.doc_id
  GROUP BY 1, 2 HAVING COUNT(*) >= 3
)
SELECT p.id_a, p.id_b, p.shared_fps,
  da.n_sel AS n_sel_a, db.n_sel AS n_sel_b
FROM pairs p
JOIN per_doc da ON da.doc_id = p.id_a
JOIN per_doc db ON db.doc_id = p.id_b
"""


def q_rolling_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Karp-Rabin rolling-hash document fingerprint (min 16-char window
    hash, base-31 polynomial) — winnowing-style content fingerprinting,
    pure integer arithmetic reproduced exactly by the oracle. Uses the
    vectorized numpy path (operators/pandas_ops.rolling_fingerprints);
    functions/text.rolling_hash_fingerprint is the expression-level
    equivalent for inline use."""
    from radient_spark.operators.pandas_ops import rolling_fingerprints

    docs = load_tables(spark, sf_dir)["documents"]
    return rolling_fingerprints(
        docs.filter(F.length("text") > 0), id_col="doc_id", text_col="text", k=16
    )


_Q_ROLLING_SQL = """
WITH c AS (
  SELECT doc_id, str_split(text, '') AS chars, length(text) AS n
  FROM documents WHERE length(text) > 0
)
SELECT doc_id,
  CASE WHEN n < 16 THEN
    list_reduce([0::BIGINT] || list_transform(chars, ch -> ascii(ch)::BIGINT),
                (a, cc) -> (a * 31 + cc) % 1000003)
  ELSE
    list_aggregate(list_transform(generate_series(1, n - 15),
      i -> list_reduce([0::BIGINT] || list_transform(chars[i:i+15], ch -> ascii(ch)::BIGINT),
                       (a, cc) -> (a * 31 + cc) % 1000003)), 'min')
  END AS fp
FROM c
"""


def q_embedding_dup_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-duplicate dedup: similarity self-join above
    a high threshold -> connected components -> canonical id + group
    size. The semantic-dedup twin of q_dup_groups (which is lexical);
    oracle-checked via the recursive-CTE component oracle. At scale the
    pair generation swaps to the ANN/LSH candidate path; the grouping is
    unchanged."""
    emb = load_tables(spark, sf_dir)["embeddings"]
    pairs = similarity_self_join(
        emb, vec_col="embedding", id_col="vec_id", threshold=0.45, metric="cosine"
    )
    labels = D.connected_duplicate_groups(pairs)
    return (
        labels.groupBy("group_id")
        .agg(F.count(F.lit(1)).alias("group_size"), F.min("id").alias("canonical_id"))
        .filter(F.col("group_size") > 1)
    )


def q_corpus_filtered_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Metadata-filtered vector search — the Milvus-search parity flow
    (sinks/milvus.py:122-127: top-k with a boolean filter like
    `modality like "image"`). Here: cosine top-10 restricted to
    documents with lang='en', the filter applied BEFORE scoring so
    Catalyst prunes the scan; vector + metadata live in one engine, no
    external store round-trip."""
    t = load_tables(spark, sf_dir)
    en_docs = t["documents"].filter(F.col("lang") == "en").select("doc_id", "lang")
    emb = t["embeddings"].join(
        F.broadcast(en_docs), F.col("vec_id") == F.col("doc_id")
    )
    return topk(
        emb.select("vec_id", "lang", "embedding"),
        vec_col="embedding",
        query=QUERY_VEC,
        k=10,
        metric="cosine",
        score_col="score",
        tiebreak="vec_id",
    ).drop("embedding")


_Q_CORPUS_SEARCH_SQL = f"""
SELECT vec_id, lang,
  round(list_dot_product(embedding::DOUBLE[], {_QV_SQL})
        / (sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]))
           * sqrt(list_dot_product({_QV_SQL}, {_QV_SQL}))), 6) AS score
FROM embeddings JOIN documents ON vec_id = doc_id
WHERE lang = 'en'
ORDER BY score DESC, vec_id ASC
LIMIT 10
"""


def _cc_labels_with(pairs_sql: str) -> str:
    """Shared recursive-CTE prefix: (id, group_id) labels for every id in
    the pair set — the fixed point the iterative Spark propagation
    converges to."""
    return f"""
WITH RECURSIVE pairs AS MATERIALIZED ({pairs_sql}),
edges AS MATERIALIZED (
  SELECT id_a AS a, id_b AS b FROM pairs
  UNION ALL
  SELECT id_b AS a, id_a AS b FROM pairs
),
walk AS (
  SELECT a AS id, b AS reach FROM edges
  UNION
  SELECT w.id, e.b AS reach FROM walk w JOIN edges e ON w.reach = e.a
),
labels AS MATERIALIZED (
  SELECT id, LEAST(id, MIN(reach)) AS group_id FROM walk GROUP BY id
)"""


def _cc_groups_sql(pairs_sql: str) -> str:
    """DuckDB oracle for connected_duplicate_groups over a pair query:
    reachability closure via a recursive CTE (UNION dedup terminates it),
    then min-label per component — exactly the fixed point the iterative
    Spark propagation converges to."""
    return f"""{_cc_labels_with(pairs_sql)}
SELECT group_id, COUNT(*) AS group_size, MIN(id) AS canonical_id
FROM labels GROUP BY group_id HAVING COUNT(*) > 1
"""


def q_dup_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full dedup pipeline: MinHash -> LSH banding -> signature verify ->
    connected components (iterative min-label propagation) -> canonical
    doc per duplicate group + group size. The end-to-end shape of corpus
    dedup at scale. Oracle-checked: the component fixed point is
    reproduced in DuckDB with a recursive reachability CTE over the same
    verified pair set (_cc_groups_sql)."""
    pairs = q_minhash_dup_pairs(spark, sf_dir)
    labels = D.connected_duplicate_groups(pairs)
    return (
        labels.groupBy("group_id")
        .agg(
            F.count(F.lit(1)).alias("group_size"),
            F.min("id").alias("canonical_id"),
        )
        .filter(F.col("group_size") > 1)
    )


def q_fuzzy_dedup_keep_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The dedup pipeline's terminal KEEP decision: a document survives
    iff it is the canonical (minimum-id) member of its near-duplicate
    component, or belongs to none. Per source: docs in, docs kept, docs
    dropped — the number a corpus-build job actually acts on. Same LSH
    pair set and component fixed point as q_dup_groups; the label table
    (only docs in components — a small fraction by construction) joins
    back to the corpus."""
    docs = load_tables(spark, sf_dir)["documents"]
    pairs = q_minhash_dup_pairs(spark, sf_dir)
    labels = D.connected_duplicate_groups(pairs)
    joined = docs.join(labels, docs.doc_id == labels.id, "left")
    keep = F.col("group_id").isNull() | (F.col("doc_id") == F.col("group_id"))
    return joined.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(keep.cast("long")).alias("n_kept"),
        F.sum((~keep).cast("long")).alias("n_dropped"),
    )


def _fuzzy_keep_sql(pairs_sql: str) -> str:
    return f"""{_cc_labels_with(pairs_sql)}
SELECT d.source, COUNT(*) AS n_docs,
  CAST(SUM((l.id IS NULL OR d.doc_id = l.group_id)::BIGINT) AS BIGINT) AS n_kept,
  CAST(SUM((l.id IS NOT NULL AND d.doc_id <> l.group_id)::BIGINT) AS BIGINT) AS n_dropped
FROM documents d LEFT JOIN labels l ON d.doc_id = l.id
GROUP BY d.source
"""


def _lsh_band_ctes(num_hashes: int, bands: int) -> str:
    """The shared tk -> shingles -> hashes -> sig -> bands CTE chain of
    every LSH oracle: md5-derived permutation mins sliced into
    equal-width band keys, bit-for-bit the Spark pipeline
    (operators/dedup.with_minhash + lsh_buckets)."""
    params = D.hash_params(num_hashes)
    mins = ",\n      ".join(
        f"COALESCE(list_aggregate(list_transform(hs, x -> ({a} * x + {b}) % {MINHASH_P}), 'min'), {MINHASH_P})"
        for a, b in params
    )
    rows_per_band = num_hashes // bands
    band_selects = "\n  UNION ALL\n".join(
        f"  SELECT doc_id, {i} AS band_idx, "
        f"array_to_string(list_transform(sig[{i * rows_per_band + 1}:{(i + 1) * rows_per_band}], v -> CAST(v AS VARCHAR)), '_') AS band_key "
        f"FROM sig"
        for i in range(bands)
    )
    return rf"""tk AS (
  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS toks
  FROM documents WHERE length(trim(text)) > 0
), sh AS (
  SELECT doc_id,
    CASE WHEN len(toks) < 3 THEN [array_to_string(toks, ' ')]
         ELSE list_transform(generate_series(1, len(toks) - 2),
                             i -> array_to_string(toks[i:i+2], ' '))
    END AS shingles
  FROM tk
), h AS (
  SELECT doc_id,
    list_transform(shingles,
                   s -> ('0x' || substring(md5(s), 1, 8))::BIGINT % {MINHASH_P}) AS hs
  FROM sh
), sig AS (
  SELECT doc_id, [
      {mins}
  ] AS sig FROM h
), bands AS (
{band_selects}
)"""


def q_lsh_dedup_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-arrival near-dup verdicts over the whole corpus
    (operators/dedup.lsh_first_arrival_flags): one row per document
    whose LSH band bucket is owned by a lower doc_id, with dup_of = the
    smallest such owner. This is the batch replay of the streaming
    continuous-ingestion gate (streaming.lsh_dedup_sink) — the min-fold
    ownership makes stream and batch bit-identical
    (test_lsh_dedup_sink_equals_batch_flags) — and the decision layer
    over q_minhash_dup_pairs' candidate generation: same signatures,
    same bands, but resolved to keep/drop verdicts instead of pairs.

    Scale: the only shuffles are a groupBy over (band_idx, band_key)
    bucket tuples and a same-key join back — n_docs x 4 tiny rows,
    never all-pairs."""
    docs = load_tables(spark, sf_dir)["documents"]
    return D.lsh_first_arrival_flags(
        _widen_narrow_scan(docs.select("doc_id", "text")),
        id_col="doc_id",
        text_col="text",
        num_hashes=16,
        shingle_k=3,
        bands=4,
    )


def _lsh_flags_sql(num_hashes: int = 16, bands: int = 4) -> str:
    """DuckDB oracle for lsh_first_arrival_flags: bucket ownership =
    MIN(doc_id) per (band_idx, band_key); a doc is flagged iff a lower
    id owns any of its buckets, dup_of = the smallest such owner."""
    return rf"""
WITH {_lsh_band_ctes(num_hashes, bands)},
owners AS (
  SELECT band_idx, band_key, MIN(doc_id) AS owner
  FROM bands GROUP BY band_idx, band_key
)
SELECT b.doc_id, MIN(o.owner) AS dup_of
FROM bands b JOIN owners o USING (band_idx, band_key)
WHERE o.owner < b.doc_id
GROUP BY b.doc_id
"""


def _minhash_dup_pairs_sql(num_hashes: int = 16, bands: int = 4) -> str:
    """DuckDB oracle for the full LSH dedup pipeline: signatures ->
    banding -> candidate pairs -> signature-estimated Jaccard >= 0.5.
    Reproduces the md5-derived permutation mins bit-for-bit."""
    return rf"""
WITH {_lsh_band_ctes(num_hashes, bands)}, pairs AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM bands a JOIN bands b
    ON a.band_idx = b.band_idx AND a.band_key = b.band_key
   AND a.doc_id < b.doc_id
)
SELECT id_a, id_b,
  round(CAST(list_sum(list_transform(generate_series(1, {num_hashes}),
        i -> CASE WHEN sa.sig[i] = sb.sig[i] THEN 1 ELSE 0 END)) AS DOUBLE)
        / {num_hashes}, 6) AS est_jaccard
FROM pairs
JOIN sig sa ON sa.doc_id = id_a
JOIN sig sb ON sb.doc_id = id_b
WHERE round(CAST(list_sum(list_transform(generate_series(1, {num_hashes}),
        i -> CASE WHEN sa.sig[i] = sb.sig[i] THEN 1 ELSE 0 END)) AS DOUBLE)
        / {num_hashes}, 6) >= 0.5
"""


def q_mel_clip_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ImageBind-equivalent audio preprocessing end to end: per-doc
    synthetic tones (deterministic, JVM-generated) -> 2 s clip split ->
    128-bin Kaldi-style log-mel -> (128, 204) normalized images -> per-
    clip summary features. Exercises the real mel/resample kernels
    (functions/media.py ≡ vectorizers/audio/imagebind.py:38-52) through
    the mapInPandas fan-out.

    FULL VALUE ORACLE (round 11, closing the last planned no_oracle):
    _mel_clip_sql replays the entire chain in DuckDB — framing, DC
    removal, preemphasis, hanning, a naive 512-point DFT, the HTK mel
    triangle bank, log, ImageBind normalize, float32 quantization. The
    naive DFT differs from numpy's FFT only by summation order
    (~1e-10 relative); each mel cell is float32-quantized (ulp 6e-8, so
    order noise almost never flips a cell, and a flipped cell moves the
    26112-cell mean by ~2e-12) and the mean is decimal-routed at 6
    decimals, so ROUND(mean, 4) is deterministic across engines. Doc
    set is 8 (not 40) to bound the oracle's DFT cross join (~250M
    products, ~10 s in DuckDB)."""
    from radient_spark.operators.preprocess import audio_to_melspec_clips

    sr = 16_000
    n = 3 * sr  # 3 s per doc -> one full clip + one partial clip
    docs = load_tables(spark, sf_dir)["documents"].filter(F.col("doc_id") < 8)
    freq = 200.0 + (F.col("doc_id") % 20).cast("double") * 40.0
    wave = F.transform(
        F.sequence(F.lit(0), F.lit(n - 1)),
        lambda i: F.sin(
            F.lit(2.0 * math.pi) * freq * i.cast("double") / F.lit(float(sr))
        ),
    )
    audio = docs.select(
        F.col("doc_id").alias("id"),
        wave.alias("waveform"),
        F.lit(sr).alias("sample_rate"),
    )
    mels = audio_to_melspec_clips(audio)
    mel_sum = F.aggregate(
        "mel",
        F.lit(0).cast("decimal(28,6)"),
        lambda a, x: (
            a + x.cast("double").cast("decimal(18,6)")
        ).cast("decimal(28,6)"),
    )
    return mels.select(
        "id",
        "clip_idx",
        "n_mel",
        "n_frames",
        F.round(mel_sum.cast("double") / F.size("mel"), 4).alias("mel_mean"),
    )


def _mel_clip_sql() -> str:
    """DuckDB replay of the full audio preprocessing chain (see
    q_mel_clip_features docstring for the float-determinism argument).
    Structure mirrors functions/media.py stage by stage; the only
    non-literal translation is the analytic zero-pad contribution
    (padded log-mel frames are the constant (0+4.268)/9.138 as float32,
    added per missing cell instead of generated)."""
    return """
WITH
d AS (
  SELECT doc_id AS id, 200.0 + CAST(doc_id % 20 AS DOUBLE) * 40.0 AS freq
  FROM documents WHERE doc_id < 8
),
-- 3 s of 16 kHz synthetic tone per doc
samp AS (
  SELECT d.id, i.range AS i,
         sin(2.0 * pi() * d.freq * CAST(i.range AS DOUBLE) / 16000.0) AS w
  FROM d CROSS JOIN range(48000) i
),
-- 2 s clips: clip 0 = [0,32000), clip 1 = [32000,48000) (partial kept)
clip_samp AS (
  SELECT id, CAST(i // 32000 AS INT) AS clip_idx,
         CAST(i % 32000 AS BIGINT) AS pos, w
  FROM samp
),
clip_stats AS (
  SELECT id, clip_idx, avg(w) AS clip_mean, count(*) AS clip_len
  FROM clip_samp GROUP BY 1, 2
),
-- waveform2melspec mean-centers the clip first
centered AS (
  SELECT s.id, s.clip_idx, s.pos, s.w - c.clip_mean AS x,
         CAST(1 + (c.clip_len - 400) // 160 AS INT) AS n_frames
  FROM clip_samp s JOIN clip_stats c USING (id, clip_idx)
),
-- snip-edges framing: frame f covers samples [160f, 160f+400)
frame_samp AS (
  SELECT id, clip_idx, CAST(f.range AS INT) AS f,
         CAST(pos - 160 * f.range AS INT) AS n, x
  FROM centered
  CROSS JOIN range(198) f
  WHERE f.range < n_frames
    AND pos >= 160 * f.range AND pos < 160 * f.range + 400
),
frame_mean AS (
  SELECT id, clip_idx, f, avg(x) AS fm FROM frame_samp GROUP BY 1, 2, 3
),
-- per-frame DC removal -> preemphasis 0.97 -> hanning(400) window
windowed AS (
  SELECT id, clip_idx, f, n,
         ((x - fm) - 0.97 * COALESCE(
             lag(x - fm) OVER (PARTITION BY id, clip_idx, f ORDER BY n),
             x - fm))
         * (0.5 - 0.5 * cos(2.0 * pi() * CAST(n AS DOUBLE) / 399.0)) AS v
  FROM frame_samp JOIN frame_mean USING (id, clip_idx, f)
),
-- power spectrum of the zero-padded 512-point DFT, bins k = 0..256
-- (naive DFT == numpy rfft up to summation order)
dft AS (
  SELECT id, clip_idx, f, CAST(k.range AS INT) AS k,
         power(sum(v * cos(2.0 * pi() * k.range * n / 512.0)), 2)
       + power(sum(v * sin(2.0 * pi() * k.range * n / 512.0)), 2) AS pw
  FROM windowed CROSS JOIN range(257) k
  GROUP BY 1, 2, 3, 4
),
-- HTK triangular mel filterbank: 130 mel-spaced points on [20, 8000] Hz
mel_pts AS (
  SELECT CAST(j.range AS INT) AS j,
         700.0 * (power(10.0,
           (2595.0 * log10(1.0 + 20.0 / 700.0)
            + CAST(j.range AS DOUBLE)
              * (2595.0 * log10(1.0 + 8000.0 / 700.0)
                 - 2595.0 * log10(1.0 + 20.0 / 700.0)) / 129.0)
           / 2595.0) - 1.0) AS hz
  FROM range(130) j
),
fb AS (
  SELECT lo.j AS b, CAST(k.range AS INT) AS k,
         greatest(0.0, least(
           (k.range * 31.25 - lo.hz) / greatest(ctr.hz - lo.hz, 1e-9),
           (hi.hz - k.range * 31.25) / greatest(hi.hz - ctr.hz, 1e-9))) AS w
  FROM mel_pts lo
  JOIN mel_pts ctr ON ctr.j = lo.j + 1
  JOIN mel_pts hi ON hi.j = lo.j + 2
  CROSS JOIN range(257) k
  WHERE lo.j < 128
),
-- mel energies -> log floor 1e-10 -> ImageBind normalize -> float32
mel AS (
  SELECT id, clip_idx, f, b,
         CAST((ln(greatest(sum(pw * w), 1e-10)) + 4.268) / 9.138 AS REAL) AS m
  FROM dft JOIN fb USING (k)
  GROUP BY 1, 2, 3, 4
),
-- decimal-routed mean over the padded (128 x 204) image: real cells
-- summed exactly at 6 decimals; zero-pad cells contribute the constant
-- float32((0 + 4.268) / 9.138) each, added analytically
real_sum AS (
  SELECT id, clip_idx,
         sum(CAST(CAST(m AS DOUBLE) AS DECIMAL(18,6))) AS s,
         count(*) AS n_real
  FROM mel GROUP BY 1, 2
)
SELECT id, clip_idx, 128 AS n_mel, 204 AS n_frames,
       round(CAST(s + (128 * 204 - n_real)
                      * CAST(CAST(CAST(4.268 / 9.138 AS REAL) AS DOUBLE)
                             AS DECIMAL(18,6))
                  AS DOUBLE) / 26112.0, 4) AS mel_mean
FROM real_sum
ORDER BY id, clip_idx
"""


def q_ann_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GANN-style ANN forest, PRUNED search, fully value-oracled: the
    forest is built with AnnIndex.build_lattice (integer micro-lattice
    kernel — md5-seeded 2-means hyperplanes, exact order-statistic
    spill cuts), so every leaf assignment and every query descent is
    integer-exact and the DuckDB oracle REPLAYS THE WHOLE BUILD + the
    pruned search bit-for-bit (_ann_lattice_sql). 2 trees x 2 levels x
    10% spill: a genuinely approximate configuration — each query scans
    ~2 leaves of 8, not the corpus — whose result the oracle still pins
    exactly. The float production kernel (AnnIndex.build) keeps its
    recall property tests in tests/test_ann.py and its exactness gate
    in q_ann_search_exact."""
    from radient_spark.ann import AnnIndex

    emb = load_tables(spark, sf_dir)["embeddings"].select(
        F.col("vec_id").alias("id"), F.col("embedding").alias("vector")
    )
    index = AnnIndex.build_lattice(
        emb, n_trees=2, levels=2, spill_pm=100, seed=42
    )
    rows = emb.orderBy("id").limit(10).collect()
    queries = [(int(r["id"]), list(r["vector"])) for r in rows]
    return index.search(queries, k=10, metric="cosine")


def q_ivf_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF PRUNED search (n_probes=4 of 16 cells), fully value-oracled:
    the coarse quantizer is the integer-lattice k-means
    (operators/cluster.kmeans_fit, oracle = the unrolled-Lloyd CTEs),
    the inverted file is the exact Catalyst argmin assignment, and the
    probe runs through IvfIndex.search_df with `probe_vec` carrying the
    micro-quantized query — cell selection is exact integer L2 (stable
    ties to the lower cell id) while scoring still uses the original
    float vectors, so DuckDB replays probe + rerank hash-for-hash
    (_ivf_search_sql). The float-quantizer production path keeps its
    recall tests + the n_probes=n_cells exactness gate
    (q_ivf_search_exact)."""
    from radient_spark.ann import IvfIndex

    emb = load_tables(spark, sf_dir)["embeddings"]
    index = IvfIndex.build_lattice(
        emb, id_col="vec_id", vec_col="embedding", n_cells=16, iters=1,
        seed=42,
    )
    qdf = (
        emb.orderBy("vec_id")
        .limit(10)
        .select(
            F.col("vec_id").alias("qid"), F.col("embedding").alias("qvec")
        )
    )
    return index.search_df(qdf, k=10, n_probes=4)


def _ivf_search_sql(
    k_cells: int = 16,
    iters: int = 1,
    seed: int = 42,
    n_probes: int = 4,
    k: int = 10,
    nq: int = 10,
) -> str:
    """Value oracle for the PRUNED IVF search: unrolled-Lloyd centroid
    CTEs + exact-integer probe ranking + the repo-wide rounded-cosine
    rerank contract."""
    with_clause, cfinal, afinal = _kmeans_cte(k_cells, iters, seed)
    sim = (
        "round(list_dot_product(e.embedding::DOUBLE[], q.qvec::DOUBLE[])"
        " / (sqrt(list_dot_product(e.embedding::DOUBLE[], e.embedding::DOUBLE[]))"
        " * sqrt(list_dot_product(q.qvec::DOUBLE[], q.qvec::DOUBLE[]))), 6)"
    )
    return f"""{with_clause},
q AS (
  SELECT vec_id AS qid, embedding AS qvec
  FROM embeddings ORDER BY vec_id LIMIT {nq}
), qpts AS (
  SELECT qid, u.i AS dim,
    CAST(round(CAST(qvec[u.i] AS DOUBLE) * 1000000, 0) AS BIGINT)
      + 4000000 AS v
  FROM q, unnest(range(1, len(qvec) + 1)) AS u(i)
), qcell AS (
  SELECT qid, c FROM (
    SELECT qp.qid, cf.c,
      row_number() OVER (PARTITION BY qp.qid
        ORDER BY SUM((qp.v - cf.cv) * (qp.v - cf.cv)), cf.c) AS rn
    FROM qpts qp JOIN {cfinal} cf ON qp.dim = cf.dim
    GROUP BY qp.qid, cf.c
  ) WHERE rn <= {n_probes}
), scored AS (
  SELECT qc.qid, a.vec_id AS id, {sim} AS score
  FROM qcell qc JOIN {afinal} a ON a.c = qc.c
  JOIN embeddings e ON e.vec_id = a.vec_id
  JOIN q ON q.qid = qc.qid
)
SELECT qid, id, score FROM (
  SELECT qid, id, score,
    row_number() OVER (PARTITION BY qid ORDER BY score DESC, id ASC) AS rn
  FROM scored
) WHERE rn <= {k}
"""


def _ann_lattice_sql(
    n_trees: int = 2,
    levels: int = 2,
    spill_pm: int = 100,
    seed: int = 42,
    k: int = 10,
    nq: int = 10,
) -> str:
    """Value oracle for the PRUNED lattice-forest search: replays
    AnnIndex.build_lattice level by level (md5 seeds, one integer Lloyd
    step, hyperplane w = m1 - m0, exact-long projections, order-statistic
    spill cuts, <=hi / >=lo child assignment), then descends each query
    (right iff proj > mid), dedups candidates across trees, and applies
    the rounded-cosine top-k contract."""
    # asg{L+1} reads pj{L} and ct{L} twice, and w{L} joins m{L} to itself;
    # without MATERIALIZED DuckDB inlines the CTEs, the plan grows
    # exponentially with levels and the oracle runs out of memory. Every
    # window orders by a unique key, so materializing changes how each
    # CTE is evaluated, not what it returns
    parts = [
        f"""pts AS MATERIALIZED (
  SELECT vec_id, u.i AS dim,
    CAST(round(CAST(embedding[u.i] AS DOUBLE) * 1000000, 0) AS BIGINT)
      + 4000000 AS v
  FROM embeddings, unnest(range(1, len(embedding) + 1)) AS u(i)
), asg0 AS MATERIALIZED (
  SELECT vec_id, t.t::INT AS tree, 0 AS leaf
  FROM embeddings, unnest(range(0, {n_trees})) AS t(t)
)"""
    ]
    for L in range(levels):
        parts.append(f"""sd{L} AS MATERIALIZED (
  SELECT tree, leaf, vec_id,
    row_number() OVER (PARTITION BY tree, leaf
      ORDER BY ('0x' || substring(md5(concat_ws('_', {seed}, {L}, tree, leaf, vec_id)), 1, 8))::BIGINT,
               vec_id) - 1 AS r
  FROM asg{L}
  QUALIFY r < 2
), sc{L} AS MATERIALIZED (
  SELECT s.tree, s.leaf, s.r, p.dim, p.v AS cv
  FROM sd{L} s JOIN pts p USING (vec_id)
), nr{L} AS MATERIALIZED (
  SELECT a.vec_id, a.tree, a.leaf, sc.r,
    SUM((p.v - sc.cv) * (p.v - sc.cv)) AS d
  FROM asg{L} a JOIN pts p USING (vec_id)
  JOIN sc{L} sc ON sc.tree = a.tree AND sc.leaf = a.leaf AND sc.dim = p.dim
  GROUP BY a.vec_id, a.tree, a.leaf, sc.r
  QUALIFY row_number() OVER (
    PARTITION BY a.vec_id, a.tree, a.leaf ORDER BY d, sc.r) = 1
), m{L} AS MATERIALIZED (
  SELECT sc.tree, sc.leaf, sc.r, sc.dim, COALESCE(mm.mv, sc.cv) AS mv
  FROM sc{L} sc LEFT JOIN (
    SELECT n.tree, n.leaf, n.r, p.dim, SUM(p.v) // COUNT(*) AS mv
    FROM nr{L} n JOIN pts p USING (vec_id)
    GROUP BY n.tree, n.leaf, n.r, p.dim
  ) mm ON sc.tree = mm.tree AND sc.leaf = mm.leaf
      AND sc.r = mm.r AND sc.dim = mm.dim
), w{L} AS MATERIALIZED (
  SELECT m1.tree, m1.leaf, m1.dim, m1.mv - m0.mv AS wv
  FROM m{L} m1 JOIN m{L} m0
    ON m1.tree = m0.tree AND m1.leaf = m0.leaf AND m1.dim = m0.dim
  WHERE m1.r = 1 AND m0.r = 0
), pj{L} AS MATERIALIZED (
  SELECT a.vec_id, a.tree, a.leaf, SUM(p.v * w.wv) AS pr
  FROM asg{L} a JOIN pts p USING (vec_id)
  JOIN w{L} w ON w.tree = a.tree AND w.leaf = a.leaf AND w.dim = p.dim
  GROUP BY a.vec_id, a.tree, a.leaf
), ct{L} AS MATERIALIZED (
  SELECT tree, leaf,
    MAX(CASE WHEN rn = lo_r THEN pr END) AS lo,
    MAX(CASE WHEN rn = mid_r THEN pr END) AS mid,
    MAX(CASE WHEN rn = hi_r THEN pr END) AS hi
  FROM (
    SELECT tree, leaf, pr, vec_id,
      row_number() OVER (PARTITION BY tree, leaf ORDER BY pr, vec_id) AS rn,
      GREATEST(1, (COUNT(*) OVER (PARTITION BY tree, leaf) * {500 - spill_pm} + 999) // 1000) AS lo_r,
      (COUNT(*) OVER (PARTITION BY tree, leaf) * 500 + 999) // 1000 AS mid_r,
      LEAST(COUNT(*) OVER (PARTITION BY tree, leaf),
            (COUNT(*) OVER (PARTITION BY tree, leaf) * {500 + spill_pm} + 999) // 1000) AS hi_r
    FROM pj{L}
  ) GROUP BY tree, leaf
), asg{L + 1} AS MATERIALIZED (
  SELECT p.vec_id, p.tree, p.leaf * 2 AS leaf
  FROM pj{L} p JOIN ct{L} c ON p.tree = c.tree AND p.leaf = c.leaf
  WHERE p.pr <= c.hi
  UNION ALL
  SELECT p.vec_id, p.tree, p.leaf * 2 + 1 AS leaf
  FROM pj{L} p JOIN ct{L} c ON p.tree = c.tree AND p.leaf = c.leaf
  WHERE p.pr >= c.lo
)""")
    parts.append(f"""q AS MATERIALIZED (
  SELECT vec_id AS qid, embedding AS qvec
  FROM embeddings ORDER BY vec_id LIMIT {nq}
), qpts AS MATERIALIZED (
  SELECT qid, u.i AS dim,
    CAST(round(CAST(qvec[u.i] AS DOUBLE) * 1000000, 0) AS BIGINT)
      + 4000000 AS v
  FROM q, unnest(range(1, len(qvec) + 1)) AS u(i)
), qn0 AS MATERIALIZED (
  SELECT qid, t.t::INT AS tree, 0 AS node
  FROM q, unnest(range(0, {n_trees})) AS t(t)
)""")
    for L in range(levels):
        parts.append(f"""qp{L} AS MATERIALIZED (
  SELECT a.qid, a.tree, a.node, SUM(p.v * w.wv) AS pr
  FROM qn{L} a JOIN qpts p USING (qid)
  JOIN w{L} w ON w.tree = a.tree AND w.leaf = a.node AND w.dim = p.dim
  GROUP BY a.qid, a.tree, a.node
), qn{L + 1} AS MATERIALIZED (
  SELECT p.qid, p.tree,
    p.node * 2 + CASE WHEN p.pr > c.mid THEN 1 ELSE 0 END AS node
  FROM qp{L} p JOIN ct{L} c ON p.tree = c.tree AND c.leaf = p.node
)""")
    sim = (
        "round(list_dot_product(e.embedding::DOUBLE[], q.qvec::DOUBLE[])"
        " / (sqrt(list_dot_product(e.embedding::DOUBLE[], e.embedding::DOUBLE[]))"
        " * sqrt(list_dot_product(q.qvec::DOUBLE[], q.qvec::DOUBLE[]))), 6)"
    )
    return ("WITH " + ",\n".join(parts) + f""",
cand AS MATERIALIZED (
  SELECT DISTINCT qn.qid, a.vec_id AS id
  FROM qn{levels} qn JOIN asg{levels} a
    ON a.tree = qn.tree AND a.leaf = qn.node
), scored AS MATERIALIZED (
  SELECT c.qid, c.id, {sim} AS score
  FROM cand c
  JOIN embeddings e ON e.vec_id = c.id
  JOIN q ON q.qid = c.qid
)
SELECT qid, id, score FROM (
  SELECT qid, id, score,
    row_number() OVER (PARTITION BY qid ORDER BY score DESC, id ASC) AS rn
  FROM scored
) WHERE rn <= {k}
""")


def q_ann_search_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Forest ANN search pinned to a hash-matched oracle: at spill=0.5
    the balanced-bisection build spills EVERY row into both children
    (lo/hi cuts are the min/max projection), so whatever leaf a query
    descends to holds the full corpus and the search IS exact top-k —
    the same degenerate-configuration trick as q_ivf_search_exact. This
    drives the whole forest machinery (build loop, descent, partition
    pruning predicate, broadcast join, cross-tree dedup, rerank window)
    under the driver's value gate; the pruned realistic configuration
    stays rows-only + recall-tested (tests/test_ann.py)."""
    from radient_spark.ann import AnnIndex

    emb = load_tables(spark, sf_dir)["embeddings"].select(
        F.col("vec_id").alias("id"), F.col("embedding").alias("vector")
    )
    index = AnnIndex.build(
        emb, n_trees=1, max_leaf_size=1 << 30, spill=0.5, seed=42
    )
    rows = emb.orderBy("id").limit(10).collect()
    queries = [(int(r["id"]), list(r["vector"])) for r in rows]
    return index.search(queries, k=10)


def q_ivf_search_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF search with n_probes = n_cells: every cell is probed, so the
    result IS the exact top-k — which DuckDB expresses directly as a
    cross join + per-query window. This pins the whole IVF pipeline
    (k-means cells -> cell-partitioned index -> executor-side probe ->
    rerank window) to a hash-matched oracle; the pruned n_probes < n_cells
    variant stays rows-only + recall-tested (tests/test_ann.py)."""
    from radient_spark.ann import IvfIndex

    emb = load_tables(spark, sf_dir)["embeddings"].select(
        F.col("vec_id").alias("id"), F.col("embedding").alias("vector")
    )
    index = IvfIndex.build(emb, n_cells=16, seed=42)
    qdf = (
        emb.orderBy("id")
        .limit(10)
        .select(F.col("id").alias("qid"), F.col("vector").alias("qvec"))
    )
    return index.search_df(qdf, k=10, n_probes=16)


_Q_IVF_EXACT_SQL = """
WITH q AS (
  SELECT vec_id AS qid, embedding AS qvec
  FROM embeddings ORDER BY vec_id LIMIT 10
), scored AS (
  SELECT q.qid, e.vec_id AS id,
    round(list_dot_product(e.embedding::DOUBLE[], q.qvec::DOUBLE[])
          / (sqrt(list_dot_product(e.embedding::DOUBLE[], e.embedding::DOUBLE[]))
             * sqrt(list_dot_product(q.qvec::DOUBLE[], q.qvec::DOUBLE[]))), 6) AS score
  FROM embeddings e CROSS JOIN q
), ranked AS (
  SELECT qid, id, score,
    row_number() OVER (PARTITION BY qid ORDER BY score DESC, id ASC) AS rn
  FROM scored
)
SELECT qid, id, score FROM ranked WHERE rn <= 10
"""


# ---------------------------------------------------------------------------
# Relational batch 5: the remaining TPC-H query shapes, adapted to the
# driver's slimmer schema (no partsupp table; lineitem lacks commitdate /
# receiptdate / shipmode — see TESTDATA.md). Each keeps the operator shape
# that makes the original interesting: EXISTS semi-joins (Q4), pure
# filter+agg pushdown (Q6), big fact join with profit rollup (Q9),
# returned-item top-k (Q10), HAVING-vs-global-scalar (Q11), two-bucket
# conditional agg (Q12), outer-join count-of-counts (Q13), argmax via
# scalar subquery (Q15), correlated scalar avg (Q17), OR-of-ANDs pushdown
# (Q19), semi+anti self-joins (Q21).


def q04_priority_late_ship(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 shape: EXISTS -> left-semi join + priority counts. The
    schema has no commitdate/receiptdate, so "late" = a lineitem shipped
    more than 90 days after the order date. The quarter filter pushes to
    the orders scan; the semi join shuffles only (orderkey, shipdate)."""
    t = load_tables(spark, sf_dir)
    orders = t["orders"].filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1996-04-01").cast("timestamp"))
    )
    li = t["lineitem"].select("l_orderkey", "l_shipdate")
    return (
        orders.join(
            li,
            (F.col("o_orderkey") == F.col("l_orderkey"))
            & (F.col("l_shipdate")
               > F.col("o_orderdate") + F.expr("INTERVAL 90 DAYS")),
            "left_semi",
        )
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("order_count"))
        .orderBy("o_orderpriority")
    )


_Q04_SQL = """
SELECT o_orderpriority, COUNT(*) AS order_count
FROM orders
WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND o_orderdate < TIMESTAMP '1996-04-01 00:00:00'
  AND EXISTS (
    SELECT 1 FROM lineitem
    WHERE l_orderkey = o_orderkey
      AND l_shipdate > o_orderdate + INTERVAL 90 DAY)
GROUP BY o_orderpriority
ORDER BY o_orderpriority
"""


def q06_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6: single-table filter + ungrouped agg. All three predicates
    and the 2-column projection push into the parquet scan — the plan is
    one scan stage with a partial/final agg, no shuffle of data rows."""
    li = load_tables(spark, sf_dir)["lineitem"]
    return li.filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
        & (F.col("l_discount") >= 0.04)
        & (F.col("l_discount") <= 0.06)
        & (F.col("l_quantity") < 24)
    ).agg(dsum(F.col("l_extendedprice") * F.col("l_discount"), "revenue"))


_Q06_SQL = """
SELECT CAST(SUM(CAST(l_extendedprice * l_discount AS DECIMAL(18,6))) AS DOUBLE) AS revenue
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
  AND l_discount >= 0.04 AND l_discount <= 0.06
  AND l_quantity < 24
"""


def q09_product_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9 shape: fact join over part/supplier/nation/orders grouped
    by (nation, year). No partsupp table, so unit supply cost is proxied
    as 10% of p_retailprice. part/supplier/nation broadcast (dims);
    orders joins on the shuffled orderkey — the one big shuffle."""
    t = load_tables(spark, sf_dir)
    part = t["part"].filter(F.col("p_name").contains("red"))
    amount = _disc_price() - (
        F.col("p_retailprice") * F.col("l_quantity") * F.lit(0.1)
    )
    return (
        t["lineitem"]
        .join(F.broadcast(part), F.col("l_partkey") == F.col("p_partkey"))
        .join(F.broadcast(t["supplier"]),
              F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(t["nation"]),
              F.col("s_nationkey") == F.col("n_nationkey"))
        .join(t["orders"], F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy(F.col("n_name").alias("nation"),
                 F.year("o_orderdate").alias("o_year"))
        .agg(dsum(amount, "sum_profit"))
        .orderBy("nation", F.col("o_year").desc())
    )


_Q09_SQL = """
SELECT n_name AS nation,
  CAST(EXTRACT(year FROM o_orderdate) AS INTEGER) AS o_year,
  CAST(SUM(CAST(l_extendedprice * (1 - l_discount)
                - p_retailprice * l_quantity * 0.1
           AS DECIMAL(18,6))) AS DOUBLE) AS sum_profit
FROM lineitem
JOIN part ON l_partkey = p_partkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation ON s_nationkey = n_nationkey
JOIN orders ON l_orderkey = o_orderkey
WHERE p_name LIKE '%red%'
GROUP BY n_name, o_year
ORDER BY n_name, o_year DESC
"""


def q10_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10: returned-item revenue per customer over one quarter,
    deterministic top-20 (revenue desc, custkey tiebreak). nation is
    broadcast; customer joins post-aggregation would be smaller but the
    grouping needs customer attrs, so AQE picks the strategy."""
    t = load_tables(spark, sf_dir)
    orders = t["orders"].filter(
        (F.col("o_orderdate") >= F.lit("1995-10-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1996-01-01").cast("timestamp"))
    )
    li = t["lineitem"].filter(F.col("l_returnflag") == "R")
    return (
        li.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(t["customer"], F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(t["nation"]),
              F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy("c_custkey", "c_name", "c_acctbal", "n_name")
        .agg(dsum(_disc_price(), "revenue"))
        .orderBy(F.col("revenue").desc(), F.col("c_custkey").asc())
        .limit(20)
    )


_Q10_SQL = """
SELECT c_custkey, c_name, c_acctbal, n_name,
  CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))) AS DOUBLE) AS revenue
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation ON c_nationkey = n_nationkey
WHERE l_returnflag = 'R'
  AND o_orderdate >= TIMESTAMP '1995-10-01 00:00:00'
  AND o_orderdate < TIMESTAMP '1996-01-01 00:00:00'
GROUP BY c_custkey, c_name, c_acctbal, n_name
ORDER BY revenue DESC, c_custkey ASC
LIMIT 20
"""


def q11_important_part_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11 shape: per-group value filtered against a global scalar
    aggregate (HAVING > fraction of total). No partsupp, so "stock value"
    per part = shipped quantity x retail price from EUROPE suppliers.
    The 0.1% threshold is a broadcast one-row cross join; both branches
    reuse one aggregated frame. Determinism: per-part value = exact
    decimal qty sum x retail price; the global total re-sums those
    per-part doubles through decimal, so both engines agree bitwise."""
    t = load_tables(spark, sf_dir)
    eur_nations = t["nation"].join(
        F.broadcast(t["region"].filter(F.col("r_name") == "EUROPE")),
        F.col("n_regionkey") == F.col("r_regionkey"),
    )
    eur_supp = (
        t["supplier"]
        .join(F.broadcast(eur_nations),
              F.col("s_nationkey") == F.col("n_nationkey"))
        .select("s_suppkey")
    )
    per_part = (
        t["lineitem"]
        .join(F.broadcast(eur_supp), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(t["part"]), F.col("l_partkey") == F.col("p_partkey"))
        .groupBy("p_partkey", "p_retailprice")
        .agg(F.sum(F.col("l_quantity").cast("decimal(18,6)"))
             .cast("double").alias("sum_qty"))
        .select(
            "p_partkey",
            (F.col("sum_qty") * F.col("p_retailprice")).alias("part_value"),
        )
    )
    threshold = per_part.agg(
        (F.sum(F.col("part_value").cast("decimal(18,6)")).cast("double")
         * F.lit(0.001)).alias("thresh")
    )
    return (
        per_part.crossJoin(F.broadcast(threshold))
        .filter(F.col("part_value") > F.col("thresh"))
        .select("p_partkey", "part_value")
        .orderBy(F.col("part_value").desc(), F.col("p_partkey"))
    )


_Q11_SQL = """
WITH pv AS (
  SELECT p_partkey,
    CAST(SUM(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE) * p_retailprice AS part_value
  FROM lineitem
  JOIN supplier ON l_suppkey = s_suppkey
  JOIN nation ON s_nationkey = n_nationkey
  JOIN region ON n_regionkey = r_regionkey
  JOIN part ON l_partkey = p_partkey
  WHERE r_name = 'EUROPE'
  GROUP BY p_partkey, p_retailprice
)
SELECT p_partkey, part_value FROM pv
WHERE part_value > (
  SELECT CAST(SUM(CAST(part_value AS DECIMAL(18,6))) AS DOUBLE) * 0.001 FROM pv)
ORDER BY part_value DESC, p_partkey
"""


def q12_priority_class_by_flag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12 shape: join + two-bucket conditional aggregation. The
    schema has no l_shipmode, so the bucket key is l_returnflag; the
    CASE-WHEN counts split orders into critical/non-critical priority."""
    t = load_tables(spark, sf_dir)
    li = t["lineitem"].filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
    )
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.join(t["orders"], F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy("l_returnflag")
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).alias("high_line_count"),
            F.sum(F.when(high, 0).otherwise(1)).alias("low_line_count"),
        )
        .orderBy("l_returnflag")
    )


_Q12_SQL = """
SELECT l_returnflag,
  CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
  CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
GROUP BY l_returnflag
ORDER BY l_returnflag
"""


def q13_customer_order_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13: customer LEFT JOIN orders -> orders-per-customer ->
    count-of-counts distribution. Two aggregation levels; the second
    groups a customer-sized frame on a tiny key domain, so AQE coalesces
    it to a handful of partitions."""
    t = load_tables(spark, sf_dir)
    orders = t["orders"].filter(F.col("o_orderpriority") != "5-LOW")
    per_cust = (
        t["customer"]
        .join(orders, F.col("c_custkey") == F.col("o_custkey"), "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return (
        per_cust.groupBy("c_count")
        .agg(F.count(F.lit(1)).alias("custdist"))
        .orderBy(F.col("custdist").desc(), F.col("c_count").desc())
    )


_Q13_SQL = """
SELECT c_count, COUNT(*) AS custdist
FROM (
  SELECT c_custkey, COUNT(o_orderkey) AS c_count
  FROM customer
  LEFT JOIN orders ON c_custkey = o_custkey AND o_orderpriority <> '5-LOW'
  GROUP BY c_custkey
)
GROUP BY c_count
ORDER BY custdist DESC, c_count DESC
"""


def q15_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15: revenue per supplier over one quarter, keep the max.
    The max is a one-row broadcast; equality on it is safe because both
    sides derive the double from the same exact decimal sum."""
    t = load_tables(spark, sf_dir)
    li = t["lineitem"].filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1996-04-01").cast("timestamp"))
    )
    rev = li.groupBy(F.col("l_suppkey").alias("supplier_no")).agg(
        dsum(_disc_price(), "total_revenue")
    )
    mx = rev.agg(F.max("total_revenue").alias("mx"))
    return (
        rev.crossJoin(F.broadcast(mx))
        .filter(F.col("total_revenue") == F.col("mx"))
        .join(F.broadcast(t["supplier"]),
              F.col("supplier_no") == F.col("s_suppkey"))
        .select("s_suppkey", "s_name", "total_revenue")
        .orderBy("s_suppkey")
    )


_Q15_SQL = """
WITH revenue AS (
  SELECT l_suppkey AS supplier_no,
    CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))) AS DOUBLE) AS total_revenue
  FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
    AND l_shipdate < TIMESTAMP '1996-04-01 00:00:00'
  GROUP BY l_suppkey
)
SELECT s_suppkey, s_name, total_revenue
FROM revenue JOIN supplier ON supplier_no = s_suppkey
WHERE total_revenue = (SELECT MAX(total_revenue) FROM revenue)
ORDER BY s_suppkey
"""


def q17_small_quantity_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17: correlated scalar avg decorrelated into a broadcast join
    on the per-part average quantity; one-row output. The avg is an exact
    decimal sum / count on both sides, so the < threshold comparison is
    bit-deterministic."""
    t = load_tables(spark, sf_dir)
    part = t["part"].filter(F.col("p_brand") == "Brand#23")
    joined = t["lineitem"].join(
        F.broadcast(part), F.col("l_partkey") == F.col("p_partkey")
    )
    avg_q = joined.groupBy(F.col("p_partkey").alias("ap_partkey")).agg(
        (F.sum(F.col("l_quantity").cast("decimal(18,6)")).cast("double")
         / F.count(F.lit(1))).alias("avg_qty")
    )
    return (
        joined.join(F.broadcast(avg_q),
                    F.col("p_partkey") == F.col("ap_partkey"))
        .filter(F.col("l_quantity") < F.lit(0.2) * F.col("avg_qty"))
        .agg(
            (F.sum(F.col("l_extendedprice").cast("decimal(18,6)"))
             .cast("double") / F.lit(7.0)).alias("avg_yearly")
        )
    )


_Q17_SQL = """
SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,6))) AS DOUBLE) / 7.0 AS avg_yearly
FROM lineitem
JOIN part ON l_partkey = p_partkey
WHERE p_brand = 'Brand#23'
  AND l_quantity < 0.2 * (
    SELECT CAST(SUM(CAST(l2.l_quantity AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*)
    FROM lineitem l2 WHERE l2.l_partkey = p_partkey)
"""


def q19_disjunctive_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19: OR-of-ANDs across a join. Catalyst keeps the common
    l_partkey = p_partkey equi-join and pushes the per-branch
    brand/size/quantity conjuncts down to both scans (CNF extraction);
    part is broadcast."""
    t = load_tables(spark, sf_dir)
    joined = t["lineitem"].join(
        F.broadcast(t["part"]), F.col("l_partkey") == F.col("p_partkey")
    )
    cond = (
        ((F.col("p_brand") == "Brand#12")
         & F.col("p_size").between(1, 5)
         & F.col("l_quantity").between(1, 11))
        | ((F.col("p_brand") == "Brand#23")
           & F.col("p_size").between(1, 10)
           & F.col("l_quantity").between(10, 20))
        | ((F.col("p_brand") == "Brand#34")
           & F.col("p_size").between(1, 15)
           & F.col("l_quantity").between(20, 30))
    )
    return joined.filter(cond).agg(dsum(_disc_price(), "revenue"))


_Q19_SQL = """
SELECT CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))) AS DOUBLE) AS revenue
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 5  AND l_quantity BETWEEN 1 AND 11)
   OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 10 AND l_quantity BETWEEN 10 AND 20)
   OR (p_brand = 'Brand#34' AND p_size BETWEEN 1 AND 15 AND l_quantity BETWEEN 20 AND 30)
"""


def q21_waiting_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21 shape: semi + anti self-joins on lineitem. "Late" = shipped
    more than 100 days after the order date (no receipt/commit dates in
    this schema) on a finished multi-supplier order where this supplier is
    the only late one. The two self-join probes reuse the same shuffle
    key (l_orderkey); supplier is broadcast for the final name lookup."""
    t = load_tables(spark, sf_dir)
    orders = t["orders"].filter(F.col("o_orderstatus") == "F").select(
        "o_orderkey", "o_orderdate"
    )
    late_cut = F.col("o_orderdate") + F.expr("INTERVAL 100 DAYS")
    l1 = (
        t["lineitem"]
        .join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .filter(F.col("l_shipdate") > late_cut)
        .select("l_orderkey", "l_suppkey", "o_orderdate")
    )
    l2 = t["lineitem"].select(
        F.col("l_orderkey").alias("lo2"), F.col("l_suppkey").alias("ls2")
    )
    l3 = t["lineitem"].select(
        F.col("l_orderkey").alias("lo3"),
        F.col("l_suppkey").alias("ls3"),
        F.col("l_shipdate").alias("lsd3"),
    )
    waiting = (
        l1.join(
            l2,
            (F.col("l_orderkey") == F.col("lo2"))
            & (F.col("l_suppkey") != F.col("ls2")),
            "left_semi",
        ).join(
            l3,
            (F.col("l_orderkey") == F.col("lo3"))
            & (F.col("l_suppkey") != F.col("ls3"))
            & (F.col("lsd3")
               > F.col("o_orderdate") + F.expr("INTERVAL 100 DAYS")),
            "left_anti",
        )
    )
    return (
        waiting.join(F.broadcast(t["supplier"]),
                     F.col("l_suppkey") == F.col("s_suppkey"))
        .groupBy("s_name")
        .agg(F.count(F.lit(1)).alias("numwait"))
        .orderBy(F.col("numwait").desc(), F.col("s_name"))
        .limit(20)
    )


def q20_dominant_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q20 shape: nested aggregate feeding the outer supplier
    lookup. No partsupp/availqty in this schema, so the predicate
    becomes "supplier shipped more than 2.5x the average supplier's
    share of a part's total quantity" for parts named like gear. Both
    aggregation levels ride the same lineitem scan; the part filter is
    broadcast into it. Determinism: both quantities are exact decimal
    sums and the supplier count is an integer, so the threshold
    comparison is bitwise-identical in both engines."""
    t = load_tables(spark, sf_dir)
    part = t["part"].filter(F.col("p_name").contains("gear")).select("p_partkey")
    li = t["lineitem"].join(
        F.broadcast(part), F.col("l_partkey") == F.col("p_partkey")
    )
    per_ps = li.groupBy("l_partkey", "l_suppkey").agg(
        F.sum(F.col("l_quantity").cast("decimal(18,6)"))
        .cast("double").alias("supp_qty")
    )
    per_p = li.groupBy(F.col("l_partkey").alias("pp")).agg(
        F.sum(F.col("l_quantity").cast("decimal(18,6)"))
        .cast("double").alias("part_qty"),
        F.count_distinct(F.col("l_suppkey")).alias("n_supp"),
    )
    dominant = per_ps.join(per_p, F.col("l_partkey") == F.col("pp")).filter(
        F.col("supp_qty") * F.col("n_supp") > F.lit(2.5) * F.col("part_qty")
    )
    return (
        dominant.groupBy("l_suppkey")
        .agg(F.count(F.lit(1)).alias("n_dominated"))
        .join(F.broadcast(t["supplier"]),
              F.col("l_suppkey") == F.col("s_suppkey"))
        .select("s_suppkey", "s_name", "n_dominated")
        .orderBy("s_suppkey")
    )


_Q20_SQL = """
WITH li AS (
  SELECT l_partkey, l_suppkey, l_quantity
  FROM lineitem JOIN part ON l_partkey = p_partkey
  WHERE p_name LIKE '%gear%'
), per_ps AS (
  SELECT l_partkey, l_suppkey,
    CAST(SUM(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE) AS supp_qty
  FROM li GROUP BY l_partkey, l_suppkey
), per_p AS (
  SELECT l_partkey AS pp,
    CAST(SUM(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE) AS part_qty,
    COUNT(DISTINCT l_suppkey) AS n_supp
  FROM li GROUP BY l_partkey
)
SELECT s_suppkey, s_name, n_dominated FROM (
  SELECT l_suppkey, COUNT(*) AS n_dominated
  FROM per_ps JOIN per_p ON l_partkey = pp
  WHERE supp_qty * n_supp > 2.5 * part_qty
  GROUP BY l_suppkey
) JOIN supplier ON l_suppkey = s_suppkey
ORDER BY s_suppkey
"""


_Q21_SQL = """
SELECT s_name, COUNT(*) AS numwait
FROM lineitem l1
JOIN orders ON l1.l_orderkey = o_orderkey
JOIN supplier ON l1.l_suppkey = s_suppkey
WHERE o_orderstatus = 'F'
  AND l1.l_shipdate > o_orderdate + INTERVAL 100 DAY
  AND EXISTS (
    SELECT 1 FROM lineitem l2
    WHERE l2.l_orderkey = l1.l_orderkey AND l2.l_suppkey <> l1.l_suppkey)
  AND NOT EXISTS (
    SELECT 1 FROM lineitem l3
    WHERE l3.l_orderkey = l1.l_orderkey AND l3.l_suppkey <> l1.l_suppkey
      AND l3.l_shipdate > o_orderdate + INTERVAL 100 DAY)
GROUP BY s_name
ORDER BY numwait DESC, s_name
LIMIT 20
"""


def q_decontamination_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination (operators/dataset.py decontaminate):
    docs with doc_id % 10 == 0 stand in for the eval suite; every other
    doc is training data. Per source: how many training docs share at
    least one 4-gram with the eval set, and how many distinct grams hit.
    The eval gram-hash set is broadcast; the corpus is never shuffled.
    Counts are integers, so the DuckDB oracle matches bit-for-bit."""
    from radient_spark.operators.dataset import decontaminate

    docs = load_tables(spark, sf_dir)["documents"].filter(
        F.length(F.trim("text")) > 0
    )
    ev = docs.filter(F.col("doc_id") % 10 == 0)
    tr = docs.filter(F.col("doc_id") % 10 != 0)
    flagged = decontaminate(tr, ev, "text", "doc_id", n=4)
    return flagged.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_train_docs"),
        F.sum((F.col("n_hit_grams") > 0).cast("long")).alias("n_contaminated"),
        F.sum("n_hit_grams").cast("long").alias("total_hit_grams"),
    )


_Q_DECONTAM_SQL = r"""
WITH docs AS (
  SELECT doc_id, source, regexp_split_to_array(trim(text), '\s+') AS toks
  FROM documents WHERE length(trim(text)) > 0
), grams AS (
  SELECT doc_id, source,
    unnest(CASE WHEN len(toks) < 4 THEN [array_to_string(toks, ' ')]
           ELSE list_transform(range(1, len(toks) - 2),
                               i -> array_to_string(toks[i:i+3], ' ')) END) AS g
  FROM docs
), hashes AS (
  SELECT DISTINCT doc_id, ('0x' || substring(md5(g), 1, 8))::BIGINT AS h
  FROM grams
), ev AS (
  SELECT DISTINCT h FROM hashes WHERE doc_id % 10 = 0
), hits AS (
  SELECT t.doc_id, COUNT(*) AS nhit
  FROM hashes t JOIN ev USING (h)
  WHERE t.doc_id % 10 <> 0
  GROUP BY t.doc_id
), tr AS (
  SELECT d.source, COALESCE(hits.nhit, 0) AS nhit
  FROM docs d LEFT JOIN hits USING (doc_id)
  WHERE d.doc_id % 10 <> 0
)
SELECT source, COUNT(*) AS n_train_docs,
  CAST(SUM((nhit > 0)::BIGINT) AS BIGINT) AS n_contaminated,
  SUM(nhit)::BIGINT AS total_hit_grams
FROM tr GROUP BY source
"""


def q_temperature_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-based language rebalancing (operators/dataset.py
    temperature_sample): keep-rate sqrt(n_min/n_lang) per language, rows
    selected by portable md5 bucket — the mT5-style mixing step. The only
    float ops (one IEEE division, one sqrt) are correctly-rounded in both
    engines, so thresholds and sampled counts hash-match exactly."""
    from radient_spark.operators.dataset import (
        temperature_sample,
        temperature_thresholds,
    )

    docs = load_tables(spark, sf_dir)["documents"]
    thr = temperature_thresholds(docs, "lang")
    kept = temperature_sample(docs, "lang", "doc_id", seed=42)
    after = kept.groupBy("lang").agg(F.count(F.lit(1)).alias("n_after"))
    return thr.join(after, "lang", "left").select(
        "lang",
        "n_before",
        "keep_threshold",
        F.coalesce(F.col("n_after"), F.lit(0)).alias("n_after"),
    )


_Q_TEMPERATURE_SQL = """
WITH counts AS (
  SELECT lang, COUNT(*) AS n_before FROM documents GROUP BY lang
), thr AS (
  SELECT lang, n_before,
    CAST(FLOOR(sqrt((MIN(n_before) OVER ())::DOUBLE / n_before::DOUBLE)
               * 10000) AS BIGINT) AS keep_threshold
  FROM counts
), kept AS (
  SELECT d.lang
  FROM documents d JOIN thr USING (lang)
  WHERE ('0x' || substring(md5(concat_ws('_', 42, doc_id)), 1, 8))::BIGINT
        % 10000 < keep_threshold
)
SELECT t.lang, t.n_before, t.keep_threshold,
  COALESCE(k.n_after, 0) AS n_after
FROM thr t LEFT JOIN (
  SELECT lang, COUNT(*) AS n_after FROM kept GROUP BY lang
) k USING (lang)
"""


def q_repeated_ngram_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Suffix-array-style repeated-substring dedup (operators/dedup.py
    repeated_ngram_coverage, after Lee et al. 2021): per document, the
    union length of token spans covered by 5-grams that occur >= 2 times
    anywhere in the corpus. All arithmetic is integer (positions, interval
    union, md5 hashes) except one final IEEE division, so the oracle
    matches bitwise."""
    from radient_spark.operators.dedup import repeated_ngram_coverage

    docs = load_tables(spark, sf_dir)["documents"]
    return repeated_ngram_coverage(docs, "text", "doc_id", n=5)


_Q_REPEATED_NGRAM_SQL = r"""
WITH t AS (
  SELECT doc_id,
    CASE WHEN length(trim(text)) = 0 THEN []::VARCHAR[]
         ELSE regexp_split_to_array(trim(text), '\s+') END AS toks
  FROM documents
), g AS (
  SELECT doc_id, len(toks) AS n_tokens,
    CASE WHEN len(toks) = 0 THEN []::VARCHAR[]
         WHEN len(toks) < 5 THEN [array_to_string(toks, ' ')]
         ELSE list_transform(generate_series(1, len(toks) - 4),
                             i -> array_to_string(toks[i : i + 4], ' '))
    END AS grams
  FROM t
), pos AS (
  SELECT doc_id, n_tokens,
    generate_subscripts(grams, 1) - 1 AS pos,
    ('0x' || substring(md5(unnest(grams)), 1, 15))::BIGINT AS gh1,
    ('0x' || substring(md5(unnest(grams)), 17, 15))::BIGINT AS gh2
  FROM g
), spans AS (
  SELECT doc_id, pos, pos + LEAST(5, n_tokens) AS gend, gh1, gh2 FROM pos
), dup AS (
  SELECT gh1, gh2 FROM spans GROUP BY gh1, gh2 HAVING COUNT(*) >= 2
), hits AS (
  SELECT s.doc_id, s.pos, s.gend,
    CASE WHEN MAX(s.gend) OVER (PARTITION BY s.doc_id ORDER BY s.pos
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) IS NULL
      OR s.pos > MAX(s.gend) OVER (PARTITION BY s.doc_id ORDER BY s.pos
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
    THEN 1 ELSE 0 END AS new_island
  FROM spans s JOIN dup USING (gh1, gh2)
), isl AS (
  SELECT doc_id, pos, gend,
    SUM(new_island) OVER (PARTITION BY doc_id ORDER BY pos
      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
  FROM hits
), per_doc AS (
  SELECT doc_id, SUM(cov) AS covered_tokens, SUM(nh) AS n_dup_grams
  FROM (
    SELECT doc_id, island, MAX(gend) - MIN(pos) AS cov, COUNT(*) AS nh
    FROM isl GROUP BY doc_id, island
  ) GROUP BY doc_id
)
SELECT b.doc_id, b.n_tokens,
  COALESCE(p.n_dup_grams, 0)::BIGINT AS n_dup_grams,
  COALESCE(p.covered_tokens, 0)::BIGINT AS covered_tokens,
  CASE WHEN b.n_tokens = 0 THEN 0.0
       ELSE COALESCE(p.covered_tokens, 0)::DOUBLE / b.n_tokens::DOUBLE
  END AS coverage
FROM (SELECT doc_id, len(toks) AS n_tokens FROM t) b
LEFT JOIN per_doc p USING (doc_id)
"""


def q_perplexity_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style quality partitioning (operators/dataset.py
    perplexity_buckets): unigram-LM mean surprisal per document, NTILE'd
    into head/middle/tail per language. The vocab's one ln() per distinct
    token is rounded to 6 decimals into DECIMAL(18,6), so document scores
    are exact decimal sums and the oracle hash-matches."""
    from radient_spark.operators.dataset import (
        perplexity_buckets,
        unigram_surprisal_vocab,
    )

    docs = _widen_narrow_scan(load_tables(spark, sf_dir)["documents"])
    vocab = unigram_surprisal_vocab(docs, "text")
    return perplexity_buckets(docs, vocab, "text", "doc_id", "lang")


_Q_PERPLEXITY_SQL = r"""
WITH tok AS (
  SELECT doc_id, lang,
    unnest(regexp_split_to_array(trim(text), '\s+')) AS tk
  FROM documents WHERE length(trim(text)) > 0
), vocab AS (
  SELECT tk, COUNT(*) AS cnt FROM tok GROUP BY tk
), surp AS (
  SELECT tk,
    CAST(round(ln((SUM(cnt) OVER ())::DOUBLE / cnt::DOUBLE), 6)
         AS DECIMAL(18,6)) AS surprisal
  FROM vocab
), scored AS (
  -- LEFT JOIN + COALESCE pins the documented OOV contract (OOV tokens
  -- score 0 but stay in the denominator) — an inner join would silently
  -- diverge from perplexity_buckets the moment an external vocab misses
  -- a corpus token.
  SELECT t.doc_id, t.lang,
    CAST(SUM(COALESCE(s.surprisal, CAST(0 AS DECIMAL(18,6)))) AS DOUBLE)
      / COUNT(*) AS logppl
  FROM tok t LEFT JOIN surp s USING (tk)
  GROUP BY t.doc_id, t.lang
)
SELECT doc_id, lang, logppl,
  NTILE(3) OVER (PARTITION BY lang ORDER BY logppl ASC, doc_id ASC)
    AS ppl_bucket
FROM scored
"""


def q_sq8_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQ8-quantized top-k search (operators/quantize.py): per-dimension
    affine int8 codes scored by asymmetric distance computation — the
    4x-compressed scale path for embedding search. Per-term decimal
    routing + integer micro-unit sums make the oracle hash-match exact."""
    from radient_spark.operators.quantize import sq8_minmax, sq8_topk

    emb = load_tables(spark, sf_dir)["embeddings"]
    stats = sq8_minmax(emb, "embedding")
    return sq8_topk(emb, stats, QUERY_VEC, k=10)


_Q_SQ8_SQL = f"""
WITH dims AS (
  SELECT vec_id, generate_subscripts(embedding, 1) AS dim,
         unnest(embedding)::DOUBLE AS v
  FROM embeddings
), stats AS (
  SELECT dim, MIN(v) AS mn, MAX(v) AS mx FROM dims GROUP BY dim
), codes AS (
  SELECT vec_id, d.dim,
    CASE WHEN mx = mn THEN 0
         ELSE GREATEST(0, LEAST(255,
                FLOOR((v - mn) * 255.0 / (mx - mn) + 0.5)))::BIGINT
    END AS c
  FROM dims d JOIN stats USING (dim)
), q AS (
  SELECT generate_subscripts(qv, 1) AS dim, unnest(qv) AS qx
  FROM (SELECT {_QV_SQL} AS qv)
), w AS (
  SELECT q.dim,
    CASE WHEN mx = mn THEN 0.0
         ELSE qx * (mx - mn) / 255.0 END AS wt
  FROM q JOIN stats USING (dim)
)
SELECT vec_id,
  SUM((CAST(codes.c::DOUBLE * w.wt AS DECIMAL(18,6))
       * 1000000)::BIGINT)::DOUBLE / 1000000.0 AS qscore
FROM codes JOIN w ON codes.dim = w.dim
GROUP BY vec_id
ORDER BY qscore DESC, vec_id ASC
LIMIT 10
"""


def q_dsir_logweights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR importance weighting (operators/dataset.py dsir_logweights):
    score every document by log p_target/p_raw under hashed unigram+bigram
    models, target domain = English documents. One rounded ln per feature
    bucket, exact decimal sums per document — oracle hash-matches."""
    from radient_spark.operators.dataset import dsir_logweights

    docs = load_tables(spark, sf_dir)["documents"]
    # tokenize+ngram+md5 runs twice (counts pass, scoring pass) and is
    # row-local — widen the degenerate single-split scan (no-op at scale)
    return dsir_logweights(
        _widen_narrow_scan(docs), F.col("lang") == "en", "text", "doc_id",
        buckets=10_000,
    )


_Q_DSIR_SQL = r"""
WITH staged AS (
  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS toks, lang
  FROM documents WHERE length(trim(text)) > 0
), uni AS (
  SELECT doc_id, lang, unnest(toks) AS feat FROM staged
), bi AS (
  SELECT doc_id, lang,
    unnest(CASE WHEN len(toks) < 2 THEN [array_to_string(toks, ' ')]
                ELSE list_transform(generate_series(1, len(toks) - 1),
                                    i -> array_to_string(toks[i : i + 1], ' '))
           END) AS feat
  FROM staged
), feats AS (
  SELECT doc_id, lang,
    ('0x' || substring(md5(feat), 1, 8))::BIGINT % 10000 AS bucket
  FROM (SELECT * FROM uni UNION ALL SELECT * FROM bi)
), rawc AS (
  SELECT bucket, COUNT(*) AS cr FROM feats GROUP BY bucket
), tgtc AS (
  SELECT bucket, COUNT(*) AS ct FROM feats WHERE lang = 'en' GROUP BY bucket
), lam AS (
  SELECT COALESCE(r.bucket, t.bucket) AS bucket,
    CAST(round(ln(
      ((COALESCE(ct, 0) + 1) * (SUM(COALESCE(cr, 0)) OVER () + 10000))::DOUBLE
      / ((COALESCE(cr, 0) + 1) * (SUM(COALESCE(ct, 0)) OVER () + 10000))::DOUBLE
    ), 6) AS DECIMAL(18,6)) AS lam
  FROM rawc r FULL OUTER JOIN tgtc t ON r.bucket = t.bucket
), weights AS (
  SELECT f.doc_id, CAST(SUM(l.lam) AS DOUBLE) AS logweight
  FROM feats f JOIN lam l USING (bucket)
  GROUP BY f.doc_id
)
SELECT doc_id, logweight,
  NTILE(10) OVER (ORDER BY logweight DESC, doc_id ASC) AS decile
FROM weights
"""


def _kmeans_cte(k: int, iters: int, seed: int) -> tuple[str, str, str]:
    """Unrolled integer-lattice Lloyd iterations as DuckDB CTEs, mirroring
    operators/cluster.py exactly (same md5 seeding, same micro-unit
    quantization, same truncating integer mean, same (dist, cluster) tie
    order). Returns (with_clause, final_centroid_cte, final_assign_cte)."""
    parts = [
        f"""pts AS (
  SELECT vec_id, u.i AS dim,
    CAST(round(CAST(embedding[u.i] AS DOUBLE) * 1000000, 0) AS BIGINT)
      + 4000000 AS v
  FROM embeddings, unnest(range(1, len(embedding) + 1)) AS u(i)
), sd AS (
  SELECT vec_id, row_number() OVER (
    ORDER BY ('0x' || substring(md5(concat_ws('_', {seed}, vec_id)), 1, 8))::BIGINT,
             vec_id) - 1 AS c
  FROM embeddings
), c0 AS (
  SELECT sd.c, p.dim, p.v AS cv FROM sd JOIN pts p USING (vec_id)
  WHERE sd.c < {k}
)"""
    ]
    prev = "c0"
    assign = "a0"
    for it in range(1, iters + 1):
        assign = f"a{it}"
        cur = f"c{it}"
        parts.append(f"""{assign} AS (
  SELECT p.vec_id, {prev}.c, SUM((p.v - {prev}.cv) * (p.v - {prev}.cv)) AS d
  FROM pts p JOIN {prev} ON p.dim = {prev}.dim
  GROUP BY p.vec_id, {prev}.c
  QUALIFY row_number() OVER (PARTITION BY p.vec_id ORDER BY d, c) = 1
), {cur} AS (
  SELECT u.c, u.dim, COALESCE(m.mv, u.cv) AS cv
  FROM {prev} u LEFT JOIN (
    SELECT {assign}.c, p.dim, SUM(p.v) // COUNT(*) AS mv
    FROM {assign} JOIN pts p USING (vec_id) GROUP BY {assign}.c, p.dim
  ) m ON u.c = m.c AND u.dim = m.dim
)""")
        prev = cur
    final_assign = f"""af AS (
  SELECT p.vec_id, {prev}.c, SUM((p.v - {prev}.cv) * (p.v - {prev}.cv)) AS d
  FROM pts p JOIN {prev} ON p.dim = {prev}.dim
  GROUP BY p.vec_id, {prev}.c
  QUALIFY row_number() OVER (PARTITION BY p.vec_id ORDER BY d, c) = 1
)"""
    parts.append(final_assign)
    return "WITH " + ",\n".join(parts), prev, "af"


def q_document_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RAG chunking (operators/dataset.py chunk_documents): 64-token
    windows, stride 48, per document. Chunk text is reported as md5 so
    the hash compare carries 16-byte digests, not bodies. Integer
    arithmetic throughout — the oracle matches bitwise."""
    from radient_spark.operators.dataset import chunk_documents

    docs = load_tables(spark, sf_dir)["documents"]
    out = chunk_documents(docs, "text", "doc_id", window=64, stride=48)
    return out.select(
        "doc_id",
        "chunk_idx",
        "n_chunk_tokens",
        F.md5("chunk_text").alias("chunk_md5"),
    )


_Q_CHUNKS_SQL = r"""
WITH t AS (
  SELECT doc_id,
    CASE WHEN length(trim(text)) = 0 THEN []::VARCHAR[]
         ELSE regexp_split_to_array(trim(text), '\s+') END AS toks
  FROM documents
), c AS (
  SELECT doc_id, len(toks) AS n, toks,
    unnest(range(1, ((GREATEST(len(toks) - 64, 0) + 47) // 48) + 2)) AS i
  FROM t WHERE len(toks) > 0
)
SELECT doc_id, (i - 1)::INT AS chunk_idx,
  LEAST(64, n - (i - 1) * 48)::INT AS n_chunk_tokens,
  md5(array_to_string(toks[(i - 1) * 48 + 1 : (i - 1) * 48 + 64], ' '))
    AS chunk_md5
FROM c
"""


def q_incremental_ingest_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental ingest dedup: anti-join a NEW document batch against
    the already-ingested corpus on content hash — the flow a continuously
    growing corpus runs on every ingest tick (docs with doc_id % 5 == 0
    stand in for the new batch). Only 16-byte hashes shuffle; with the
    corpus bucketed on the hash column (sources.write_bucketed) the anti
    join needs no corpus exchange at all. Per source: batch size, net-new
    docs, already-seen docs."""
    docs = load_tables(spark, sf_dir)["documents"]
    corpus = docs.filter(F.col("doc_id") % 5 != 0)
    batch = docs.filter(F.col("doc_id") % 5 == 0)
    seen = corpus.select(F.md5("text").alias("__h")).distinct()
    fresh = batch.withColumn("__h", F.md5("text")).join(
        seen, "__h", "left_anti"
    )
    new_counts = fresh.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_new")
    )
    return (
        batch.groupBy("source")
        .agg(F.count(F.lit(1)).alias("n_batch"))
        .join(new_counts, "source", "left")
        .select(
            "source",
            "n_batch",
            F.coalesce("n_new", F.lit(0)).alias("n_new"),
            (F.col("n_batch") - F.coalesce("n_new", F.lit(0))).alias(
                "n_already_seen"
            ),
        )
    )


_Q_INCREMENTAL_SQL = """
WITH corpus AS (
  SELECT md5(text) AS h FROM documents WHERE doc_id % 5 <> 0
), batch AS (
  SELECT source, md5(text) AS h FROM documents WHERE doc_id % 5 = 0
), fresh AS (
  SELECT b.source FROM batch b
  WHERE NOT EXISTS (SELECT 1 FROM corpus c WHERE c.h = b.h)
)
SELECT b.source, COUNT(*) AS n_batch,
  COALESCE(f.n_new, 0) AS n_new,
  COUNT(*) - COALESCE(f.n_new, 0) AS n_already_seen
FROM batch b
LEFT JOIN (SELECT source, COUNT(*) AS n_new FROM fresh GROUP BY source) f
  USING (source)
GROUP BY b.source, f.n_new
"""


def q_curation_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end curation pipeline composing the dataset operators the
    way a production pretraining corpus build chains them: Gopher quality
    gate -> exact dedup (keep lowest doc_id per text hash) -> benchmark
    decontamination (drop docs sharing any 4-gram with the eval split)
    -> reproducible hash split -> per-(lang, split) accounting. One lazy
    plan end to end — no intermediate materialization; every stage's
    arithmetic is the same oracle-proven contract as its standalone
    query."""
    from radient_spark.operators.dataset import decontaminate, hash_split

    docs = load_tables(spark, sf_dir)["documents"].filter(
        F.length(F.trim("text")) > 0
    )
    ev = docs.filter(F.col("doc_id") % 10 == 0)
    corpus = docs.filter(F.col("doc_id") % 10 != 0)
    toks = F.split(F.trim("text"), r"\s+")
    n_words = F.size(toks)
    mean_wlen = F.aggregate(
        toks, F.lit(0.0), lambda a, t: a + F.length(t)
    ) / n_words
    n_symbols = F.size(F.split("text", r"[#\.]")) - 1
    quality = corpus.filter(
        (n_words >= 5)
        & (n_words <= 1000)
        & (mean_wlen >= 2)
        & (mean_wlen <= 12)
        & ((n_symbols / n_words) <= 0.1)
    )
    w = Window.partitionBy(F.md5("text"))
    deduped = (
        quality.withColumn("__keep", F.min("doc_id").over(w))
        .filter(F.col("doc_id") == F.col("__keep"))
        .drop("__keep")
    )
    clean = decontaminate(deduped, ev, "text", "doc_id", n=4).filter(
        F.col("n_hit_grams") == 0
    )
    split = hash_split(clean, "doc_id", {"train": 0.9, "val": 0.1}, seed=42)
    return split.groupBy("lang", "split").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.size(toks)).cast("long").alias("total_tokens"),
    )


_Q_CURATION_SQL = r"""
WITH base AS (
  SELECT doc_id, lang, text,
    regexp_split_to_array(trim(text), '\s+') AS toks,
    len(str_split_regex(text, '[#\.]')) - 1 AS n_symbols
  FROM documents WHERE length(trim(text)) > 0
), q AS (
  SELECT * FROM base
  WHERE doc_id % 10 <> 0
    AND len(toks) BETWEEN 5 AND 1000
    AND list_sum(list_transform(toks, x -> length(x)))::DOUBLE / len(toks)
        BETWEEN 2 AND 12
    AND n_symbols::DOUBLE / len(toks) <= 0.1
), d AS (
  SELECT * FROM q
  QUALIFY MIN(doc_id) OVER (PARTITION BY md5(text)) = doc_id
), g AS (
  SELECT doc_id,
    unnest(CASE WHEN len(toks) < 4 THEN [array_to_string(toks, ' ')]
           ELSE list_transform(range(1, len(toks) - 2),
                               i -> array_to_string(toks[i:i+3], ' ')) END) AS gr
  FROM d
), h AS (
  SELECT DISTINCT doc_id, ('0x' || substring(md5(gr), 1, 8))::BIGINT AS hh
  FROM g
), evg AS (
  SELECT unnest(CASE WHEN len(toks) < 4 THEN [array_to_string(toks, ' ')]
           ELSE list_transform(range(1, len(toks) - 2),
                               i -> array_to_string(toks[i:i+3], ' ')) END) AS gr
  FROM base WHERE doc_id % 10 = 0
), evh AS (
  SELECT DISTINCT ('0x' || substring(md5(gr), 1, 8))::BIGINT AS hh FROM evg
), contaminated AS (
  SELECT DISTINCT h.doc_id FROM h JOIN evh USING (hh)
), clean AS (
  SELECT d.* FROM d LEFT JOIN contaminated c USING (doc_id)
  WHERE c.doc_id IS NULL
), sp AS (
  SELECT lang,
    CASE WHEN ('0x' || substring(md5(concat_ws('_', 42, doc_id)), 1, 8))::BIGINT
              % 10000 < 9000
         THEN 'train' ELSE 'val' END AS split,
    len(toks) AS nt
  FROM clean
)
SELECT lang, split, COUNT(*) AS n_docs, SUM(nt)::BIGINT AS total_tokens
FROM sp GROUP BY lang, split
"""


def q_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantized top-k search (operators/quantize.py): m=16
    subspace codebooks of k=16 lattice-k-means centroids (16x compression
    at storage: 16 bytes of codes per 64-d float32 vector), asymmetric
    lookup-table distances, shortlist of 80 re-ranked by exact lattice
    distance. Every quantity is an exact integer, so the full
    fit+encode+search pipeline hash-matches the unrolled-Lloyd SQL
    oracle."""
    from radient_spark.operators.quantize import pq_fit, pq_topk

    emb = load_tables(spark, sf_dir)["embeddings"]
    books = pq_fit(emb, "embedding", "vec_id", m=16, k=16, iters=1, seed=42)
    return pq_topk(emb, books, QUERY_VEC, k=10, shortlist=80)


def _pq_sql(
    m: int = 16,
    k: int = 16,
    iters: int = 1,
    seed: int = 42,
    shortlist: int = 80,
    topk: int = 10,
    extra_ctes: list[str] | None = None,
    cand_join: str = "",
) -> str:
    """PQ oracle: the _kmeans_cte unrolled-Lloyd trick, restricted per
    subspace to its dim range, plus a query lookup table over the final
    centroids. The query's lattice coordinates are embedded as integer
    literals (pq_quantize_query), so no rounding mode crosses engines."""
    from radient_spark.operators.quantize import pq_quantize_query

    q_micro = pq_quantize_query(QUERY_VEC)
    dim = len(q_micro)
    d_sub = dim // m
    parts = [
        f"""pts AS (
  SELECT vec_id, u.i AS dim,
    CAST(round(CAST(embedding[u.i] AS DOUBLE) * 1000000, 0) AS BIGINT)
      + 4000000 AS v
  FROM embeddings, unnest(range(1, len(embedding) + 1)) AS u(i)
), sd AS (
  SELECT vec_id, row_number() OVER (
    ORDER BY ('0x' || substring(md5(concat_ws('_', {seed}, vec_id)), 1, 8))::BIGINT,
             vec_id) - 1 AS c
  FROM embeddings
), qm AS (
  SELECT generate_subscripts(a, 1) AS dim, unnest(a) AS qv
  FROM (SELECT [{", ".join(str(v) for v in q_micro)}]::BIGINT[] AS a)
)"""
    ]
    finals = []
    for s in range(m):
        lo, hi = s * d_sub + 1, (s + 1) * d_sub
        prev = f"c0_s{s}"
        parts.append(f"""{prev} AS (
  SELECT sd.c, p.dim, p.v AS cv FROM sd JOIN pts p USING (vec_id)
  WHERE sd.c < {k} AND p.dim BETWEEN {lo} AND {hi}
)""")
        for it in range(1, iters + 1):
            assign, cur = f"a{it}_s{s}", f"c{it}_s{s}"
            parts.append(f"""{assign} AS (
  SELECT p.vec_id, {prev}.c, SUM((p.v - {prev}.cv) * (p.v - {prev}.cv)) AS d
  FROM pts p JOIN {prev} ON p.dim = {prev}.dim
  GROUP BY p.vec_id, {prev}.c
  QUALIFY row_number() OVER (PARTITION BY p.vec_id ORDER BY d, c) = 1
), {cur} AS (
  SELECT u.c, u.dim, COALESCE(mm.mv, u.cv) AS cv
  FROM {prev} u LEFT JOIN (
    SELECT {assign}.c, p.dim, SUM(p.v) // COUNT(*) AS mv
    FROM {assign} JOIN pts p USING (vec_id)
    WHERE p.dim BETWEEN {lo} AND {hi}
    GROUP BY {assign}.c, p.dim
  ) mm ON u.c = mm.c AND u.dim = mm.dim
)""")
            prev = cur
        parts.append(f"""af_s{s} AS (
  SELECT p.vec_id, {prev}.c, SUM((p.v - {prev}.cv) * (p.v - {prev}.cv)) AS d
  FROM pts p JOIN {prev} ON p.dim = {prev}.dim
  GROUP BY p.vec_id, {prev}.c
  QUALIFY row_number() OVER (PARTITION BY p.vec_id ORDER BY d, c) = 1
), lut_s{s} AS (
  SELECT {prev}.c,
    SUM((qm.qv - {prev}.cv) * (qm.qv - {prev}.cv)) AS ld
  FROM {prev} JOIN qm ON qm.dim = {prev}.dim
  GROUP BY {prev}.c
)""")
        finals.append(s)
    joins = "\n".join(
        f"JOIN af_s{s} a{s} ON a{s}.vec_id = a0.vec_id\n"
        f"JOIN lut_s{s} l{s} ON l{s}.c = a{s}.c"
        if s > 0
        else "FROM af_s0 a0 JOIN lut_s0 l0 ON l0.c = a0.c"
        for s in finals
    )
    total = " + ".join(f"l{s}.ld" for s in finals)
    parts.extend(extra_ctes or [])
    parts.append(f"""short AS (
  SELECT a0.vec_id, ({total})::BIGINT AS pq_dist
  {joins}
  {cand_join}
  ORDER BY pq_dist ASC, a0.vec_id ASC
  LIMIT {shortlist}
), rerank AS (
  SELECT p.vec_id, SUM((p.v - qm.qv) * (p.v - qm.qv))::BIGINT AS exact_dist
  FROM pts p JOIN qm USING (dim) JOIN short s ON s.vec_id = p.vec_id
  GROUP BY p.vec_id
)""")
    return (
        "WITH "
        + ",\n".join(parts)
        + f"""
SELECT s.vec_id, s.pq_dist, r.exact_dist
FROM short s JOIN rerank r USING (vec_id)
ORDER BY r.exact_dist ASC, s.vec_id ASC
LIMIT {topk}
"""
    )


def q_kmeans_embedding_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Integer-lattice k-means over the embeddings table
    (operators/cluster.py): k=10, 2 Lloyd iterations, md5-seeded init.
    Reports per cluster: size, within-cluster sum of squared lattice
    distance, and the centroid coordinate checksum — every value an exact
    integer, so the unrolled recursive oracle matches bit-for-bit."""
    from radient_spark.operators.cluster import assign_clusters, kmeans_fit

    emb = load_tables(spark, sf_dir)["embeddings"]
    cents = kmeans_fit(emb, "embedding", "vec_id", k=10, iters=2, seed=42)
    assigned = assign_clusters(
        emb, "embedding", cents, out_col="cluster_id", dist_col="__d"
    )
    checksum_map = F.create_map(
        *[
            lit
            for i, c in enumerate(cents)
            for lit in (F.lit(i), F.lit(int(sum(c))))
        ]
    )
    return (
        assigned.groupBy("cluster_id")
        .agg(
            F.count(F.lit(1)).alias("n_points"),
            F.sum("__d").alias("wss"),
        )
        .withColumn("centroid_checksum", checksum_map[F.col("cluster_id")])
    )


def _kmeans_report_sql(k: int = 10, iters: int = 2, seed: int = 42) -> str:
    with_clause, cfinal, afinal = _kmeans_cte(k, iters, seed)
    return f"""{with_clause}
SELECT a.c AS cluster_id, COUNT(*) AS n_points, SUM(a.d)::BIGINT AS wss,
  cs.checksum AS centroid_checksum
FROM {afinal} a JOIN (
  SELECT c, SUM(cv)::BIGINT AS checksum FROM {cfinal} GROUP BY c
) cs ON a.c = cs.c
GROUP BY a.c, cs.checksum
"""


def q_cluster_balanced_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster-balanced diversity sampling (operators/cluster.py): cap
    every embedding cluster at 20 rows chosen by md5 rank — dominant
    semantic modes are subsampled, rare modes survive whole. Same k=10 /
    1-iteration lattice clustering as q_semdedup_pairs, so the oracle
    reuses the unrolled-Lloyd CTEs plus one ranked window."""
    from radient_spark.operators.cluster import (
        cluster_balanced_sample,
        kmeans_fit,
    )

    emb = load_tables(spark, sf_dir)["embeddings"]
    cents = kmeans_fit(emb, "embedding", "vec_id", k=10, iters=1, seed=42)
    kept = cluster_balanced_sample(
        emb, "embedding", "vec_id", cents, cap=20, seed=42
    )
    return kept.select("vec_id", "cluster_id")


def _cluster_sample_sql(
    k: int = 10, iters: int = 1, seed: int = 42, cap: int = 20
) -> str:
    with_clause, _cfinal, afinal = _kmeans_cte(k, iters, seed)
    return f"""{with_clause}
SELECT vec_id, c AS cluster_id FROM (
  SELECT a.vec_id, a.c,
    row_number() OVER (
      PARTITION BY a.c
      ORDER BY ('0x' || substring(md5(concat_ws('_', {seed}, a.vec_id)), 1, 8))::BIGINT,
               a.vec_id
    ) AS rn
  FROM {afinal} a
) WHERE rn <= {cap}
"""


def q_semdedup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup (operators/cluster.py semdedup_pairs): cluster the
    embedding space (k=10, one Lloyd iteration), then find near-duplicate
    pairs only within clusters — the pair space drops from n^2 to
    sum_c |c|^2 and the join shuffles on the k-ary cluster key instead of
    broadcasting the corpus. Same cosine-round-4 contract as
    q_vec_similar_pairs, so the overlap with the exact all-pairs query
    measures SemDeDup's recall on this corpus."""
    from radient_spark.operators.cluster import kmeans_fit, semdedup_pairs

    emb = load_tables(spark, sf_dir)["embeddings"]
    cents = kmeans_fit(emb, "embedding", "vec_id", k=10, iters=1, seed=42)
    return semdedup_pairs(
        emb, "embedding", "vec_id", cents, threshold=0.4
    )


def _semdedup_sql(k: int = 10, iters: int = 1, seed: int = 42) -> str:
    with_clause, _, afinal = _kmeans_cte(k, iters, seed)
    sim = (
        "round(list_dot_product(a.embedding::DOUBLE[], b.embedding::DOUBLE[])"
        " / (sqrt(list_dot_product(a.embedding::DOUBLE[], a.embedding::DOUBLE[]))"
        " * sqrt(list_dot_product(b.embedding::DOUBLE[], b.embedding::DOUBLE[]))), 4)"
    )
    return f"""{with_clause}
SELECT a.vec_id AS id_a, b.vec_id AS id_b, ca.c AS cluster_id,
  {sim} AS score
FROM embeddings a
JOIN {afinal} ca ON a.vec_id = ca.vec_id
JOIN {afinal} cb ON ca.c = cb.c
JOIN embeddings b ON b.vec_id = cb.vec_id
WHERE a.vec_id < b.vec_id AND {sim} >= 0.4
"""


def q_quality_classifier_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """fastText-style linear quality classifier served as pure Catalyst
    (operators/classify.py): score = mean over tokens of w[md5-slot],
    with the weight vector inlined as a literal array — model serving
    with zero shuffle, zero Python, zero model distribution.

    Determinism: the demo weights are integers (w[i] = (i*2654435761)
    mod 1001 - 500), so the token fold accumulates exactly; the query
    reports the EXACT integer pair (total_w, n_toks) rather than the
    rounded quotient (score = total_w / (1000 * n_toks)) — rational
    outputs whose 6-decimal rounding can land on a half-ulp boundary
    are the one class ROUND cannot pin across engines.
    """
    from radient_spark.functions import text as X
    from radient_spark.operators.classify import linear_classifier_score

    dim = 64
    weights = [float((i * 2654435761) % 1001 - 500) for i in range(dim)]
    docs = (
        load_tables(spark, sf_dir)["documents"]
        .filter(F.length(F.trim("text")) > 0)
        .select("doc_id", "source", "text")
    )
    scored = linear_classifier_score(
        docs, weights, bias=0.0, out_col="__raw", mean=False
    )
    n_toks = F.size(X.tokens(F.col("text")))
    return scored.select(
        "doc_id",
        "source",
        n_toks.cast("long").alias("n_toks"),
        F.col("__raw").cast("long").alias("total_w"),
        (F.col("__raw") >= 0).alias("keep"),
    )


_Q_CLASSIFIER_SQL = r"""
WITH slots AS (
  SELECT doc_id, source,
    CAST(('0x' || substring(md5(unnest(regexp_split_to_array(trim(text), '\s+'))), 1, 8))::BIGINT % 64 AS BIGINT) AS slot
  FROM documents WHERE length(trim(text)) > 0
)
SELECT doc_id, source, CAST(COUNT(*) AS BIGINT) AS n_toks,
  SUM((slot * 2654435761) % 1001 - 500)::BIGINT AS total_w,
  SUM((slot * 2654435761) % 1001 - 500) >= 0 AS keep
FROM slots GROUP BY doc_id, source
"""


def q_merge_upsert_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE INTO / upsert corpus refresh (operators/merge.py): apply a
    deterministic delta (updates: doc_id%5==0 get ' v2' appended;
    no-op rows: doc_id%5==1 resent unchanged; inserts: doc_id%7==0
    re-keyed to doc_id+10_000_000) and report per-action row counts plus
    the merged-view cardinality. The report is one full-outer key join;
    the merged view is one union + per-key window (single shuffle)."""
    from radient_spark.operators.merge import merge_summary, merge_upsert

    docs = load_tables(spark, sf_dir)["documents"].select("doc_id", "text")
    updated = docs.filter(F.col("doc_id") % 5 == 0).withColumn(
        "text", F.concat(F.col("text"), F.lit(" v2"))
    )
    resent = docs.filter(F.col("doc_id") % 5 == 1)
    inserts = docs.filter(F.col("doc_id") % 7 == 0).withColumn(
        "doc_id", F.col("doc_id") + F.lit(10_000_000)
    )
    source = updated.unionByName(resent).unionByName(inserts)
    summary = merge_summary(docs, source, ["doc_id"], ["text"])
    merged_rows = (
        merge_upsert(docs, source, ["doc_id"])
        .agg(F.count(F.lit(1)).alias("merged_rows"))
    )
    return summary.crossJoin(F.broadcast(merged_rows)).orderBy("action")


_Q_MERGE_SQL = """
WITH src AS (
  SELECT doc_id, text || ' v2' AS text FROM documents WHERE doc_id % 5 = 0
  UNION ALL SELECT doc_id, text FROM documents WHERE doc_id % 5 = 1
  UNION ALL SELECT doc_id + 10000000 AS doc_id, text FROM documents WHERE doc_id % 7 = 0
), rep AS (
  SELECT CASE WHEN t.doc_id IS NULL THEN 'insert'
              WHEN s.doc_id IS NULL THEN 'keep'
              WHEN s.text IS NOT DISTINCT FROM t.text THEN 'unchanged'
              ELSE 'update' END AS action
  FROM src s FULL OUTER JOIN documents t ON s.doc_id = t.doc_id
), merged AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS merged_rows FROM (
    SELECT doc_id FROM src UNION SELECT doc_id FROM documents
  )
)
SELECT action, CAST(COUNT(*) AS BIGINT) AS n_rows,
  (SELECT merged_rows FROM merged) AS merged_rows
FROM rep GROUP BY action
ORDER BY action
"""


def q_zorder_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order (Morton) layout audit (operators/layout.py): interleave
    (o_custkey mod 1024, orderdate epoch-day mod 1024) into a 20-bit
    Morton code, bucket by the code's high 6 bits (a file proxy for
    repartitionByRange) and report each bucket's per-column min/max
    span — the quantity parquet row-group pruning lives on. The code is
    a fully unrolled Catalyst shift/and/or expression (whole-stage
    codegen, zero shuffle before the audit groupBy)."""
    from radient_spark.operators.layout import layout_span_stats, z_value

    orders = load_tables(spark, sf_dir)["orders"]
    df = orders.select(
        F.pmod(F.col("o_custkey"), F.lit(1024)).alias("xk"),
        F.pmod(
            F.datediff(F.to_date("o_orderdate"), F.to_date(F.lit("1970-01-01"))),
            F.lit(1024),
        ).alias("yd"),
    ).withColumn("z", z_value([F.col("xk"), F.col("yd")], bits=10))
    return layout_span_stats(
        df, ["xk", "yd"], F.shiftright(F.col("z"), 14)
    ).withColumnRenamed("n_rows", "n_rows").select(
        "bucket",
        F.col("n_rows").cast("long").alias("n_rows"),
        "min_xk", "max_xk", "span_xk",
        "min_yd", "max_yd", "span_yd",
    )


def _zorder_sql(bits: int = 10, shift: int = 14) -> str:
    terms = " | ".join(
        f"(((xk >> {i}) & 1) << {2 * i}) | (((yd >> {i}) & 1) << {2 * i + 1})"
        for i in range(bits)
    )
    return f"""
WITH pts AS (
  SELECT o_custkey % 1024 AS xk,
    date_diff('day', DATE '1970-01-01', o_orderdate::DATE) % 1024 AS yd
  FROM orders
), coded AS (
  SELECT xk, yd, ({terms}) AS z FROM pts
)
SELECT z >> {shift} AS bucket, CAST(COUNT(*) AS BIGINT) AS n_rows,
  MIN(xk) AS min_xk, MAX(xk) AS max_xk, MAX(xk) - MIN(xk) AS span_xk,
  MIN(yd) AS min_yd, MAX(yd) AS max_yd, MAX(yd) - MIN(yd) AS span_yd
FROM coded GROUP BY 1
"""


def q_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hard-negative mining for contrastive training: for each anchor
    (vec_id % 50 == 0) the top-5 corpus vectors whose cosine lies in
    [0.2, 0.9) — the band ceiling excludes self/near-dups, the floor
    excludes easy negatives. Runs on the bipartite block GEMM
    (knn_join_blocked score_band): both sides stay DataFrames, the band
    is applied before per-block top-k so pruning is exact."""
    from radient_spark.operators.topk import knn_join_blocked

    emb = load_tables(spark, sf_dir)["embeddings"]
    corpus = emb.select(F.col("vec_id").alias("id"), F.col("embedding").alias("vec"))
    anchors = emb.filter(F.col("vec_id") % 50 == 0).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("vec")
    )
    return knn_join_blocked(
        corpus,
        anchors,
        k=5,
        corpus_blocks=4,
        query_blocks=2,
        score_band=(0.2, 0.9),
    )


_Q_HARD_NEG_SQL = """
WITH pairs AS (
  SELECT c.vec_id AS id, q.vec_id AS qid,
    round(list_dot_product(c.embedding::DOUBLE[], q.embedding::DOUBLE[])
          / (sqrt(list_dot_product(c.embedding::DOUBLE[], c.embedding::DOUBLE[]))
             * sqrt(list_dot_product(q.embedding::DOUBLE[], q.embedding::DOUBLE[]))), 4) AS score
  FROM embeddings q CROSS JOIN embeddings c
  WHERE q.vec_id % 50 = 0
)
SELECT id, qid, score FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY qid ORDER BY score DESC, id ASC) AS rn
  FROM pairs WHERE score >= 0.2 AND score < 0.9
) WHERE rn <= 5
"""


def q_pagerank_bipartite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank over the customer↔supplier trade graph (undirected:
    both edge directions), 2 iterations in integer micro-units
    (operators/graph.py pagerank_integer) — link-analysis importance
    for curation, with floor-division arithmetic that is bit-exact in
    any aggregation order so the unrolled-iteration DuckDB CTE is a
    value oracle (the integer-lattice k-means trick applied to power
    iteration). Node ids: customers at 2k, suppliers at 2k+1."""
    from radient_spark.operators.graph import pagerank_integer

    t = load_tables(spark, sf_dir)
    # No .distinct() on the raw trade pairs (optimization r12, guide
    # §2.4): dedup folds into the operator's roster collect_set
    # (dedup_edges=True), removing the (src, dst)-keyed exchange the
    # old distinct paid before the roster aggregation. Set-vs-list
    # rosters are value-identical over deduped pairs and contribution
    # sums are order-exact integers, so results are bit-equal.
    eb = (
        t["orders"]
        .join(t["lineitem"], F.col("o_orderkey") == F.col("l_orderkey"))
        .select(
            (F.col("o_custkey") * 2).alias("src"),
            (F.col("l_suppkey") * 2 + 1).alias("dst"),
        )
    )
    edges = eb.unionByName(
        eb.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    return pagerank_integer(
        edges, iters=2, damping_pct=85, units=10**12, dedup_edges=True
    ).orderBy("node")


_Q_PAGERANK_SQL = """
WITH eb AS (
  SELECT DISTINCT o_custkey*2 AS src, l_suppkey*2+1 AS dst
  FROM orders JOIN lineitem ON o_orderkey = l_orderkey
), edges AS (
  SELECT src, dst FROM eb UNION ALL SELECT dst AS src, src AS dst FROM eb
), nodes AS (
  SELECT DISTINCT src AS node FROM edges
), nn AS (SELECT COUNT(*) AS c FROM nodes),
deg AS (SELECT src, COUNT(*) AS d FROM edges GROUP BY src),
r0 AS (SELECT node, 1000000000000 // (SELECT c FROM nn) AS r FROM nodes),
s1 AS (
  SELECT e.dst AS node, SUM(r0.r // dg.d) AS s
  FROM edges e JOIN r0 ON e.src = r0.node JOIN deg dg ON e.src = dg.src
  GROUP BY e.dst
), r1 AS (
  SELECT nd.node,
    ((1000000000000 * 15 // 100) // (SELECT c FROM nn))
      + (85 * COALESCE(s1.s, 0)) // 100 AS r
  FROM nodes nd LEFT JOIN s1 ON nd.node = s1.node
), s2 AS (
  SELECT e.dst AS node, SUM(r1.r // dg.d) AS s
  FROM edges e JOIN r1 ON e.src = r1.node JOIN deg dg ON e.src = dg.src
  GROUP BY e.dst
), r2 AS (
  SELECT nd.node,
    ((1000000000000 * 15 // 100) // (SELECT c FROM nn))
      + (85 * COALESCE(s2.s, 0)) // 100 AS r
  FROM nodes nd LEFT JOIN s2 ON nd.node = s2.node
)
SELECT node, CAST(r AS BIGINT) AS rank_units FROM r2 ORDER BY node
"""


def q_paragraph_dedup_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sub-document dedup with reassembly (operators/dedup.py
    paragraph_dedup): 10-token chunks deduplicated ACROSS the whole
    corpus keeping the globally first occurrence, surviving chunks
    rejoined in document order — boilerplate removal that preserves each
    document's unique content. One chunk-key shuffle + one per-doc
    regroup; linear in corpus tokens."""
    from radient_spark.operators.dedup import paragraph_dedup

    docs = load_tables(spark, sf_dir)["documents"].filter(
        F.length(F.trim("text")) > 0
    )
    return paragraph_dedup(docs, "text", "doc_id", chunk_tokens=10).select(
        F.col("id").alias("doc_id"), "n_chunks", "n_kept", "clean_text"
    )


_Q_PARA_DEDUP_SQL = r"""
WITH toks AS (
  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS t
  FROM documents WHERE length(trim(text)) > 0
), tok AS (
  SELECT doc_id, generate_subscripts(t, 1) AS sub, unnest(t) AS tk FROM toks
), chunks AS (
  SELECT doc_id, CAST((sub - 1) // 10 AS BIGINT) AS cidx,
    string_agg(tk, ' ' ORDER BY sub) AS chunk
  FROM tok GROUP BY doc_id, (sub - 1) // 10
), ranked AS (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY chunk ORDER BY doc_id, cidx) AS rn
  FROM chunks
)
SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_chunks,
  CAST(SUM(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
  COALESCE(string_agg(CASE WHEN rn = 1 THEN chunk END, ' ' ORDER BY cidx), '')
    AS clean_text
FROM ranked GROUP BY doc_id
"""


def q_token_budget_cut(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Budget-cut data selection: take documents in quality order (the
    linear classifier's integer weight, ties by doc_id) until a fixed
    token budget is spent — the DataComp-style "best docs under N
    tokens" selection. The running token total comes from
    distributed_cumsum (operators/dataset.py): range-bucketed prefix
    sum, NO single-reducer global sort; integer token counts make it
    bit-exact vs the oracle's window SUM."""
    from radient_spark.functions import text as X
    from radient_spark.operators.classify import linear_classifier_score
    from radient_spark.operators.dataset import distributed_cumsum

    dim = 64
    weights = [float((i * 2654435761) % 1001 - 500) for i in range(dim)]
    docs = (
        load_tables(spark, sf_dir)["documents"]
        .filter(F.length(F.trim("text")) > 0)
        .select("doc_id", "text")
    )
    scored = linear_classifier_score(
        docs, weights, bias=0.0, out_col="__raw", mean=False
    ).select(
        "doc_id",
        F.size(X.tokens(F.col("text"))).cast("long").alias("n_toks"),
        F.col("__raw").cast("long").alias("total_w"),
    )
    cum = distributed_cumsum(
        scored,
        order_cols=[F.col("total_w").desc(), F.col("doc_id").asc()],
        range_col=-F.col("total_w"),
        value_col="n_toks",
        out_col="cum_toks",
    )
    return cum.filter(F.col("cum_toks") <= 8000).select(
        "doc_id", "n_toks", "total_w", F.col("cum_toks").cast("long").alias("cum_toks")
    )


_Q_BUDGET_CUT_SQL = r"""
WITH slots AS (
  SELECT doc_id,
    CAST(('0x' || substring(md5(unnest(regexp_split_to_array(trim(text), '\s+'))), 1, 8))::BIGINT % 64 AS BIGINT) AS slot
  FROM documents WHERE length(trim(text)) > 0
), scored AS (
  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_toks,
    SUM((slot * 2654435761) % 1001 - 500)::BIGINT AS total_w
  FROM slots GROUP BY doc_id
), c AS (
  SELECT doc_id, n_toks, total_w,
    SUM(n_toks) OVER (ORDER BY total_w DESC, doc_id ROWS UNBOUNDED PRECEDING)
      AS cum_toks
  FROM scored
)
SELECT doc_id, n_toks, total_w, CAST(cum_toks AS BIGINT) AS cum_toks
FROM c WHERE cum_toks <= 8000
"""


_BM25_TERMS = ["spark", "join", "window"]

_BM25_CTE = r"""
toks AS (
  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS t
  FROM documents WHERE length(trim(text)) > 0
), dl AS (SELECT doc_id, len(t) AS dl FROM toks),
stats AS (SELECT COUNT(*) AS n, SUM(dl) AS tot FROM dl),
tok AS (SELECT doc_id, unnest(t) AS tk FROM toks),
hits AS (
  SELECT doc_id, tk, COUNT(*) AS tf FROM tok
  WHERE tk IN ('spark', 'join', 'window') GROUP BY doc_id, tk
), dfreq AS (SELECT tk, COUNT(DISTINCT doc_id) AS df FROM hits GROUP BY tk),
scored AS (
  SELECT h.doc_id,
    ROUND(
      ROUND(ln(1 + ((SELECT n FROM stats) - f.df + 0.5) / (f.df + 0.5)), 6)
      * (h.tf * (1.2 + 1.0)
         / (h.tf + 1.2 * (1 - 0.75 + 0.75 * d.dl
              / ((SELECT tot FROM stats)::DOUBLE / (SELECT n FROM stats))))),
    6) AS ts
  FROM hits h JOIN dfreq f USING (tk) JOIN dl d ON h.doc_id = d.doc_id
), bm AS (
  SELECT doc_id, SUM(CAST(ts AS DECIMAL(18,6)))::DOUBLE AS bm25
  FROM scored GROUP BY doc_id
)"""


def q_bm25_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 keyword retrieval (operators/retrieval.py): Lucene-formula
    scoring of a 3-term query against the corpus, top-20. Corpus stats
    ride as a broadcast 1-row cross join; only term-matching rows reach
    the aggregation. idf rounded before use + decimal-routed term sums
    = hash-exact."""
    from radient_spark.operators.retrieval import bm25_scores

    docs = load_tables(spark, sf_dir)["documents"]
    return (
        bm25_scores(docs, _BM25_TERMS, "text", "doc_id")
        .orderBy(F.col("bm25").desc(), F.col("doc_id").asc())
        .limit(20)
    )


_Q_BM25_SQL = f"""
WITH {_BM25_CTE}
SELECT doc_id, bm25 FROM bm ORDER BY bm25 DESC, doc_id ASC LIMIT 20
"""


def q_hybrid_search_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid lexical+vector retrieval with reciprocal-rank fusion —
    the Milvus hybrid-search RRFRanker contract, DataFrame-native:
    BM25 top-20 and cosine top-20 are each rank-numbered AFTER
    TakeOrderedAndProject truncation (the global window only ever sees
    20 rows), full-outer fused with rrf = Σ 1/(60+rank), top-10."""
    from radient_spark.operators.retrieval import bm25_scores, rank_by, rrf_fuse

    docs = load_tables(spark, sf_dir)["documents"]
    emb = load_tables(spark, sf_dir)["embeddings"]
    lex = (
        bm25_scores(docs, _BM25_TERMS, "text", "doc_id")
        .orderBy(F.col("bm25").desc(), F.col("doc_id").asc())
        .limit(20)
    )
    lex_r = rank_by(lex, "bm25", "doc_id", "rank_lex").select("doc_id", "rank_lex")
    vec = topk(
        emb.select(F.col("vec_id").alias("doc_id"), "embedding"),
        "embedding",
        QUERY_VEC,
        k=20,
        tiebreak="doc_id",
    )
    vec_r = rank_by(vec, "score", "doc_id", "rank_vec").select("doc_id", "rank_vec")
    fused = rrf_fuse(lex_r, vec_r, "doc_id", "rank_lex", "rank_vec", k=60)
    return fused.orderBy(F.col("rrf").desc(), F.col("doc_id").asc()).limit(10)


_Q_HYBRID_SQL = f"""
WITH {_BM25_CTE},
lex AS (
  SELECT doc_id, bm25,
    ROW_NUMBER() OVER (ORDER BY bm25 DESC, doc_id ASC) AS rank_lex
  FROM (SELECT doc_id, bm25 FROM bm ORDER BY bm25 DESC, doc_id ASC LIMIT 20)
), vec AS (
  SELECT doc_id, score,
    ROW_NUMBER() OVER (ORDER BY score DESC, doc_id ASC) AS rank_vec
  FROM (
    SELECT vec_id AS doc_id,
      round(list_dot_product(embedding::DOUBLE[], {{qv}})
            / (sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]))
               * sqrt(list_dot_product({{qv}}, {{qv}}))), 6) AS score
    FROM embeddings ORDER BY score DESC, doc_id ASC LIMIT 20
  )
)
SELECT COALESCE(l.doc_id, v.doc_id) AS doc_id, l.rank_lex, v.rank_vec,
  ROUND(COALESCE(1.0 / (60 + l.rank_lex), 0.0)
        + COALESCE(1.0 / (60 + v.rank_vec), 0.0), 6) AS rrf
FROM lex l FULL OUTER JOIN vec v ON l.doc_id = v.doc_id
ORDER BY rrf DESC, doc_id ASC LIMIT 10
""".replace("{qv}", _QV_SQL)


def q_matryoshka_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Matryoshka (MRL) prefix search: cosine top-10 using only the
    first 16 of 64 dims (functions/vector.truncate_normalize is the
    storage-side form; cosine over the raw prefix is the identical
    score since cosine is scale-invariant) — store full vectors once,
    search any prefix at 4x less arithmetic. Same HOF + rounding
    contract as q_vec_topk_cosine."""
    emb = load_tables(spark, sf_dir)["embeddings"]
    q16 = V.lit_doubles(QUERY_VEC[:16])
    scored = emb.select(
        "vec_id",
        F.round(
            V.cosine_similarity(F.slice("embedding", 1, 16), q16), 6
        ).alias("score"),
    )
    return scored.orderBy(F.col("score").desc(), F.col("vec_id").asc()).limit(10)


_QV16_SQL = "[" + ", ".join(repr(x) for x in QUERY_VEC[:16]) + "]::DOUBLE[]"

_Q_MATRYOSHKA_SQL = f"""
SELECT vec_id,
  round(list_dot_product(embedding[1:16]::DOUBLE[], {_QV16_SQL})
        / (sqrt(list_dot_product(embedding[1:16]::DOUBLE[], embedding[1:16]::DOUBLE[]))
           * sqrt(list_dot_product({_QV16_SQL}, {_QV16_SQL}))), 6) AS score
FROM embeddings ORDER BY score DESC, vec_id ASC LIMIT 10
"""


def _query_vec_sign_words(word_bits: int = 32) -> list[int]:
    words = []
    for w in range(0, 64, word_bits):
        word = 0
        for i in range(word_bits):
            if w + i < 64 and QUERY_VEC[w + i] > 0:
                word |= 1 << i
        words.append(word)
    return words


def q_binary_hamming_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary (1-bit sign) quantized search: 64-dim float32 embeddings
    collapse to two 32-bit words (32x smaller), candidates ranked by
    popcount-of-XOR Hamming distance (functions/vector.binary_quantize
    + hamming_distance_words — fully JVM-side integer ops, exact in any
    order). The third member of the quantization family (SQ8 4x, PQ
    16-32x, binary 32x)."""
    from radient_spark.functions.vector import (
        binary_quantize,
        hamming_distance_words,
    )

    emb = load_tables(spark, sf_dir)["embeddings"]
    qwords = F.array(
        *[F.lit(w).cast("long") for w in _query_vec_sign_words(32)]
    )
    scored = emb.select(
        "vec_id",
        hamming_distance_words(
            binary_quantize(F.col("embedding"), 64, 32), qwords
        ).cast("long").alias("hamming"),
    )
    return scored.orderBy(F.col("hamming").asc(), F.col("vec_id").asc()).limit(10)


def _binary_hamming_sql() -> str:
    def word_expr(w: int) -> str:
        terms = " + ".join(
            f"(CASE WHEN embedding[{w * 32 + i + 1}] > 0 THEN {1 << i} ELSE 0 END)"
            for i in range(32)
        )
        return f"CAST({terms} AS BIGINT)"

    q0, q1 = _query_vec_sign_words(32)
    return f"""
SELECT vec_id,
  CAST(bit_count(xor({word_expr(0)}, {q0}::BIGINT))
       + bit_count(xor({word_expr(1)}, {q1}::BIGINT)) AS BIGINT) AS hamming
FROM embeddings ORDER BY hamming ASC, vec_id ASC LIMIT 10
"""


def q_curation_pipeline_v2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Round-3 flagship composition — the full curation funnel as ONE
    lazy plan: classifier quality gate (keep total_w >= 0) → paragraph-
    level boilerplate removal (drop docs with no unique chunks) → exact
    dedup on the CLEANED text (min-doc_id canonical) → budget-cut
    selection (cum clean-tokens <= 6000 in quality order). Every stage
    is a round-3 operator; the composed plan has no driver round-trips
    beyond distributed_cumsum's documented P-row contracts."""
    from radient_spark.functions import text as X
    from radient_spark.operators.classify import linear_classifier_score
    from radient_spark.operators.dataset import distributed_cumsum
    from radient_spark.operators.dedup import paragraph_dedup

    dim = 64
    weights = [float((i * 2654435761) % 1001 - 500) for i in range(dim)]
    docs = (
        load_tables(spark, sf_dir)["documents"]
        .filter(F.length(F.trim("text")) > 0)
        .select("doc_id", "text")
    )
    scored = linear_classifier_score(
        docs, weights, bias=0.0, out_col="__raw", mean=False
    ).select("doc_id", "text", F.col("__raw").cast("long").alias("total_w"))
    kept = scored.filter(F.col("total_w") >= 0)
    cleaned = paragraph_dedup(kept, "text", "doc_id", chunk_tokens=10).filter(
        F.col("n_kept") > 0
    )
    w_dup = Window.partitionBy("clean_text").orderBy("id")
    unique = (
        cleaned.withColumn("__rn", F.row_number().over(w_dup))
        .filter(F.col("__rn") == 1)
        .select(
            F.col("id").alias("doc_id"),
            F.size(X.tokens(F.col("clean_text"))).cast("long").alias("n_toks"),
        )
    )
    rejoined = unique.join(
        scored.select("doc_id", "total_w"), "doc_id"
    )
    cum = distributed_cumsum(
        rejoined,
        order_cols=[F.col("total_w").desc(), F.col("doc_id").asc()],
        range_col=-F.col("total_w"),
        value_col="n_toks",
        out_col="cum_toks",
    )
    return cum.filter(F.col("cum_toks") <= 6000).select(
        "doc_id", "n_toks", "total_w",
        F.col("cum_toks").cast("long").alias("cum_toks"),
    )


_Q_CURATION_V2_SQL = r"""
WITH slots AS (
  SELECT doc_id,
    CAST(('0x' || substring(md5(unnest(regexp_split_to_array(trim(text), '\s+'))), 1, 8))::BIGINT % 64 AS BIGINT) AS slot
  FROM documents WHERE length(trim(text)) > 0
), scored AS (
  SELECT doc_id, SUM((slot * 2654435761) % 1001 - 500)::BIGINT AS total_w
  FROM slots GROUP BY doc_id
), kept AS (
  SELECT d.doc_id, d.text, s.total_w
  FROM documents d JOIN scored s USING (doc_id) WHERE s.total_w >= 0
), tok AS (
  SELECT doc_id, generate_subscripts(t, 1) AS sub, unnest(t) AS tk
  FROM (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS t FROM kept)
), chunks AS (
  SELECT doc_id, CAST((sub - 1) // 10 AS BIGINT) AS cidx,
    string_agg(tk, ' ' ORDER BY sub) AS chunk
  FROM tok GROUP BY doc_id, (sub - 1) // 10
), ranked AS (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY chunk ORDER BY doc_id, cidx) AS rn
  FROM chunks
), cleaned AS (
  SELECT doc_id,
    string_agg(CASE WHEN rn = 1 THEN chunk END, ' ' ORDER BY cidx) AS clean_text
  FROM ranked GROUP BY doc_id
  HAVING SUM(CASE WHEN rn = 1 THEN 1 ELSE 0 END) > 0
), uniq AS (
  SELECT doc_id,
    CAST(len(regexp_split_to_array(clean_text, '\s+')) AS BIGINT) AS n_toks
  FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY clean_text ORDER BY doc_id) AS dn
    FROM cleaned
  ) WHERE dn = 1
), c AS (
  SELECT u.doc_id, u.n_toks, s.total_w,
    SUM(u.n_toks) OVER (ORDER BY s.total_w DESC, u.doc_id ROWS UNBOUNDED PRECEDING)
      AS cum_toks
  FROM uniq u JOIN scored s USING (doc_id)
)
SELECT doc_id, n_toks, total_w, CAST(cum_toks AS BIGINT) AS cum_toks
FROM c WHERE cum_toks <= 6000
"""


def q_gopher_rules_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style rule-filter audit (operators/quality.py): per-source
    doc counts, per-rule fail counts, and overall pass count. Every rule
    but the repetition one is pure Catalyst; the repetition rule is one
    bigram explode + (doc_id, gram) groupBy — the dedup shuffle shape."""
    from radient_spark.operators.quality import gopher_report

    docs = _widen_narrow_scan(load_tables(spark, sf_dir)["documents"])
    return gopher_report(docs)


_Q_GOPHER_SQL = r"""
WITH t AS (
  SELECT doc_id, source, text,
    regexp_split_to_array(trim(lower(text)), '\s+') AS toks,
    length(trim(text)) = 0 AS blank
  FROM documents
), base AS (
  SELECT doc_id, source,
    CASE WHEN blank THEN 0 ELSE len(toks) END AS n_words,
    CASE WHEN blank THEN 0.0
      ELSE list_sum(list_transform(toks, x -> length(x)))::DOUBLE / len(toks)
    END AS mean_word_len,
    CASE WHEN blank THEN 0.0
      ELSE (length(text) - length(replace(text, '#', ''))
            + len(regexp_split_to_array(text, '\.\.\.|…')) - 1)::DOUBLE
           / len(toks)
    END AS symbol_ratio,
    CASE WHEN blank THEN 0.0
      ELSE len(list_filter(toks, x -> regexp_matches(x, '[a-z]')))::DOUBLE
           / len(toks)
    END AS alpha_word_frac,
    CASE WHEN blank THEN 0
      ELSE len(list_intersect(list_distinct(toks),
        ['the', 'be', 'to', 'of', 'and', 'that', 'have', 'with']))
    END AS n_stop
  FROM t
), bg AS (
  SELECT doc_id,
    unnest(list_transform(generate_series(1, len(toks) - 1),
                          i -> toks[i] || ' ' || toks[i + 1])) AS gram
  FROM t WHERE NOT blank AND len(toks) >= 2
), bgc AS (
  SELECT doc_id, gram, COUNT(*) AS c FROM bg GROUP BY 1, 2
), bgs AS (
  SELECT doc_id, MAX(c) AS top_c, SUM(c) AS total_c FROM bgc GROUP BY 1
), rules AS (
  SELECT b.source,
    CASE WHEN b.n_words BETWEEN 50 AND 100000 THEN 1 ELSE 0 END AS r_words,
    CASE WHEN b.mean_word_len BETWEEN 3.0 AND 10.0 THEN 1 ELSE 0 END AS r_mean_len,
    CASE WHEN b.symbol_ratio <= 0.1 THEN 1 ELSE 0 END AS r_symbol,
    CASE WHEN b.alpha_word_frac >= 0.80 THEN 1 ELSE 0 END AS r_alpha,
    CASE WHEN b.n_stop >= 2 THEN 1 ELSE 0 END AS r_stop,
    CASE WHEN g.total_c IS NULL OR g.total_c = 0 THEN 1
         WHEN g.top_c::DOUBLE / g.total_c::DOUBLE <= 0.20 THEN 1
         ELSE 0 END AS r_repetition
  FROM base b LEFT JOIN bgs g USING (doc_id)
)
SELECT source,
  CAST(COUNT(*) AS BIGINT) AS n_docs,
  CAST(SUM(1 - r_words) AS BIGINT) AS fail_words,
  CAST(SUM(1 - r_mean_len) AS BIGINT) AS fail_mean_len,
  CAST(SUM(1 - r_symbol) AS BIGINT) AS fail_symbol,
  CAST(SUM(1 - r_alpha) AS BIGINT) AS fail_alpha,
  CAST(SUM(1 - r_stop) AS BIGINT) AS fail_stop,
  CAST(SUM(1 - r_repetition) AS BIGINT) AS fail_repetition,
  CAST(SUM(CASE WHEN r_words + r_mean_len + r_symbol + r_alpha + r_stop
                     + r_repetition = 6 THEN 1 ELSE 0 END) AS BIGINT) AS n_pass
FROM rules GROUP BY source
"""


def q_bigram_logppl(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interpolated bigram-LM perplexity buckets (operators/dataset.py:
    bigram_perplexity) — the KenLM-style upgrade of the CCNet unigram
    filter, fit on the corpus itself (MLE, no OOV)."""
    from radient_spark.operators.dataset import bigram_perplexity

    docs = load_tables(spark, sf_dir)["documents"]
    # the token stream is generated twice (model fit, scoring) from
    # row-local expressions — widen the single-split scan (no-op at scale)
    return bigram_perplexity(_widen_narrow_scan(docs))


_Q_BIGRAM_PPL_SQL = r"""
WITH t AS (
  SELECT doc_id, lang, regexp_split_to_array(trim(text), '\s+') AS toks
  FROM documents WHERE length(trim(text)) > 0
), stream AS (
  SELECT doc_id, lang, tk AS cur,
    CASE WHEN sub > 1 THEN toks[sub - 1] END AS prev
  FROM (
    SELECT doc_id, lang, toks,
      generate_subscripts(toks, 1) AS sub, unnest(toks) AS tk
    FROM t
  )
), uni AS (
  SELECT cur, COUNT(*) AS c_uni FROM stream GROUP BY cur
), tot AS (
  SELECT COUNT(*) AS n_total FROM stream
), bg AS (
  SELECT prev, cur, COUNT(*) AS c_bg FROM stream
  WHERE prev IS NOT NULL GROUP BY prev, cur
), pre AS (
  SELECT prev, COUNT(*) AS c_prefix FROM stream
  WHERE prev IS NOT NULL GROUP BY prev
), scored AS (
  SELECT s.doc_id, s.lang,
    CAST(round(-ln(
      CASE WHEN s.prev IS NULL
        THEN u.c_uni::DOUBLE / tot.n_total::DOUBLE
        ELSE 0.7 * (b.c_bg::DOUBLE / p.c_prefix::DOUBLE)
           + 0.3 * (u.c_uni::DOUBLE / tot.n_total::DOUBLE)
      END), 6) AS DECIMAL(18,6)) AS surprisal
  FROM stream s
  JOIN uni u ON s.cur = u.cur
  CROSS JOIN tot
  LEFT JOIN bg b ON s.prev = b.prev AND s.cur = b.cur
  LEFT JOIN pre p ON s.prev = p.prev
), docs AS (
  SELECT doc_id, lang,
    CAST(SUM(surprisal) AS DOUBLE) / COUNT(*) AS logppl
  FROM scored GROUP BY doc_id, lang
)
SELECT doc_id, lang, logppl,
  NTILE(3) OVER (PARTITION BY lang ORDER BY logppl ASC, doc_id ASC)
    AS ppl_bucket
FROM docs
"""


def q_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic stratified downsampling audit (operators/dataset.py:
    stratified_sample): cap each source at ~15 docs via a stateless md5
    keep-rule; report realized counts + the integer rate per source."""
    from radient_spark.operators.dataset import stratified_sample

    docs = load_tables(spark, sf_dir)["documents"]
    sampled = stratified_sample(docs, "source", "doc_id", target_per_stratum=15)
    return sampled.groupBy("source").agg(
        F.min("rate_bp").cast("long").alias("rate_bp"),
        F.count(F.lit(1)).alias("n_sampled"),
    )


_Q_STRATIFIED_SQL = r"""
WITH c AS (
  SELECT source, COUNT(*) AS n FROM documents GROUP BY source
), r AS (
  SELECT source, least(10000, (15 * 10000) // n) AS rate_bp FROM c
), kept AS (
  SELECT d.source, r.rate_bp
  FROM documents d JOIN r USING (source)
  WHERE ('0x' || substring(md5('42_' || d.doc_id::VARCHAR), 1, 8))::BIGINT
        % 10000 < r.rate_bp
)
SELECT source,
  CAST(MIN(rate_bp) AS BIGINT) AS rate_bp,
  CAST(COUNT(*) AS BIGINT) AS n_sampled
FROM kept GROUP BY source
"""


def q_session_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered conversion funnel (view → later click → later purchase)
    per 30-minute session, rolled up by the session's start weekday.

    One shuffle total: the sessionization window, the three chained
    min-over-session windows, and the session rollup all share the
    user_id-compatible partitioning (Exchange reuse), then a tiny
    weekday aggregate."""
    ev = load_tables(spark, sf_dir)["events"]
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    flagged = (
        ev.withColumn("prev_ts", F.lag("ts").over(w))
        .withColumn(
            "new_session",
            F.when(
                F.col("prev_ts").isNull()
                | (F.col("ts") > F.col("prev_ts") + F.expr("INTERVAL 30 MINUTES")),
                1,
            ).otherwise(0),
        )
        .withColumn("session_id", F.sum("new_session").over(w))
    )
    ws = Window.partitionBy("user_id", "session_id")
    staged = (
        flagged.withColumn("session_start", F.min("ts").over(ws))
        .withColumn(
            "t_view",
            F.min(F.when(F.col("event_type") == "view", F.col("ts"))).over(ws),
        )
        .withColumn(
            "t_click",
            F.min(
                F.when(
                    (F.col("event_type") == "click")
                    & (F.col("ts") >= F.col("t_view")),
                    F.col("ts"),
                )
            ).over(ws),
        )
        .withColumn(
            "t_purchase",
            F.min(
                F.when(
                    (F.col("event_type") == "purchase")
                    & (F.col("ts") >= F.col("t_click")),
                    F.col("ts"),
                )
            ).over(ws),
        )
    )
    sessions = staged.groupBy("user_id", "session_id").agg(
        F.min("session_start").alias("start"),
        F.min("t_view").alias("t_view"),
        F.min("t_click").alias("t_click"),
        F.min("t_purchase").alias("t_purchase"),
    )
    return sessions.groupBy(F.weekday("start").alias("weekday")).agg(
        F.count(F.lit(1)).alias("n_sessions"),
        F.sum(F.col("t_view").isNotNull().cast("int")).alias("n_view"),
        F.sum(F.col("t_click").isNotNull().cast("int")).alias("n_view_click"),
        F.sum(F.col("t_purchase").isNotNull().cast("int")).alias("n_full_funnel"),
    )


_Q_FUNNEL_SQL = """
WITH flagged AS (
  SELECT user_id, event_id, ts, event_type,
    CASE WHEN lag(ts) OVER w IS NULL
           OR ts > lag(ts) OVER w + INTERVAL 30 MINUTE
         THEN 1 ELSE 0 END AS new_session
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
), sess AS (
  SELECT *, SUM(new_session)
      OVER (PARTITION BY user_id ORDER BY ts, event_id) AS session_id
  FROM flagged
), staged AS (
  SELECT user_id, session_id,
    MIN(ts) OVER ws AS session_start,
    MIN(CASE WHEN event_type = 'view' THEN ts END) OVER ws AS t_view,
    ts, event_type
  FROM sess
  WINDOW ws AS (PARTITION BY user_id, session_id)
), staged2 AS (
  SELECT *,
    MIN(CASE WHEN event_type = 'click' AND ts >= t_view THEN ts END)
      OVER ws AS t_click
  FROM staged
  WINDOW ws AS (PARTITION BY user_id, session_id)
), staged3 AS (
  SELECT *,
    MIN(CASE WHEN event_type = 'purchase' AND ts >= t_click THEN ts END)
      OVER ws AS t_purchase
  FROM staged2
  WINDOW ws AS (PARTITION BY user_id, session_id)
), sessions AS (
  SELECT user_id, session_id,
    MIN(session_start) AS start,
    MIN(t_view) AS t_view, MIN(t_click) AS t_click,
    MIN(t_purchase) AS t_purchase
  FROM staged3 GROUP BY user_id, session_id
)
SELECT CAST(date_part('isodow', start) - 1 AS INT) AS weekday,
  COUNT(*) AS n_sessions,
  CAST(SUM(CASE WHEN t_view IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
    AS n_view,
  CAST(SUM(CASE WHEN t_click IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
    AS n_view_click,
  CAST(SUM(CASE WHEN t_purchase IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
    AS n_full_funnel
FROM sessions GROUP BY 1
"""


def q_embedding_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label embedding-distribution monitor — the drift dashboard a
    production vector pipeline runs per ingest batch: vector count,
    integer-micro-unit centroid mass (L1 of per-dim component sums), and
    the dominant dimension. Components quantize to round(x*1e6) BIGINTs
    BEFORE aggregation, so every sum is exact in any order/partitioning
    (the kmeans/fastrp oracle discipline) and the DuckDB oracle hashes
    bit-for-bit.

    Shape at scale: posexplode → (label, dim) partial-agg groupBy —
    shuffle volume is O(labels × dims), corpus-size independent."""
    emb = load_tables(spark, sf_dir)["embeddings"]
    per_label = emb.groupBy("label").agg(F.count(F.lit(1)).alias("n_vecs"))
    dims = (
        emb.select(
            "label", F.posexplode("embedding").alias("dim", "x")
        )
        .withColumn("micro", F.round(F.col("x") * 1e6, 0).cast("long"))
        .groupBy("label", "dim")
        .agg(F.sum("micro").alias("s"))
    )
    rolled = dims.groupBy("label").agg(
        F.sum(F.abs(F.col("s"))).alias("l1_micro"),
        F.max(
            F.struct(F.abs(F.col("s")).alias("a"), (-F.col("dim")).alias("nd"))
        ).alias("__m"),
    )
    return per_label.join(rolled, "label").select(
        "label",
        "n_vecs",
        "l1_micro",
        (-F.col("__m.nd")).cast("int").alias("top_dim"),
        F.col("__m.a").alias("top_micro_abs"),
    )


_Q_DRIFT_SQL = """
WITH d AS (
  SELECT label, generate_subscripts(embedding, 1) - 1 AS dim,
    unnest(embedding) AS x
  FROM embeddings
), s AS (
  SELECT label, dim,
    CAST(SUM(CAST(round(x::DOUBLE * 1e6, 0) AS BIGINT)) AS BIGINT) AS s
  FROM d GROUP BY label, dim
), ranked AS (
  SELECT label, dim, s,
    ROW_NUMBER() OVER (PARTITION BY label ORDER BY abs(s) DESC, dim ASC)
      AS rn
  FROM s
), rolled AS (
  SELECT label, CAST(SUM(abs(s)) AS BIGINT) AS l1_micro FROM s GROUP BY label
), top AS (
  SELECT label, CAST(dim AS INT) AS top_dim, abs(s) AS top_micro_abs
  FROM ranked WHERE rn = 1
), n AS (
  SELECT label, COUNT(*) AS n_vecs FROM embeddings GROUP BY label
)
SELECT n.label, n.n_vecs, rolled.l1_micro, top.top_dim, top.top_micro_abs
FROM n JOIN rolled USING (label) JOIN top USING (label)
"""


def q_epoch_interleave(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic training-epoch ordering with source temperature
    weighting: every doc gets a stateless position key
    (md5_bucket + 1) / sqrt(n_source), so a prefix of the key-ordered
    corpus contains each source in proportion to n_s * sqrt(n_s) — the
    data-loader analogue of temperature mixing, computed with ZERO
    per-source sort (no skewed partitionBy(source) window; the only
    ordered op is the global TakeOrderedAndProject for the audited
    prefix). Returns the first 200 docs of the epoch with their rank."""
    from radient_spark.operators.dedup import str_hash

    docs = load_tables(spark, sf_dir)["documents"]
    counts = docs.groupBy("source").agg(F.count(F.lit(1)).alias("__n"))
    bucket = str_hash(F.concat_ws("_", F.lit("epoch"), F.col("doc_id"))) % 1_000_000
    keyed = docs.join(F.broadcast(counts), "source").select(
        "doc_id",
        "source",
        (
            (bucket + F.lit(1)).cast("double")
            / F.sqrt(F.col("__n").cast("double"))
        ).alias("pos_key"),
    )
    prefix = keyed.orderBy(
        F.col("pos_key").asc(), F.col("doc_id").asc()
    ).limit(200)
    w = Window.orderBy(F.col("pos_key").asc(), F.col("doc_id").asc())
    return prefix.withColumn("epoch_rank", F.row_number().over(w)).select(
        "epoch_rank", "doc_id", "source", F.round("pos_key", 6).alias("pos_key")
    )


_Q_EPOCH_SQL = """
WITH c AS (
  SELECT source, COUNT(*) AS n FROM documents GROUP BY source
), keyed AS (
  SELECT d.doc_id, d.source,
    ((('0x' || substring(md5('epoch_' || d.doc_id::VARCHAR), 1, 8))::BIGINT
      % 1000000) + 1)::DOUBLE / sqrt(c.n::DOUBLE) AS pos_key
  FROM documents d JOIN c USING (source)
), prefix AS (
  SELECT * FROM keyed ORDER BY pos_key ASC, doc_id ASC LIMIT 200
)
SELECT ROW_NUMBER() OVER (ORDER BY pos_key ASC, doc_id ASC) AS epoch_rank,
  doc_id, source, round(pos_key, 6) AS pos_key
FROM prefix
"""


QUERY_VEC_MILLI = [int(round(x * 1000)) for x in QUERY_VEC]


def q_mmr_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MMR diversity re-ranking (operators/retrieval.py::mmr_rerank):
    distributed integer-dot scoring + TakeOrderedAndProject shortlist
    (50), then the inherently-sequential greedy selection of 10 diverse
    results on the collected shortlist (documented small-side contract).
    Integer-quantized sims make the recursive-CTE oracle bit-exact."""
    from radient_spark.operators.retrieval import mmr_rerank

    emb = load_tables(spark, sf_dir)["embeddings"]
    qarr = V.lit_longs(QUERY_VEC_MILLI)
    staged = emb.withColumn(
        "v",
        F.transform("embedding", lambda x: F.round(x * 1000, 0).cast("long")),
    ).withColumn(
        "rel",
        F.aggregate(
            F.zip_with(F.col("v"), qarr, lambda a, b: a * b),
            F.lit(0).cast("long"),
            lambda acc, x: acc + x,
        ),
    )
    shortlist = staged.select("vec_id", "rel", "v").orderBy(
        F.col("rel").desc(), F.col("vec_id").asc()
    ).limit(50)
    chosen = mmr_rerank(shortlist, QUERY_VEC_MILLI, k=10)
    return local_frame(spark, chosen, "mmr_rank int, vec_id long, marginal long")


_QV_MILLI_SQL = (
    "[" + ", ".join(str(c) for c in [int(round(x * 1000)) for x in QUERY_VEC]) + "]::DOUBLE[]"
)
_Q_MMR_SQL = f"""
WITH RECURSIVE short AS (
  SELECT vec_id,
    list_transform(embedding, x -> CAST(round(x::DOUBLE * 1000, 0) AS BIGINT))
      AS v,
    CAST(list_dot_product(
      list_transform(embedding, x -> round(x::DOUBLE * 1000, 0)),
      {_QV_MILLI_SQL}) AS BIGINT) AS rel
  FROM embeddings
  ORDER BY rel DESC, vec_id ASC LIMIT 50
), pairs AS (
  SELECT a.vec_id AS pa, b.vec_id AS pb,
    CAST(list_dot_product(a.v::DOUBLE[], b.v::DOUBLE[]) AS BIGINT) AS sim
  FROM short a JOIN short b ON a.vec_id <> b.vec_id
), mmr AS (
  SELECT 1 AS step,
    [(SELECT vec_id FROM short ORDER BY rel DESC, vec_id ASC LIMIT 1)]
      AS chosen
  UNION ALL
  SELECT m.step + 1,
    list_append(m.chosen, (
      SELECT c.vec_id FROM short c
      WHERE NOT list_contains(m.chosen, c.vec_id)
      ORDER BY c.rel - (SELECT MAX(p.sim) FROM pairs p
                        WHERE p.pa = c.vec_id
                          AND list_contains(m.chosen, p.pb)) DESC,
               c.vec_id ASC
      LIMIT 1))
  FROM mmr m WHERE m.step < 10
), final AS (
  SELECT chosen FROM mmr WHERE step = (SELECT MAX(step) FROM mmr)
), expanded AS (
  SELECT generate_subscripts(chosen, 1) AS ord, unnest(chosen) AS id, chosen
  FROM final
)
SELECT CAST(e.ord AS INT) AS mmr_rank, e.id AS vec_id,
  CAST(s.rel - COALESCE((SELECT MAX(p.sim) FROM pairs p
      WHERE p.pa = e.id AND list_contains(e.chosen[1:e.ord - 1], p.pb)), 0)
    AS BIGINT) AS marginal
FROM expanded e JOIN short s ON s.vec_id = e.id
"""


def q_bloom_dedup_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-filter ingest gate audit: hold out every 10th document as an
    ingest batch, build a Bloom filter over the remaining corpus, gate
    the batch, and report per source how the gate did against exact
    truth (definite-new vs maybe-dup vs true-dup vs false-positive).
    The filter is deliberately undersized (m=2 Ki bits, k=3) so false
    positives actually occur and the report exercises the interesting
    path; production sizes m at ~10 bits/key for ~1% FP.

    Scale shape: corpus -> ONE map-side-combined aggregation into an
    m/32-word bitmap (corpus-size-independent output); gate = zero-
    shuffle literal-array probe; exact-truth join is md5-key semi-join
    only over the 10%% batch. No false negatives by construction.
    """
    from radient_spark.operators.dedup import bloom_build, bloom_gate

    M, K = 2048, 3
    docs = load_tables(spark, sf_dir)["documents"]
    corpus = docs.filter(F.col("doc_id") % 10 != 0)
    batch = docs.filter(F.col("doc_id") % 10 == 0).select(
        "doc_id", "source", "text"
    )
    bitmap = bloom_build(corpus.select("text"), "text", M, K)
    gated = bloom_gate(batch, bitmap, "text", M, K)
    truth = corpus.select(F.md5("text").alias("__h")).distinct()
    flagged = gated.withColumn("__h", F.md5("text")).join(
        truth.withColumn("__dup", F.lit(True)), "__h", "left"
    )
    return flagged.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_batch"),
        F.sum(F.col("maybe_dup").cast("long")).alias("n_flagged"),
        F.sum(F.col("__dup").isNotNull().cast("long")).alias("n_true_dup"),
        F.sum(
            (F.col("maybe_dup") & F.col("__dup").isNull()).cast("long")
        ).alias("n_false_pos"),
    )


_Q_BLOOM_GATE_SQL = """
WITH corpus AS (
  SELECT text FROM documents WHERE doc_id % 10 <> 0
), batch AS (
  SELECT doc_id, source, text FROM documents WHERE doc_id % 10 = 0
), cpos AS (
  SELECT DISTINCT (h1 + i * h2) % 2048 AS pos
  FROM (
    SELECT ('0x' || substring(md5(text), 1, 15))::BIGINT % 2048 AS h1,
           (('0x' || substring(md5(text), 17, 15))::BIGINT % 2048) | 1 AS h2
    FROM corpus
  ), range(0, 3) t(i)
), probes AS (
  SELECT doc_id, source, text, (h1 + i * h2) % 2048 AS pos
  FROM (
    SELECT doc_id, source, text,
           ('0x' || substring(md5(text), 1, 15))::BIGINT % 2048 AS h1,
           (('0x' || substring(md5(text), 17, 15))::BIGINT % 2048) | 1 AS h2
    FROM batch
  ), range(0, 3) t(i)
), gated AS (
  SELECT doc_id, source, text, bool_and(c.pos IS NOT NULL) AS maybe_dup
  FROM probes p LEFT JOIN cpos c USING (pos)
  GROUP BY doc_id, source, text
), truth AS (
  SELECT DISTINCT md5(text) AS h FROM corpus
), flagged AS (
  SELECT g.source, g.maybe_dup, (t.h IS NOT NULL) AS is_dup
  FROM gated g LEFT JOIN truth t ON md5(g.text) = t.h
)
SELECT source, COUNT(*) AS n_batch,
  CAST(SUM(CASE WHEN maybe_dup THEN 1 ELSE 0 END) AS BIGINT) AS n_flagged,
  CAST(SUM(CASE WHEN is_dup THEN 1 ELSE 0 END) AS BIGINT) AS n_true_dup,
  CAST(SUM(CASE WHEN maybe_dup AND NOT is_dup THEN 1 ELSE 0 END) AS BIGINT)
    AS n_false_pos
FROM flagged GROUP BY source
"""



def q_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly cohort-retention matrix: users grouped by first-activity
    week (cohort), counted by how many are active N weeks later — the
    standard growth-analytics triangle. Returned long-form
    (cohort_week, week_offset, n_active, cohort_size, retention_pct).

    Scale shape: one groupBy(user) min(ts) for cohorts (map-side
    combined), one distinct on (user, week) for activity, one shuffle
    join on user_id (both sides already hash-partitioned by user_id —
    Exchange reuse), then a tiny (cohorts x offsets) aggregate. No
    windows, no skew: user_id is uniform. retention_pct rounds to 4
    decimals for cross-engine hash stability.
    """
    ev = load_tables(spark, sf_dir)["events"]
    cohorts = ev.groupBy("user_id").agg(
        F.date_trunc("week", F.min("ts")).alias("cohort_week")
    )
    active = ev.select(
        "user_id", F.date_trunc("week", F.col("ts")).alias("week")
    ).distinct()
    joined = active.join(cohorts, "user_id")
    per_cell = joined.groupBy(
        "cohort_week",
        (
            F.datediff(F.col("week"), F.col("cohort_week")) / 7
        ).cast("int").alias("week_offset"),
    ).agg(F.countDistinct("user_id").alias("n_active"))
    sizes = cohorts.groupBy("cohort_week").agg(
        F.count(F.lit(1)).alias("cohort_size")
    )
    return (
        per_cell.join(sizes, "cohort_week")
        .select(
            F.date_format("cohort_week", "yyyy-MM-dd").alias("cohort_week"),
            "week_offset",
            "n_active",
            "cohort_size",
            F.round(
                F.col("n_active") / F.col("cohort_size") * 100, 4
            ).alias("retention_pct"),
        )
    )


_Q_COHORT_SQL = """
WITH cohorts AS (
  SELECT user_id, date_trunc('week', MIN(ts)) AS cohort_week
  FROM events GROUP BY user_id
), active AS (
  SELECT DISTINCT user_id, date_trunc('week', ts) AS week FROM events
), per_cell AS (
  SELECT c.cohort_week,
    CAST(date_diff('day', c.cohort_week, a.week) / 7 AS INT) AS week_offset,
    COUNT(DISTINCT a.user_id) AS n_active
  FROM active a JOIN cohorts c USING (user_id)
  GROUP BY 1, 2
), sizes AS (
  SELECT cohort_week, COUNT(*) AS cohort_size FROM cohorts GROUP BY 1
)
SELECT strftime(p.cohort_week, '%Y-%m-%d') AS cohort_week,
  p.week_offset, p.n_active, s.cohort_size,
  ROUND(p.n_active * 100.0 / s.cohort_size, 4) AS retention_pct
FROM per_cell p JOIN sizes s USING (cohort_week)
"""



def q_ngram_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lexical-diversity report per source: type-token ratio for unigrams
    and trigrams (distinct / total) — the standard self-repetition
    signal data-curation pipelines use to down-weight boilerplate-heavy
    sources (low TTR = templated/duplicated content).

    Scale shape: ONE posexplode of the token stream serves both gram
    sizes — each exploded row carries its unigram plus the trigram
    starting at its position (derived by element_at against the staged
    token array, no second explode). One map-side-combined groupBy per
    source. Shuffle carries (source, token, trigram) rows, linear in
    corpus tokens. Ratios round to 6 decimals for hash stability.
    """
    from radient_spark.functions import text as X
    from radient_spark.functions.stage import stage

    docs = load_tables(spark, sf_dir)["documents"]
    toks = stage(
        docs.select("doc_id", "source", "text"), toks=X.tokens(F.col("text"))
    )
    grams = toks.select(
        "source",
        "toks",
        F.posexplode("toks").alias("pos", "tok"),
        F.size("toks").alias("n"),
    ).withColumn(
        "tri",
        F.when(
            F.col("pos") + 2 < F.col("n"),
            F.concat_ws(
                " ",
                F.col("tok"),
                F.element_at(F.col("toks"), F.col("pos") + 2),
                F.element_at(F.col("toks"), F.col("pos") + 3),
            ),
        ),
    )
    return grams.groupBy("source").agg(
        F.count(F.lit(1)).alias("total_tokens"),
        F.countDistinct("tok").alias("distinct_tokens"),
        F.count("tri").alias("total_trigrams"),
        F.countDistinct("tri").alias("distinct_trigrams"),
        F.round(F.countDistinct("tok") / F.count(F.lit(1)), 6).alias("ttr_unigram"),
        F.round(F.countDistinct("tri") / F.count("tri"), 6).alias("ttr_trigram"),
    )


_Q_NGRAM_DIVERSITY_SQL = """
WITH toks AS (
  SELECT doc_id, source, regexp_split_to_array(trim(text), '\\s+') AS toks
  FROM documents
), grams AS (
  SELECT source, toks[i] AS tok,
    CASE WHEN i + 2 <= len(toks)
         THEN toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] END AS tri
  FROM toks, unnest(generate_series(1, len(toks))) AS t(i)
)
SELECT source,
  COUNT(*) AS total_tokens,
  COUNT(DISTINCT tok) AS distinct_tokens,
  COUNT(tri) AS total_trigrams,
  COUNT(DISTINCT tri) AS distinct_trigrams,
  ROUND(COUNT(DISTINCT tok)::DOUBLE / COUNT(*), 6) AS ttr_unigram,
  ROUND(COUNT(DISTINCT tri)::DOUBLE / COUNT(tri), 6) AS ttr_trigram
FROM grams GROUP BY source
"""



def q_value_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact p50/p90/p99 of event value per event_type, computed by the
    distributed order-statistic engine (operators/dataset.py
    exact_group_quantiles) — NOT Spark's `percentile` aggregate, which
    buffers a whole group on one reducer. The result is the value at
    rank ceil(q*n) ascending, an existing cell value (no interpolation,
    no float arithmetic), so it hash-matches the oracle exactly.

    Scale shape (round 8): event values live on a bounded cent
    lattice, so the exact order statistics come from ONE scan into a
    (event_type, value) histogram plus one tiny cumulative-count
    window — all three ranks picked in a single aggregate
    (operators/dataset.histogram_order_statistic), no approxQuantile
    boundary pass, no occupancy collect, no raw-row window.  The
    histogram is O(groups x value domain) regardless of row count;
    even the wide cent-lattice price domain measures faster this way
    (q_approx_cardinalities, round 9: 5.4 -> 2.7 s) — only genuinely
    unbounded domains (millisecond deltas, q_time_to_convert) stay on
    exact_group_quantiles.
    """
    from radient_spark.operators.dataset import histogram_order_statistic

    ev = load_tables(spark, sf_dir)["events"]
    hist = ev.groupBy("event_type", "value").agg(F.count(F.lit(1)).alias("c"))
    return histogram_order_statistic(
        hist, "event_type", "value", qs=[0.5, 0.9, 0.99],
        out_cols=["p50", "p90", "p99"],
    ).select("event_type", "p50", "p90", "p99")


_Q_VALUE_PCTL_SQL = """
WITH ranked AS (
  SELECT event_type, value,
    row_number() OVER (PARTITION BY event_type ORDER BY value) AS rn,
    COUNT(*) OVER (PARTITION BY event_type) AS n
  FROM events
)
SELECT event_type,
  MAX(CASE WHEN rn = GREATEST(1, CAST(ceil(0.5  * n) AS BIGINT)) THEN value END) AS p50,
  MAX(CASE WHEN rn = GREATEST(1, CAST(ceil(0.9  * n) AS BIGINT)) THEN value END) AS p90,
  MAX(CASE WHEN rn = GREATEST(1, CAST(ceil(0.99 * n) AS BIGINT)) THEN value END) AS p99
FROM ranked GROUP BY event_type
"""



def q_table_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dataset-card profile of the orders table: per-column row/null/
    exact-distinct counts plus numeric min/max, via the one-pass
    profiler (operators/dataset.py profile_table). The report every
    corpus snapshot ships with.
    """
    from radient_spark.operators.dataset import profile_table

    return profile_table(load_tables(spark, sf_dir)["orders"])


_Q_TABLE_PROFILE_SQL = """
SELECT 'o_orderkey' AS col_name, COUNT(*) AS n_rows,
  CAST(SUM(CASE WHEN o_orderkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_nulls,
  COUNT(DISTINCT o_orderkey) AS n_distinct,
  CAST(MIN(o_orderkey) AS DOUBLE) AS min_num, CAST(MAX(o_orderkey) AS DOUBLE) AS max_num
FROM orders
UNION ALL
SELECT 'o_custkey' AS col_name, COUNT(*) AS n_rows,
  CAST(SUM(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_nulls,
  COUNT(DISTINCT o_custkey) AS n_distinct,
  CAST(MIN(o_custkey) AS DOUBLE) AS min_num, CAST(MAX(o_custkey) AS DOUBLE) AS max_num
FROM orders
UNION ALL
SELECT 'o_orderstatus' AS col_name, COUNT(*) AS n_rows,
  CAST(SUM(CASE WHEN o_orderstatus IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_nulls,
  COUNT(DISTINCT o_orderstatus) AS n_distinct,
  CAST(NULL AS DOUBLE) AS min_num, CAST(NULL AS DOUBLE) AS max_num
FROM orders
UNION ALL
SELECT 'o_totalprice' AS col_name, COUNT(*) AS n_rows,
  CAST(SUM(CASE WHEN o_totalprice IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_nulls,
  COUNT(DISTINCT o_totalprice) AS n_distinct,
  CAST(MIN(o_totalprice) AS DOUBLE) AS min_num, CAST(MAX(o_totalprice) AS DOUBLE) AS max_num
FROM orders
UNION ALL
SELECT 'o_orderdate' AS col_name, COUNT(*) AS n_rows,
  CAST(SUM(CASE WHEN o_orderdate IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_nulls,
  COUNT(DISTINCT o_orderdate) AS n_distinct,
  CAST(NULL AS DOUBLE) AS min_num, CAST(NULL AS DOUBLE) AS max_num
FROM orders
UNION ALL
SELECT 'o_orderpriority' AS col_name, COUNT(*) AS n_rows,
  CAST(SUM(CASE WHEN o_orderpriority IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_nulls,
  COUNT(DISTINCT o_orderpriority) AS n_distinct,
  CAST(NULL AS DOUBLE) AS min_num, CAST(NULL AS DOUBLE) AS max_num
FROM orders
ORDER BY col_name
"""



def q_skew_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-key skew diagnostics for lineitem.l_orderkey — the
    pre-flight check before shuffling on a key at scale: distinct-key
    count, total rows, max/mean group size, skew ratio (max/mean), and
    the share of rows concentrated in the 10 heaviest keys. A skew
    ratio near 1 means hash partitions balance; >>1 means salt the key
    or enable AQE skew-join before the big shuffle.

    Scale shape: one map-side-combined groupBy(key) count; the stats
    aggregate reduces the per-key table; the top-10 share is a
    TakeOrderedAndProject over per-key counts (never the raw rows) —
    tiebroken by key for determinism.
    """
    li = load_tables(spark, sf_dir)["lineitem"]
    counts = li.groupBy("l_orderkey").agg(F.count(F.lit(1)).alias("cnt"))
    stats = counts.agg(
        F.count(F.lit(1)).alias("n_keys"),
        F.sum("cnt").alias("n_rows"),
        F.max("cnt").alias("max_group"),
        F.round(F.avg("cnt"), 6).alias("mean_group"),
        F.round(F.max("cnt") / F.avg("cnt"), 6).alias("skew_ratio"),
    )
    top10 = (
        counts.orderBy(F.col("cnt").desc(), F.col("l_orderkey").asc())
        .limit(10)
        .agg(F.sum("cnt").alias("top10_rows"))
    )
    return stats.crossJoin(top10).select(
        "n_keys",
        "n_rows",
        "max_group",
        "mean_group",
        "skew_ratio",
        F.round(F.col("top10_rows") / F.col("n_rows") * 100, 6).alias(
            "top10_pct"
        ),
    )


_Q_SKEW_SQL = """
WITH counts AS (
  SELECT l_orderkey, COUNT(*) AS cnt FROM lineitem GROUP BY l_orderkey
), stats AS (
  SELECT COUNT(*) AS n_keys, CAST(SUM(cnt) AS BIGINT) AS n_rows,
    MAX(cnt) AS max_group,
    ROUND(AVG(cnt), 6) AS mean_group,
    ROUND(MAX(cnt) / AVG(cnt), 6) AS skew_ratio
  FROM counts
), top10 AS (
  SELECT CAST(SUM(cnt) AS BIGINT) AS top10_rows FROM (
    SELECT cnt FROM counts ORDER BY cnt DESC, l_orderkey ASC LIMIT 10
  )
)
SELECT n_keys, n_rows, max_group, mean_group, skew_ratio,
  ROUND(top10_rows * 100.0 / n_rows, 6) AS top10_pct
FROM stats, top10
"""



def q_hll_cardinalities(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct-count estimation with the PORTABLE HyperLogLog sketch
    (operators/sketch.py): per audited events column, the exact distinct
    count, the sketch registers set, the HLL estimate, and its relative
    error. Unlike Spark's opaque approx_count_distinct (kept as the
    rows-only q_approx_cardinalities), every register here is md5-
    derived and the harmonic sum is exact-integer, so the DuckDB oracle
    reproduces the estimate to the rounded digit — the sketch itself is
    hash-verified.

    Scale shape: per column, ONE map-side-combined groupBy over at most
    2^p register rows — shuffle volume is sketch-size, not data-size;
    sketches merge by register-wise max across partitions/batches. The
    exact countDistinct rides along only as the audit baseline.
    """
    from radient_spark.operators.sketch import hll_cardinality

    ev = load_tables(spark, sf_dir)["events"]
    outs = []
    for c in ["user_id", "event_type", "event_id"]:
        est = hll_cardinality(ev, c, p=12)
        exact = ev.agg(F.countDistinct(c).alias("exact_distinct"))
        outs.append(
            exact.crossJoin(est).select(
                F.lit(c).alias("col_name"),
                "exact_distinct",
                "n_registers_set",
                "estimate",
                F.round(
                    (F.col("estimate") - F.col("exact_distinct"))
                    / F.col("exact_distinct")
                    * 100,
                    4,
                ).alias("rel_err_pct"),
            )
        )
    out = outs[0]
    for o in outs[1:]:
        out = out.unionAll(o)
    return out


def _hll_audit_sql() -> str:
    from radient_spark.operators.sketch import hll_sql

    parts = []
    for c in ["user_id", "event_type", "event_id"]:
        parts.append(f"""
SELECT '{c}' AS col_name,
  (SELECT COUNT(DISTINCT {c}) FROM events) AS exact_distinct,
  n_registers_set, estimate,
  ROUND((estimate - (SELECT COUNT(DISTINCT {c}) FROM events))
        / (SELECT COUNT(DISTINCT {c}) FROM events) * 100, 4) AS rel_err_pct
FROM ({hll_sql("events", c, p=12)})""")
    return "\nUNION ALL\n".join(parts)



def q_cms_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min-sketch frequency audit: build a (4 x 256) CMS over the
    corpus token stream, point-query the exact top-20 tokens, and report
    estimate vs truth (CMS never underestimates; the overestimate is the
    collision mass, bounded by eps*N). The whole path — build cells,
    probe, min-fold — is exact integer arithmetic on portable md5
    hashes, so the oracle verifies the sketch hash-for-hash.

    Scale shape: the sketch build is one explode(d) + map-side-combined
    groupBy to at most d*w cells regardless of corpus size; the exact
    top-20 baseline is a token groupBy + TakeOrderedAndProject; probes
    broadcast-join the d*w-row sketch.
    """
    from radient_spark.functions import text as X
    from radient_spark.functions.stage import stage
    from radient_spark.operators.sketch import cms_build, cms_estimate

    DEPTH, WIDTH = 4, 256
    docs = load_tables(spark, sf_dir)["documents"]
    toks = stage(docs.select("text"), toks=X.tokens(F.col("text"))).select(
        F.explode("toks").alias("tok")
    )
    sketch = cms_build(toks, "tok", DEPTH, WIDTH)
    exact = (
        toks.groupBy("tok")
        .agg(F.count(F.lit(1)).alias("exact_count"))
        .orderBy(F.col("exact_count").desc(), F.col("tok").asc())
        .limit(20)
    )
    est = cms_estimate(sketch, exact.select("tok"), "tok", DEPTH, WIDTH)
    return exact.join(est, "tok").select(
        "tok",
        "exact_count",
        F.col("est").alias("cms_est"),
        (F.col("est") - F.col("exact_count")).alias("overestimate"),
    )


_Q_CMS_SQL = """
WITH toks AS (
  SELECT unnest(regexp_split_to_array(trim(text), '\\s+')) AS tok
  FROM documents
), cells AS (
  SELECT r,
    ('0x' || substring(md5(CAST(r AS VARCHAR) || '_' || tok), 1, 8))::BIGINT
      % 256 AS slot,
    COUNT(*) AS c
  FROM toks, range(0, 4) t(r)
  GROUP BY 1, 2
), exact AS (
  SELECT tok, COUNT(*) AS exact_count FROM toks GROUP BY tok
  ORDER BY exact_count DESC, tok ASC LIMIT 20
), probes AS (
  SELECT e.tok, e.exact_count, c.c
  FROM exact e JOIN cells c
    ON c.slot = ('0x' || substring(md5(CAST(c.r AS VARCHAR) || '_' || e.tok),
                 1, 8))::BIGINT % 256
)
SELECT tok, exact_count, MIN(c) AS cms_est,
  MIN(c) - exact_count AS overestimate
FROM probes GROUP BY tok, exact_count
"""



def q_integrity_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Referential-integrity audit across the warehouse FK graph: for
    each child->parent edge, total child rows, orphaned rows (no parent
    key), and null FK rows — the data-quality gate a pipeline runs
    before publishing a snapshot.

    Scale shape: each check is ONE left-anti join on the FK (broadcast
    when the parent's key set is small, shuffle-hash otherwise — the
    optimizer's call); counts are map-side-combined. No row data moves,
    only keys.
    """
    t = load_tables(spark, sf_dir)
    edges = [
        ("lineitem.l_orderkey", t["lineitem"], "l_orderkey", t["orders"], "o_orderkey"),
        ("orders.o_custkey", t["orders"], "o_custkey", t["customer"], "c_custkey"),
        ("customer.c_nationkey", t["customer"], "c_nationkey", t["nation"], "n_nationkey"),
        ("supplier.s_nationkey", t["supplier"], "s_nationkey", t["nation"], "n_nationkey"),
        ("nation.n_regionkey", t["nation"], "n_regionkey", t["region"], "r_regionkey"),
    ]
    outs = []
    for name, child, fk, parent, pk in edges:
        total = child.agg(F.count(F.lit(1)).alias("n_rows"))
        nulls = child.filter(F.col(fk).isNull()).agg(
            F.count(F.lit(1)).alias("n_null_fk")
        )
        orphans = (
            child.filter(F.col(fk).isNotNull())
            .join(parent.select(pk), child[fk] == parent[pk], "left_anti")
            .agg(F.count(F.lit(1)).alias("n_orphans"))
        )
        outs.append(
            total.crossJoin(nulls)
            .crossJoin(orphans)
            .select(
                F.lit(name).alias("fk_edge"), "n_rows", "n_null_fk", "n_orphans"
            )
        )
    out = outs[0]
    for o in outs[1:]:
        out = out.unionAll(o)
    return out


def _integrity_sql() -> str:
    edges = [
        ("lineitem.l_orderkey", "lineitem", "l_orderkey", "orders", "o_orderkey"),
        ("orders.o_custkey", "orders", "o_custkey", "customer", "c_custkey"),
        ("customer.c_nationkey", "customer", "c_nationkey", "nation", "n_nationkey"),
        ("supplier.s_nationkey", "supplier", "s_nationkey", "nation", "n_nationkey"),
        ("nation.n_regionkey", "nation", "n_regionkey", "region", "r_regionkey"),
    ]
    parts = []
    for name, child, fk, parent, pk in edges:
        parts.append(f"""
SELECT '{name}' AS fk_edge,
  (SELECT COUNT(*) FROM {child}) AS n_rows,
  (SELECT COUNT(*) FROM {child} WHERE {fk} IS NULL) AS n_null_fk,
  (SELECT COUNT(*) FROM {child} c WHERE c.{fk} IS NOT NULL
     AND NOT EXISTS (SELECT 1 FROM {parent} p WHERE p.{pk} = c.{fk}))
    AS n_orphans""")
    return "\nUNION ALL\n".join(parts)


def q_cross_source_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-source duplication matrix: for every ordered source pair
    (a, b), how many of a's distinct document hashes also appear in b —
    the provenance report that tells a curation team WHICH feeds
    duplicate into which (mirrors, scrapes of scrapes) before they pick
    a keep-priority order.

    Scale shape: the corpus collapses to DISTINCT (source, md5) keys
    first — everything after runs on 16-byte hash rows: one self-join
    on the hash (co-occurring sources only; the join fan-out is the
    duplication mass, not |corpus|^2), one groupBy per pair.
    """
    docs = load_tables(spark, sf_dir)["documents"]
    keys = docs.select(
        "source", F.md5("text").alias("h")
    ).distinct()
    a = keys.alias("a")
    b = keys.alias("b")
    pairs = (
        a.join(b, (F.col("a.h") == F.col("b.h")) & (F.col("a.source") != F.col("b.source")))
        .groupBy(F.col("a.source").alias("source_a"), F.col("b.source").alias("source_b"))
        .agg(F.count(F.lit(1)).alias("n_shared"))
    )
    sizes = keys.groupBy("source").agg(F.count(F.lit(1)).alias("n_distinct_a"))
    return pairs.join(
        sizes, pairs["source_a"] == sizes["source"]
    ).select(
        "source_a",
        "source_b",
        "n_shared",
        "n_distinct_a",
        F.round(F.col("n_shared") / F.col("n_distinct_a") * 100, 4).alias(
            "overlap_pct"
        ),
    )


_Q_CROSS_SOURCE_SQL = """
WITH keys AS (
  SELECT DISTINCT source, md5(text) AS h FROM documents
), pairs AS (
  SELECT a.source AS source_a, b.source AS source_b, COUNT(*) AS n_shared
  FROM keys a JOIN keys b ON a.h = b.h AND a.source <> b.source
  GROUP BY 1, 2
), sizes AS (
  SELECT source, COUNT(*) AS n_distinct_a FROM keys GROUP BY source
)
SELECT p.source_a, p.source_b, p.n_shared, s.n_distinct_a,
  ROUND(p.n_shared * 100.0 / s.n_distinct_a, 4) AS overlap_pct
FROM pairs p JOIN sizes s ON p.source_a = s.source
"""


def q_rolling_anomalies(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling z-score anomaly detection: flag events whose value
    deviates > 3 sigma from the trailing 50-event mean/stddev of their
    user's stream, and report per event_type how many anomalies fired.
    Population stddev over the trailing window keeps the statistic
    defined (and identical cross-engine) from 2 observations up.

    Scale shape: one shuffle on user_id for the ordered trailing
    window (rowsBetween -50..-1 — bounded state per row), then a tiny
    map-side-combined aggregate. Variance is computed from trailing
    sum/sum-of-squares in DECIMAL-safe integer micro-units to stay
    order-independent... in practice value has 2 decimals, so
    quantizing to BIGINT cents makes every windowed sum exact.
    """
    ev = load_tables(spark, sf_dir)["events"]
    cents = (F.col("value") * 100).cast("long")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(-50, -1)
    )
    staged = (
        ev.withColumn("c", cents)
        .withColumn("n_prev", F.count("c").over(w))
        .withColumn("s1", F.sum("c").over(w))
        .withColumn("s2", F.sum(F.col("c") * F.col("c")).over(w))
    )
    mean = F.col("s1") / F.col("n_prev")
    var = F.col("s2") / F.col("n_prev") - mean * mean
    z = (F.col("c") - mean) / F.sqrt(var)
    flagged = staged.withColumn(
        "is_anom",
        (F.col("n_prev") >= 2) & (var > 0) & (F.abs(z) > 3),
    )
    return flagged.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(F.col("is_anom").cast("long")).alias("n_anomalies"),
    )


_Q_ANOMALY_SQL = """
WITH staged AS (
  SELECT event_type, CAST(value * 100 AS BIGINT) AS c,
    COUNT(CAST(value * 100 AS BIGINT)) OVER w AS n_prev,
    SUM(CAST(value * 100 AS BIGINT)) OVER w AS s1,
    SUM(CAST(value * 100 AS BIGINT) * CAST(value * 100 AS BIGINT)) OVER w AS s2
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN 50 PRECEDING AND 1 PRECEDING)
), flagged AS (
  SELECT event_type,
    (n_prev >= 2
     AND (CAST(s2 AS DOUBLE) / n_prev
          - (CAST(s1 AS DOUBLE) / n_prev) * (CAST(s1 AS DOUBLE) / n_prev)) > 0
     AND ABS((c - CAST(s1 AS DOUBLE) / n_prev)
             / sqrt(CAST(s2 AS DOUBLE) / n_prev
                    - (CAST(s1 AS DOUBLE) / n_prev)
                      * (CAST(s1 AS DOUBLE) / n_prev))) > 3) AS is_anom
  FROM staged
)
SELECT event_type, COUNT(*) AS n_events,
  CAST(SUM(CASE WHEN is_anom THEN 1 ELSE 0 END) AS BIGINT) AS n_anomalies
FROM flagged GROUP BY event_type
"""



def q_oov_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary-coverage audit: build the corpus top-25 token
    vocabulary, then report per source the out-of-vocabulary token rate
    — the tokenizer-fit signal (high OOV = the vocab/tokenizer was
    trained on different data than this source).

    Scale shape: ONE token explode feeds both the vocabulary aggregate
    and the per-source scan; the 25-row vocabulary broadcasts into a
    left join (null = OOV). Shuffles: token groupBy for the vocab,
    source groupBy for the report — both map-side combined.
    """
    from radient_spark.functions import text as X
    from radient_spark.functions.stage import stage

    docs = load_tables(spark, sf_dir)["documents"]
    toks = stage(
        docs.select("source", "text"), toks=X.tokens(F.col("text"))
    ).select("source", F.explode("toks").alias("tok"))
    vocab = (
        toks.groupBy("tok")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .orderBy(F.col("cnt").desc(), F.col("tok").asc())
        .limit(25)
        .select("tok", F.lit(True).alias("in_vocab"))
    )
    return (
        toks.join(F.broadcast(vocab), "tok", "left")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("total_tokens"),
            F.sum(F.col("in_vocab").isNull().cast("long")).alias("oov_tokens"),
            F.round(
                F.sum(F.col("in_vocab").isNull().cast("long"))
                / F.count(F.lit(1))
                * 100,
                4,
            ).alias("oov_pct"),
        )
    )


_Q_OOV_SQL = """
WITH toks AS (
  SELECT source, unnest(regexp_split_to_array(trim(text), '\\s+')) AS tok
  FROM documents
), vocab AS (
  SELECT tok FROM toks GROUP BY tok
  ORDER BY COUNT(*) DESC, tok ASC LIMIT 25
)
SELECT t.source, COUNT(*) AS total_tokens,
  CAST(SUM(CASE WHEN v.tok IS NULL THEN 1 ELSE 0 END) AS BIGINT)
    AS oov_tokens,
  ROUND(SUM(CASE WHEN v.tok IS NULL THEN 1 ELSE 0 END) * 100.0 / COUNT(*), 4)
    AS oov_pct
FROM toks t LEFT JOIN vocab v USING (tok)
GROUP BY t.source
"""



def q_hll_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source distinct-document estimates from one grouped-HLL pass
    (operators/sketch.py hll_group_cardinality) joined against the
    exact countDistinct baseline — the per-dimension cardinality
    dashboard, sketch-verified by the oracle like q_hll_cardinalities.
    """
    from radient_spark.operators.sketch import hll_group_cardinality

    docs = load_tables(spark, sf_dir)["documents"]
    est = hll_group_cardinality(docs, "source", "text", p=12)
    exact = docs.groupBy("source").agg(
        F.countDistinct("text").alias("exact_distinct")
    )
    return est.join(exact, "source").select(
        "source", "exact_distinct", "n_registers_set", "estimate"
    )


def _hll_by_source_sql() -> str:
    from radient_spark.operators.sketch import hll_group_sql

    return f"""
WITH est AS ({hll_group_sql("documents", "source", "text", p=12)}),
exact AS (
  SELECT source, COUNT(DISTINCT text) AS exact_distinct
  FROM documents GROUP BY source
)
SELECT e.source, x.exact_distinct, e.n_registers_set, e.estimate
FROM est e JOIN exact x ON e.source = x.source
"""



def q_normalization_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Text-canonicalization audit: run normalize_text over the corpus
    and report per source how many documents change, the total
    character delta, and how many NEW exact-dup collisions
    normalization exposes (distinct raw texts that collapse to the same
    canonical form — the reason the pass runs before hash dedup).

    Scale shape: map-only normalization (chained codegen regexes), one
    source aggregate, plus a canonical-hash groupBy whose shuffle
    carries 16-byte keys.
    """
    from radient_spark.functions.text import normalize_text

    docs = load_tables(spark, sf_dir)["documents"]
    staged = docs.select(
        "source",
        "text",
        normalize_text(F.col("text")).alias("canon"),
    )
    per_doc = staged.select(
        "source",
        (F.col("text") != F.col("canon")).cast("long").alias("changed"),
        (F.length("text") - F.length("canon")).alias("delta"),
        F.md5("text").alias("raw_h"),
        F.md5("canon").alias("canon_h"),
    )
    base = per_doc.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("changed").alias("n_changed"),
        F.sum("delta").alias("chars_removed"),
        F.countDistinct("raw_h").alias("distinct_raw"),
        F.countDistinct("canon_h").alias("distinct_canon"),
    )
    return base.select(
        "source",
        "n_docs",
        "n_changed",
        "chars_removed",
        (F.col("distinct_raw") - F.col("distinct_canon")).alias(
            "new_collisions"
        ),
    )


def _normalization_sql() -> str:
    from radient_spark.functions.text import normalize_sql_expr

    canon = normalize_sql_expr("text")
    return f"""
WITH per_doc AS (
  SELECT source,
    CASE WHEN text <> {canon} THEN 1 ELSE 0 END AS changed,
    length(text) - length({canon}) AS delta,
    md5(text) AS raw_h, md5({canon}) AS canon_h
  FROM documents
)
SELECT source, COUNT(*) AS n_docs,
  CAST(SUM(changed) AS BIGINT) AS n_changed,
  CAST(SUM(delta) AS BIGINT) AS chars_removed,
  COUNT(DISTINCT raw_h) - COUNT(DISTINCT canon_h) AS new_collisions
FROM per_doc GROUP BY source
"""



def q_correlation_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise Pearson correlations of the lineitem numeric measures
    (quantity, extendedprice, discount, tax) — the feature-drift /
    multicollinearity screen, computed from ONE aggregate pass of
    integer-cent sums. corr = (n*Sxy - Sx*Sy) / sqrt((n*Sxx - Sx^2) *
    (n*Syy - Sy^2)): every S is an exact BIGINT (values have <= 2
    decimals, quantized to cents), so the only float op is the final
    ratio — identical cross-engine, rounded to 6 decimals.

    Scale shape: one map-side-combined aggregate produces all 4 sums,
    4 squares, and 6 cross-products in a single scan; the matrix
    assembly is a driver-free Project over the 1-row result.
    """
    li = load_tables(spark, sf_dir)["lineitem"]
    cols = ["l_quantity", "l_extendedprice", "l_discount", "l_tax"]
    cents = {c: (F.col(c) * 100).cast("long") for c in cols}
    # moments route through DECIMAL(38,0): n * SS overflows BIGINT for
    # price-scale cents already at sf0.01 (the per-row product still
    # fits int64; only the sums and the n*SS - S^2 terms need 128-bit)
    dec = "decimal(38,0)"
    aggs = [F.count(F.lit(1)).cast(dec).alias("n")]
    for c in cols:
        aggs.append(F.sum(cents[c].cast(dec)).alias(f"s_{c}"))
        aggs.append(F.sum((cents[c] * cents[c]).cast(dec)).alias(f"ss_{c}"))
    for i, a in enumerate(cols):
        for b in cols[i + 1 :]:
            aggs.append(
                F.sum((cents[a] * cents[b]).cast(dec)).alias(f"sp_{a}_{b}")
            )
    wide = li.agg(*aggs)
    parts = []
    for i, a in enumerate(cols):
        for b in cols[i + 1 :]:
            num = F.col("n") * F.col(f"sp_{a}_{b}") - F.col(f"s_{a}") * F.col(
                f"s_{b}"
            )
            den = F.sqrt(
                (
                    F.col("n") * F.col(f"ss_{a}")
                    - F.col(f"s_{a}") * F.col(f"s_{a}")
                ).cast("double")
                * (
                    F.col("n") * F.col(f"ss_{b}")
                    - F.col(f"s_{b}") * F.col(f"s_{b}")
                ).cast("double")
            )
            parts.append(
                F.struct(
                    F.lit(a).alias("col_a"),
                    F.lit(b).alias("col_b"),
                    F.round(num.cast("double") / den, 6).alias("pearson_r"),
                )
            )
    return wide.select(F.explode(F.array(*parts)).alias("p")).select("p.*")


def _correlation_sql() -> str:
    cols = ["l_quantity", "l_extendedprice", "l_discount", "l_tax"]
    c = {x: f"CAST({x} * 100 AS BIGINT)" for x in cols}
    parts = []
    for i, a in enumerate(cols):
        for b in cols[i + 1 :]:
            parts.append(f"""
SELECT '{a}' AS col_a, '{b}' AS col_b,
  ROUND(CAST(COUNT(*) * SUM({c[a]} * {c[b]}) - SUM({c[a]}) * SUM({c[b]})
        AS DOUBLE)
    / sqrt(CAST(COUNT(*) * SUM({c[a]} * {c[a]}) - SUM({c[a]}) * SUM({c[a]})
           AS DOUBLE)
         * CAST(COUNT(*) * SUM({c[b]} * {c[b]}) - SUM({c[b]}) * SUM({c[b]})
           AS DOUBLE)), 6) AS pearson_r
FROM lineitem""")
    return "\nUNION ALL\n".join(parts)



def q_ivfpq_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ composed search — the production ANN shape: an integer-
    lattice coarse quantizer (8 cells, 1 Lloyd iteration) prunes the
    corpus to the 3 cells nearest the query, then PQ asymmetric-distance
    scan + exact rerank runs over ONLY those candidates. Unlike the
    degenerate-configuration exact oracles, this verifies REAL pruning
    end-to-end: the coarse k-means, the probed-cell choice, the
    candidate set, the ADC shortlist, and the rerank are all exact
    integer arithmetic, so the composed DuckDB oracle hash-matches.

    Scale shape: coarse assignment is a zero-shuffle literal-codebook
    argmin; the probed-cell set is driver-computed from centroid
    integers (no data scan); candidates never shuffle — the ADC scan is
    per-row folds + TakeOrderedAndProject over ~n_probes/n_cells of the
    corpus, and the rerank joins the tiny broadcast shortlist.
    """
    from radient_spark.operators.cluster import assign_clusters, kmeans_fit
    from radient_spark.operators.quantize import (
        pq_fit,
        pq_quantize_query,
        pq_topk,
    )

    COARSE_K, COARSE_ITERS, N_PROBES = 8, 1, 3
    emb = load_tables(spark, sf_dir)["embeddings"]
    cents = kmeans_fit(
        emb, "embedding", "vec_id", k=COARSE_K, iters=COARSE_ITERS, seed=42
    )
    q_micro = pq_quantize_query(QUERY_VEC)
    ranked = sorted(
        (sum((cv - qv) ** 2 for cv, qv in zip(c, q_micro)), i)
        for i, c in enumerate(cents)
    )
    probed = [i for _, i in ranked[:N_PROBES]]
    assigned = assign_clusters(emb, "embedding", cents, out_col="cell_id")
    cand = assigned.filter(F.col("cell_id").isin(probed)).drop("cell_id")
    books = pq_fit(emb, "embedding", "vec_id", m=16, k=16, iters=1, seed=42)
    return pq_topk(cand, books, QUERY_VEC, k=10, shortlist=40)


def _ivfpq_sql(
    coarse_k: int = 8,
    coarse_iters: int = 1,
    n_probes: int = 3,
    m: int = 16,
    k: int = 16,
    iters: int = 1,
    seed: int = 42,
    shortlist: int = 40,
    topk: int = 10,
) -> str:
    """IVF-PQ oracle: the coarse quantizer unrolls as g-prefixed Lloyd
    CTEs over the SAME pts/sd/qm base the PQ subspace CTEs use, the
    probed cells rank centroids against the query lattice literals, and
    the PQ shortlist joins the candidate set — one composed statement
    verifying the whole pruned pipeline."""
    coarse = [
        f"""g0 AS (
  SELECT sd.c, p.dim, p.v AS cv FROM sd JOIN pts p USING (vec_id)
  WHERE sd.c < {coarse_k}
)"""
    ]
    prev = "g0"
    for it in range(1, coarse_iters + 1):
        assign, cur = f"ga{it}", f"g{it}"
        coarse.append(f"""{assign} AS (
  SELECT p.vec_id, {prev}.c, SUM((p.v - {prev}.cv) * (p.v - {prev}.cv)) AS d
  FROM pts p JOIN {prev} ON p.dim = {prev}.dim
  GROUP BY p.vec_id, {prev}.c
  QUALIFY row_number() OVER (PARTITION BY p.vec_id ORDER BY d, c) = 1
), {cur} AS (
  SELECT u.c, u.dim, COALESCE(gm.mv, u.cv) AS cv
  FROM {prev} u LEFT JOIN (
    SELECT {assign}.c, p.dim, SUM(p.v) // COUNT(*) AS mv
    FROM {assign} JOIN pts p USING (vec_id)
    GROUP BY {assign}.c, p.dim
  ) gm ON u.c = gm.c AND u.dim = gm.dim
)""")
        prev = cur
    coarse.append(f"""gaf AS (
  SELECT p.vec_id, {prev}.c, SUM((p.v - {prev}.cv) * (p.v - {prev}.cv)) AS d
  FROM pts p JOIN {prev} ON p.dim = {prev}.dim
  GROUP BY p.vec_id, {prev}.c
  QUALIFY row_number() OVER (PARTITION BY p.vec_id ORDER BY d, c) = 1
), probed AS (
  SELECT {prev}.c FROM {prev} JOIN qm ON qm.dim = {prev}.dim
  GROUP BY {prev}.c
  ORDER BY SUM((qm.qv - {prev}.cv) * (qm.qv - {prev}.cv)) ASC, {prev}.c ASC
  LIMIT {n_probes}
), cand AS (
  SELECT gaf.vec_id FROM gaf JOIN probed USING (c)
)""")
    return _pq_sql(
        m,
        k,
        iters,
        seed,
        shortlist,
        topk,
        extra_ctes=coarse,
        cand_join="JOIN cand ON cand.vec_id = a0.vec_id",
    )



def q_snm_dedup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sorted-neighborhood dedup: block on the first 24 chars of the
    canonical (normalized) text, emit candidate pairs within 5 positions
    of the global key order, and verify each candidate by token-set
    Jaccard >= 0.5 — the third blocking strategy in the dedup family
    (key-locality, vs LSH hash-locality and embedding clusters), which
    catches near-dups whose edits fall outside shingle windows.

    Scale shape: the global key order comes from the distributed-rank
    engine (no single-reducer sort); the neighbor join shuffles 2 small
    rows per input row on rank-block ids; only candidate pairs (~window
    per row) pay the token-set verify joins.
    """
    from radient_spark.functions.text import normalize_text
    from radient_spark.operators.dedup import sorted_neighborhood_pairs

    docs = load_tables(spark, sf_dir)["documents"]
    canon = docs.select(
        "doc_id", normalize_text(F.col("text")).alias("canon")
    )
    keyed = canon.select(
        "doc_id", F.substring("canon", 1, 24).alias("bkey")
    )
    pairs = sorted_neighborhood_pairs(keyed, "bkey", "doc_id", window=5)
    toks = canon.select(
        "doc_id",
        F.array_distinct(F.split(F.trim("canon"), r"\s+")).alias("t"),
    )
    ta = toks.select(F.col("doc_id").alias("id_a"), F.col("t").alias("ta"))
    tb = toks.select(F.col("doc_id").alias("id_b"), F.col("t").alias("tb"))
    inter = F.size(F.array_intersect("ta", "tb"))
    union = F.size("ta") + F.size("tb") - inter
    return (
        pairs.join(ta, "id_a")
        .join(tb, "id_b")
        .withColumn("jaccard", F.round(inter / union, 6))
        .filter(F.col("jaccard") >= 0.5)
        .select("id_a", "id_b", "gap", "jaccard")
    )


_Q_SNM_SQL_TEMPLATE = """
WITH canon AS (
  SELECT doc_id, {CANON} AS canon FROM documents
), ranked AS (
  SELECT doc_id, substring(canon, 1, 24) AS bkey,
    row_number() OVER (ORDER BY substring(canon, 1, 24), doc_id) AS rn
  FROM canon
), pairs AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, b.rn - a.rn AS gap
  FROM ranked a JOIN ranked b ON b.rn - a.rn BETWEEN 1 AND 5
), toks AS (
  SELECT doc_id, list_distinct(regexp_split_to_array(trim(canon), '\\s+')) AS t
  FROM canon
), scored AS (
  SELECT p.id_a, p.id_b, p.gap,
    ROUND(len(list_intersect(ta.t, tb.t))::DOUBLE
      / (len(ta.t) + len(tb.t) - len(list_intersect(ta.t, tb.t))), 6)
      AS jaccard
  FROM pairs p JOIN toks ta ON ta.doc_id = p.id_a
  JOIN toks tb ON tb.doc_id = p.id_b
)
SELECT id_a, id_b, CAST(gap AS BIGINT) AS gap, jaccard
FROM scored WHERE jaccard >= 0.5
"""


def _snm_sql() -> str:
    from radient_spark.functions.text import normalize_sql_expr

    return _Q_SNM_SQL_TEMPLATE.replace("{CANON}", normalize_sql_expr("text"))



def q_event_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Path mining: the 20 most common 3-step event-type sequences
    inside 30-minute sessions (view>click>purchase and friends) — the
    funnel-discovery complement to q_session_funnel's fixed funnel.

    Scale shape: sessionization + the two lead() steps share ONE
    user_id shuffle (same window partitioning, Exchange reuse), the
    path count is map-side combined, and the top-20 is a
    TakeOrderedAndProject — no global sort. Tie-broken by path string
    for determinism.
    """
    ev = load_tables(spark, sf_dir)["events"]
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    flagged = (
        ev.withColumn("prev_ts", F.lag("ts").over(w))
        .withColumn(
            "new_session",
            F.when(
                F.col("prev_ts").isNull()
                | (F.col("ts") > F.col("prev_ts") + F.expr("INTERVAL 30 MINUTES")),
                1,
            ).otherwise(0),
        )
        .withColumn("session_id", F.sum("new_session").over(w))
    )
    ws = Window.partitionBy("user_id", "session_id").orderBy("ts", "event_id")
    paths = (
        flagged.withColumn("n1", F.lead("event_type", 1).over(ws))
        .withColumn("n2", F.lead("event_type", 2).over(ws))
        .filter(F.col("n2").isNotNull())
        .withColumn(
            "path",
            F.concat_ws(">", F.col("event_type"), F.col("n1"), F.col("n2")),
        )
    )
    return (
        paths.groupBy("path")
        .agg(F.count(F.lit(1)).alias("n_occurrences"))
        .orderBy(F.col("n_occurrences").desc(), F.col("path").asc())
        .limit(20)
    )


_Q_EVENT_PATHS_SQL = """
WITH flagged AS (
  SELECT user_id, event_id, ts, event_type,
    CASE WHEN lag(ts) OVER w IS NULL
           OR ts > lag(ts) OVER w + INTERVAL 30 MINUTE
         THEN 1 ELSE 0 END AS new_session
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
), sess AS (
  SELECT *, SUM(new_session)
      OVER (PARTITION BY user_id ORDER BY ts, event_id) AS session_id
  FROM flagged
), paths AS (
  SELECT event_type || '>' || lead(event_type, 1) OVER ws
           || '>' || lead(event_type, 2) OVER ws AS path,
    lead(event_type, 2) OVER ws AS third
  FROM sess
  WINDOW ws AS (PARTITION BY user_id, session_id ORDER BY ts, event_id)
)
SELECT path, COUNT(*) AS n_occurrences
FROM paths WHERE third IS NOT NULL
GROUP BY path
ORDER BY n_occurrences DESC, path ASC LIMIT 20
"""



def q_simhash_near_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-duplicate pairs within Hamming distance 3, generated
    by pigeonhole banding (4 x 8-bit slices of the 32-bit fingerprint:
    d <= 3 forces one untouched slice, so band-equality join has NO
    false negatives) and verified by exact bit_count(xor). Completes the
    SimHash path from fingerprints (q_simhash_fingerprints) to pairs,
    the same way MinHash goes signatures -> LSH bands -> pairs.
    """
    return _simhash_pairs_from(load_tables(spark, sf_dir)["documents"])


def _simhash_pairs_from(docs: DataFrame) -> DataFrame:
    """q_simhash_near_pairs' pipeline over an arbitrary documents
    DataFrame (the strategy scorecard calls it on a sample)."""
    sigs = D.with_simhash(
        _widen_narrow_scan(docs.filter(F.length(F.trim("text")) > 0)),
        text_col="text",
        n_bits=32,
        out_col="simhash32",
    ).select("doc_id", "simhash32")
    return D.simhash_near_pairs(
        sigs, "doc_id", "simhash32", n_bits=32, bands=4, max_hamming=3
    )


_Q_SIMHASH_PAIRS_SQL = r"""
WITH tk AS (
  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS toks
  FROM documents WHERE length(trim(text)) > 0
), h AS (
  SELECT doc_id,
    list_transform(toks, t -> ('0x' || substring(md5(t), 1, 8))::BIGINT) AS hs
  FROM tk
), sig AS (
  SELECT doc_id,
    CAST(list_sum(list_transform(generate_series(0, 31), b ->
      CASE WHEN list_sum(list_transform(hs,
             x -> CASE WHEN (x >> b) & 1 = 1 THEN 1 ELSE -1 END)) > 0
           THEN (1::BIGINT << b) ELSE 0 END)) AS BIGINT) AS sh
  FROM h
), banded AS (
  SELECT doc_id, sh, i AS bi, (sh >> (i * 8)) & 255 AS bv
  FROM sig, unnest([0, 1, 2, 3]) AS t(i)
), cand AS (
  SELECT DISTINCT l.doc_id AS id_a, r.doc_id AS id_b,
    bit_count(xor(l.sh, r.sh)) AS hamming
  FROM banded l JOIN banded r
    ON l.bi = r.bi AND l.bv = r.bv AND l.doc_id < r.doc_id
)
SELECT id_a, id_b, CAST(hamming AS INT) AS hamming
FROM cand WHERE hamming <= 3
"""



def q_hll_set_algebra(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch set algebra: distinct-document estimates for two sources,
    their union (register-wise max — exact HLL union), and the
    inclusion-exclusion intersection estimate |A|+|B|-|A∪B|, audited
    against the exact intersection — how sketch pipelines answer
    "how much do these feeds overlap?" without ever joining raw data.

    Scale shape: three register-sized aggregations (the union sketch
    merges the same pass); the exact audit is a distinct-hash
    intersection only for the report.
    """
    from radient_spark.operators.sketch import hll_cardinality

    docs = load_tables(spark, sf_dir)["documents"]
    a = docs.filter(F.col("source") == "src0").select("text")
    b = docs.filter(F.col("source") == "src1").select("text")
    est_a = hll_cardinality(a, "text").select(
        F.col("estimate").alias("est_a")
    )
    est_b = hll_cardinality(b, "text").select(
        F.col("estimate").alias("est_b")
    )
    est_u = hll_cardinality(a.unionAll(b), "text").select(
        F.col("estimate").alias("est_union")
    )
    ka = a.select(F.md5("text").alias("h")).distinct()
    kb = b.select(F.md5("text").alias("h")).distinct()
    exact = ka.join(kb, "h").agg(
        F.count(F.lit(1)).alias("exact_intersect")
    )
    return (
        est_a.crossJoin(est_b)
        .crossJoin(est_u)
        .crossJoin(exact)
        .select(
            "est_a",
            "est_b",
            "est_union",
            F.round(
                F.col("est_a") + F.col("est_b") - F.col("est_union"), 4
            ).alias("est_intersect"),
            "exact_intersect",
        )
    )


def _hll_set_algebra_sql() -> str:
    from radient_spark.operators.sketch import hll_sql

    sub_a = "(SELECT text FROM documents WHERE source = 'src0')"
    sub_b = "(SELECT text FROM documents WHERE source = 'src1')"
    sub_u = (
        "(SELECT text FROM documents WHERE source = 'src0' "
        "UNION ALL SELECT text FROM documents WHERE source = 'src1')"
    )
    return f"""
WITH ea AS (SELECT estimate AS est_a FROM ({hll_sql(sub_a, "text")})),
eb AS (SELECT estimate AS est_b FROM ({hll_sql(sub_b, "text")})),
eu AS (SELECT estimate AS est_union FROM ({hll_sql(sub_u, "text")})),
exact AS (
  SELECT COUNT(*) AS exact_intersect FROM (
    SELECT DISTINCT md5(text) AS h FROM documents WHERE source = 'src0'
  ) a JOIN (
    SELECT DISTINCT md5(text) AS h FROM documents WHERE source = 'src1'
  ) b USING (h)
)
SELECT est_a, est_b, est_union,
  ROUND(est_a + est_b - est_union, 4) AS est_intersect, exact_intersect
FROM ea, eb, eu, exact
"""



def q_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-20 weighted sample of documents, inclusion probability
    proportional to document length (operators/dataset.py
    weighted_sample — Efraimidis-Spirakis keys on portable md5 draws,
    rounded so both engines order identical decimals). The "sample the
    mixture, long docs more often" primitive of training-data
    pipelines, as a TakeOrderedAndProject with zero data shuffle.
    """
    from radient_spark.operators.dataset import weighted_sample

    docs = load_tables(spark, sf_dir)["documents"]
    return weighted_sample(
        docs.select("doc_id", "source", "n_chars"),
        "n_chars",
        "doc_id",
        k=20,
    ).select("doc_id", "source", "n_chars", "sample_key")


_Q_WEIGHTED_SAMPLE_SQL = """
WITH keyed AS (
  SELECT doc_id, source, n_chars,
    ROUND(
      ln((('0x' || substring(md5(concat_ws('_', 42, doc_id)), 1, 8))::BIGINT
          % 10000 + 0.5) / 10000)
      / CAST(n_chars AS DOUBLE), 9) AS sample_key
  FROM documents
)
SELECT doc_id, source, n_chars, sample_key
FROM keyed ORDER BY sample_key DESC, doc_id ASC LIMIT 20
"""



def q_timeseries_gapfill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-series continuity audit: materialize the full hourly grid
    over the events span x every event_type, left-join the actual
    hourly counts, and report per type how many grid hours are silent
    and the longest consecutive silent run — the monitoring query that
    catches dead pipelines (a growing gap run) vs normal sparsity.

    Scale shape: the grid is hours x types (time-bounded, data-size
    independent) built by ONE sequence explode from a 1-row bounds
    aggregate — no driver collect; the gap-run detection is a
    gaps-and-islands window per type over grid rows (each reducer sees
    one type's hours).
    """
    ev = load_tables(spark, sf_dir)["events"]
    hours = ev.select(F.date_trunc("hour", "ts").alias("h"), "event_type")
    bounds = hours.agg(
        F.min("h").alias("h0"), F.max("h").alias("h1")
    )
    grid_h = bounds.select(
        F.explode(
            F.sequence(F.col("h0"), F.col("h1"), F.expr("INTERVAL 1 HOUR"))
        ).alias("h")
    )
    types = hours.select("event_type").distinct()
    grid = grid_h.crossJoin(types)
    counts = hours.groupBy("event_type", "h").agg(
        F.count(F.lit(1)).alias("cnt")
    )
    filled = grid.join(counts, ["event_type", "h"], "left").withColumn(
        "is_gap", F.col("cnt").isNull().cast("int")
    )
    w = Window.partitionBy("event_type").orderBy("h")
    islands = filled.withColumn(
        "grp", F.sum(1 - F.col("is_gap")).over(w)
    )
    gap_runs = (
        islands.filter(F.col("is_gap") == 1)
        .groupBy("event_type", "grp")
        .agg(F.count(F.lit(1)).alias("run"))
    )
    per_type = filled.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_hours"),
        F.sum("is_gap").alias("n_gap_hours"),
    )
    max_runs = gap_runs.groupBy("event_type").agg(
        F.max("run").alias("max_gap_run")
    )
    return per_type.join(max_runs, "event_type", "left").select(
        "event_type",
        "n_hours",
        "n_gap_hours",
        F.coalesce("max_gap_run", F.lit(0)).alias("max_gap_run"),
    )


_Q_GAPFILL_SQL = """
WITH hours AS (
  SELECT date_trunc('hour', ts) AS h, event_type FROM events
), bounds AS (
  SELECT MIN(h) AS h0, MAX(h) AS h1 FROM hours
), grid_h AS (
  SELECT unnest(generate_series(h0, h1, INTERVAL 1 HOUR)) AS h FROM bounds
), grid AS (
  SELECT g.h, t.event_type
  FROM grid_h g CROSS JOIN (SELECT DISTINCT event_type FROM hours) t
), counts AS (
  SELECT event_type, h, COUNT(*) AS cnt FROM hours GROUP BY 1, 2
), filled AS (
  SELECT g.event_type, g.h,
    CASE WHEN c.cnt IS NULL THEN 1 ELSE 0 END AS is_gap
  FROM grid g LEFT JOIN counts c USING (event_type, h)
), islands AS (
  SELECT event_type, h, is_gap,
    SUM(1 - is_gap) OVER (PARTITION BY event_type ORDER BY h) AS grp
  FROM filled
), gap_runs AS (
  SELECT event_type, grp, COUNT(*) AS run
  FROM islands WHERE is_gap = 1 GROUP BY 1, 2
), per_type AS (
  SELECT event_type, COUNT(*) AS n_hours,
    CAST(SUM(is_gap) AS BIGINT) AS n_gap_hours
  FROM filled GROUP BY event_type
), max_runs AS (
  SELECT event_type, MAX(run) AS max_gap_run FROM gap_runs GROUP BY 1
)
SELECT p.event_type, p.n_hours, p.n_gap_hours,
  COALESCE(m.max_gap_run, 0) AS max_gap_run
FROM per_type p LEFT JOIN max_runs m USING (event_type)
"""



def q_sql_api_nation_margin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The engine's second front door: ANSI SQL over registered views
    (catalog.register_views + spark.sql) instead of the DataFrame DSL —
    per-nation order margin with a window share. Catalyst compiles both
    surfaces to the same plans, so everything in this registry could be
    written either way; this query exists to exercise and pin the SQL
    path itself.
    """
    register_views(spark, sf_dir)
    return spark.sql("""
        SELECT n.n_name AS nation,
          COUNT(DISTINCT o.o_orderkey) AS n_orders,
          CAST(SUM(CAST(ROUND(l.l_extendedprice * (1 - l.l_discount) * 100, 0) AS BIGINT))
               AS BIGINT) AS revenue_cents,
          ROUND(SUM(CAST(ROUND(l.l_extendedprice * (1 - l.l_discount) * 100, 0) AS BIGINT))
                / SUM(SUM(CAST(ROUND(l.l_extendedprice * (1 - l.l_discount)
                               * 100, 0) AS BIGINT))) OVER () * 100, 6)
            AS revenue_share_pct
        FROM lineitem l
        JOIN orders o ON l.l_orderkey = o.o_orderkey
        JOIN customer c ON o.o_custkey = c.c_custkey
        JOIN nation n ON c.c_nationkey = n.n_nationkey
        GROUP BY n.n_name
    """)


_Q_SQL_API_SQL = """
SELECT n.n_name AS nation,
  COUNT(DISTINCT o.o_orderkey) AS n_orders,
  CAST(SUM(CAST(ROUND(l.l_extendedprice * (1 - l.l_discount) * 100, 0) AS BIGINT))
       AS BIGINT) AS revenue_cents,
  ROUND(SUM(CAST(ROUND(l.l_extendedprice * (1 - l.l_discount) * 100, 0) AS BIGINT))
        / SUM(SUM(CAST(ROUND(l.l_extendedprice * (1 - l.l_discount)
                       * 100, 0) AS BIGINT))) OVER () * 100, 6)
    AS revenue_share_pct
FROM lineitem l
JOIN orders o ON l.l_orderkey = o.o_orderkey
JOIN customer c ON o.o_custkey = c.c_custkey
JOIN nation n ON c.c_nationkey = n.n_nationkey
GROUP BY n.n_name
"""


def register_sql_vector_functions(spark: SparkSession) -> None:
    """Register the vector kernels as SQL SCALAR FUNCTIONS (Spark 4 SQL
    UDFs): `CREATE TEMPORARY FUNCTION ... RETURN <expr>` bodies are
    INLINED by Catalyst into the calling plan — JVM expressions with
    whole-stage codegen, never a Python boundary. This is the SQL front
    door for functions/vector.py (SURVEY §4.2 deferred item): a user
    can write `ORDER BY cosine_distance(vec, q) LIMIT k` verbatim. The
    fold order matches functions/vector.dot (sequential aggregate), so
    results are bit-identical to the DataFrame surface and DuckDB's
    list_dot_product under the repo's round-6 contract."""
    spark.sql("""
      CREATE OR REPLACE TEMPORARY FUNCTION cosine_sim(
        a ARRAY<FLOAT>, b ARRAY<FLOAT>) RETURNS DOUBLE
      RETURN aggregate(zip_with(a, b,
               (x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)),
             CAST(0.0 AS DOUBLE), (acc, v) -> acc + v)
        / (sqrt(aggregate(a, CAST(0.0 AS DOUBLE),
                 (acc, x) -> acc + CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))
           * sqrt(aggregate(b, CAST(0.0 AS DOUBLE),
                 (acc, x) -> acc + CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
    """)
    spark.sql("""
      CREATE OR REPLACE TEMPORARY FUNCTION cosine_distance(
        a ARRAY<FLOAT>, b ARRAY<FLOAT>) RETURNS DOUBLE
      RETURN 1.0 - cosine_sim(a, b)
    """)


def q_sql_api_vector_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vector top-k through the SQL front door: cosine registered as an
    inlined SQL scalar function + a per-query ranking window — the
    `ORDER BY cosine_distance(vec, q) LIMIT k` surface SURVEY §4.2
    deferred, now pinned by a value oracle. The plan is identical to
    the DataFrame path's exact search (_rerank_topk): broadcast query
    rows, codegen'd fold per candidate, TakeOrdered top-k — no UDF, no
    Python."""
    register_views(spark, sf_dir)
    register_sql_vector_functions(spark)
    return spark.sql("""
      WITH q AS (
        SELECT vec_id AS qid, embedding AS qvec
        FROM embeddings ORDER BY vec_id LIMIT 10
      )
      SELECT qid, id, score FROM (
        SELECT q.qid, e.vec_id AS id,
          ROUND(cosine_sim(e.embedding, q.qvec), 6) AS score,
          row_number() OVER (
            PARTITION BY q.qid
            ORDER BY ROUND(cosine_sim(e.embedding, q.qvec), 6) DESC,
                     e.vec_id ASC) AS rn
        FROM embeddings e CROSS JOIN q
      ) WHERE rn <= 10
    """)


def q_cms_by_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language CMS frequency audit: one 4x128 sketch per language
    over its token stream (cells keyed by (lang, row, slot) — the
    grouped form, like q_hll_by_source), point-querying each language's
    exact top-5 tokens. Shuffle is at most langs * d * w cells.
    """
    from radient_spark.functions import text as X
    from radient_spark.functions.stage import stage
    from radient_spark.operators.dedup import str_hash

    DEPTH, WIDTH = 4, 128
    docs = load_tables(spark, sf_dir)["documents"]
    toks = stage(docs.select("lang", "text"), toks=X.tokens(F.col("text"))).select(
        "lang", F.explode("toks").alias("tok")
    )
    cells = F.array(
        *[
            F.struct(
                F.lit(r).alias("row"),
                (
                    str_hash(F.concat_ws("_", F.lit(r), F.col("tok"))) % WIDTH
                ).alias("slot"),
            )
            for r in range(DEPTH)
        ]
    )
    sketch = (
        toks.select("lang", F.explode(cells).alias("c"))
        .select("lang", "c.row", "c.slot")
        .groupBy("lang", "row", "slot")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    w = Window.partitionBy("lang").orderBy(
        F.col("exact_count").desc(), F.col("tok").asc()
    )
    top = (
        toks.groupBy("lang", "tok")
        .agg(F.count(F.lit(1)).alias("exact_count"))
        .withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= 5)
        .drop("__rn")
    )
    probes = top.select(
        "lang", "tok", "exact_count", F.explode(cells).alias("p")
    ).select("lang", "tok", "exact_count", "p.row", "p.slot")
    return (
        probes.join(F.broadcast(sketch), ["lang", "row", "slot"])
        .groupBy("lang", "tok", "exact_count")
        .agg(F.min("c").alias("cms_est"))
    )


_Q_CMS_LANG_SQL = """
WITH toks AS (
  SELECT lang, unnest(regexp_split_to_array(trim(text), '\\s+')) AS tok
  FROM documents
), cells AS (
  SELECT lang, r,
    ('0x' || substring(md5(CAST(r AS VARCHAR) || '_' || tok), 1, 8))::BIGINT
      % 128 AS slot,
    COUNT(*) AS c
  FROM toks, range(0, 4) t(r)
  GROUP BY 1, 2, 3
), top AS (
  SELECT lang, tok, exact_count FROM (
    SELECT lang, tok, COUNT(*) AS exact_count,
      row_number() OVER (PARTITION BY lang
                         ORDER BY COUNT(*) DESC, tok ASC) AS rn
    FROM toks GROUP BY lang, tok
  ) WHERE rn <= 5
), probes AS (
  SELECT t.lang, t.tok, t.exact_count, c.c
  FROM top t, range(0, 4) r(r)
  JOIN cells c ON c.lang = t.lang AND c.r = r.r
    AND c.slot = ('0x' || substring(md5(CAST(r.r AS VARCHAR) || '_' || t.tok),
                  1, 8))::BIGINT % 128
)
SELECT lang, tok, exact_count, MIN(c) AS cms_est
FROM probes GROUP BY lang, tok, exact_count
"""



def q_event_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix of event types within
    30-minute sessions: P(next = b | current = a), the generative
    summary behind path mining (q_event_paths gives the top raw
    sequences; this gives the normalized model).

    Scale shape: sessionization + one lead() share a single user_id
    shuffle; the (a, b) count and per-a normalization are map-side
    combined aggregates over |types|^2 rows. Probabilities round to 6
    decimals from exact integer counts.
    """
    ev = load_tables(spark, sf_dir)["events"]
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    flagged = (
        ev.withColumn("prev_ts", F.lag("ts").over(w))
        .withColumn(
            "new_session",
            F.when(
                F.col("prev_ts").isNull()
                | (F.col("ts") > F.col("prev_ts") + F.expr("INTERVAL 30 MINUTES")),
                1,
            ).otherwise(0),
        )
        .withColumn("session_id", F.sum("new_session").over(w))
    )
    ws = Window.partitionBy("user_id", "session_id").orderBy("ts", "event_id")
    steps = flagged.withColumn(
        "next_type", F.lead("event_type").over(ws)
    ).filter(F.col("next_type").isNotNull())
    counts = steps.groupBy(
        F.col("event_type").alias("from_type"),
        F.col("next_type").alias("to_type"),
    ).agg(F.count(F.lit(1)).alias("n_transitions"))
    wa = Window.partitionBy("from_type")
    return counts.select(
        "from_type",
        "to_type",
        "n_transitions",
        F.round(
            F.col("n_transitions") / F.sum("n_transitions").over(wa), 6
        ).alias("probability"),
    )


_Q_TRANSITIONS_SQL = """
WITH flagged AS (
  SELECT user_id, event_id, ts, event_type,
    CASE WHEN lag(ts) OVER w IS NULL
           OR ts > lag(ts) OVER w + INTERVAL 30 MINUTE
         THEN 1 ELSE 0 END AS new_session
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
), sess AS (
  SELECT *, SUM(new_session)
      OVER (PARTITION BY user_id ORDER BY ts, event_id) AS session_id
  FROM flagged
), steps AS (
  SELECT event_type AS from_type,
    lead(event_type) OVER (PARTITION BY user_id, session_id
                           ORDER BY ts, event_id) AS to_type
  FROM sess
), counts AS (
  SELECT from_type, to_type, COUNT(*) AS n_transitions
  FROM steps WHERE to_type IS NOT NULL GROUP BY 1, 2
)
SELECT from_type, to_type, n_transitions,
  ROUND(n_transitions::DOUBLE
        / SUM(n_transitions) OVER (PARTITION BY from_type), 6) AS probability
FROM counts
"""



def q_curation_pipeline_v3(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Round-3 flagship composition — the bloom-gated ingest funnel as
    ONE lazy plan: canonicalize (normalize_text) -> Bloom-gate the
    ingest batch against the existing corpus -> exact-verify the
    maybe-dups -> quality-gate the survivors -> weighted-sample the
    final training slice (length-proportional, exact-k). Reports the
    per-source funnel: batch size, gate-passed (definitely new), truly
    new, quality-passed, selected.

    Every stage is an operator with its own oracle-verified query
    (q_normalization_audit, q_bloom_dedup_gate, q_quality_filter_report,
    q_weighted_sample); this pins their COMPOSITION under one oracle.
    Scale shape: map-only canonicalization + gate, md5-key anti
    semantics via one broadcast-able seen-join, TakeOrderedAndProject
    selection — the corpus is touched once to build the bitmap and the
    seen keys.
    """
    from radient_spark.functions.text import normalize_text, quality_score
    from radient_spark.operators.dataset import weighted_sample
    from radient_spark.operators.dedup import bloom_build, bloom_gate

    M, K = 2048, 3
    docs = load_tables(spark, sf_dir)["documents"]
    canon_all = docs.select(
        "doc_id",
        "source",
        "n_chars",
        normalize_text(F.col("text")).alias("canon"),
    )
    corpus = canon_all.filter(F.col("doc_id") % 10 != 0)
    batch = canon_all.filter(F.col("doc_id") % 10 == 0)
    bitmap = bloom_build(corpus.select("canon"), "canon", M, K)
    gated = bloom_gate(batch, bitmap, "canon", M, K)
    seen = corpus.select(F.md5("canon").alias("__h")).distinct()
    flags = (
        gated.withColumn("__h", F.md5("canon"))
        .join(seen.withColumn("__seen", F.lit(True)), "__h", "left")
        .withColumn("is_new", F.col("__seen").isNull())
        .withColumn("quality", quality_score(F.col("canon")))
        .withColumn("q_ok", F.col("is_new") & (F.col("quality") >= 0.5))
    )
    selected = weighted_sample(
        flags.filter("q_ok").select("doc_id", "n_chars"),
        "n_chars",
        "doc_id",
        k=40,
    ).select("doc_id", F.lit(True).alias("sel"))
    return (
        flags.join(F.broadcast(selected), "doc_id", "left")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_batch"),
            F.sum((~F.col("maybe_dup")).cast("long")).alias("n_def_new"),
            F.sum(F.col("is_new").cast("long")).alias("n_true_new"),
            F.sum(F.col("q_ok").cast("long")).alias("n_quality"),
            F.sum(F.col("sel").isNotNull().cast("long")).alias("n_selected"),
        )
    )


def _curation_v3_sql() -> str:
    from radient_spark.functions.text import normalize_sql_expr

    canon = normalize_sql_expr("text")
    sw = ", ".join("'" + w + "'" for w in _SW)
    quality = rf"""round(0.4 * least(CAST(
      CASE WHEN length(trim(canon)) = 0 THEN 0
           ELSE len(regexp_split_to_array(trim(canon), '\s+')) END
      AS DOUBLE) / 50.0, 1.0)
    + 0.4 * (CASE WHEN length(canon) = 0 THEN 0.0
             ELSE CAST(length(regexp_replace(canon, '[^A-Za-z]', '', 'g')) AS DOUBLE)
                  / length(canon) END)
    + 0.2 * least((CASE WHEN
        (CASE WHEN length(trim(canon)) = 0 THEN 0
              ELSE len(regexp_split_to_array(trim(canon), '\s+')) END) = 0
        THEN 0.0
        ELSE CAST(len(list_filter(regexp_split_to_array(trim(lower(canon)), '\s+'),
                                  x -> x IN ({sw}))) AS DOUBLE)
             / (CASE WHEN length(trim(canon)) = 0 THEN 0
                     ELSE len(regexp_split_to_array(trim(canon), '\s+')) END)
        END) * 5.0, 1.0), 6)"""
    return f"""
WITH canon_all AS (
  SELECT doc_id, source, n_chars, {canon} AS canon FROM documents
), corpus AS (
  SELECT * FROM canon_all WHERE doc_id % 10 <> 0
), batch AS (
  SELECT * FROM canon_all WHERE doc_id % 10 = 0
), cpos AS (
  SELECT DISTINCT (h1 + i * h2) % 2048 AS pos
  FROM (
    SELECT ('0x' || substring(md5(canon), 1, 15))::BIGINT % 2048 AS h1,
           (('0x' || substring(md5(canon), 17, 15))::BIGINT % 2048) | 1 AS h2
    FROM corpus
  ), range(0, 3) t(i)
), probes AS (
  SELECT doc_id, (h1 + i * h2) % 2048 AS pos
  FROM (
    SELECT doc_id,
           ('0x' || substring(md5(canon), 1, 15))::BIGINT % 2048 AS h1,
           (('0x' || substring(md5(canon), 17, 15))::BIGINT % 2048) | 1 AS h2
    FROM batch
  ), range(0, 3) t(i)
), gated AS (
  SELECT p.doc_id, bool_and(c.pos IS NOT NULL) AS maybe_dup
  FROM probes p LEFT JOIN cpos c USING (pos)
  GROUP BY p.doc_id
), seen AS (
  SELECT DISTINCT md5(canon) AS h FROM corpus
), flags AS (
  SELECT b.doc_id, b.source, b.n_chars, g.maybe_dup,
    (s.h IS NULL) AS is_new,
    {quality} AS quality
  FROM batch b
  JOIN gated g USING (doc_id)
  LEFT JOIN seen s ON md5(b.canon) = s.h
), qok AS (
  SELECT *, (is_new AND quality >= 0.5) AS q_ok FROM flags
), selected AS (
  SELECT doc_id FROM (
    SELECT doc_id,
      ROUND(ln((('0x' || substring(md5(concat_ws('_', 42, doc_id)), 1, 8))::BIGINT
              % 10000 + 0.5) / 10000) / CAST(n_chars AS DOUBLE), 9) AS k
    FROM qok WHERE q_ok
  ) ORDER BY k DESC, doc_id ASC LIMIT 40
)
SELECT q.source, COUNT(*) AS n_batch,
  CAST(SUM(CASE WHEN NOT q.maybe_dup THEN 1 ELSE 0 END) AS BIGINT) AS n_def_new,
  CAST(SUM(CASE WHEN q.is_new THEN 1 ELSE 0 END) AS BIGINT) AS n_true_new,
  CAST(SUM(CASE WHEN q.q_ok THEN 1 ELSE 0 END) AS BIGINT) AS n_quality,
  CAST(SUM(CASE WHEN sel.doc_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
    AS n_selected
FROM qok q LEFT JOIN selected sel ON q.doc_id = sel.doc_id
GROUP BY q.source
"""



def q_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle census of the supplier co-supply graph: suppliers are
    linked when they ship the same part (hub parts with > 20 suppliers
    are dropped — the standard projection cap that keeps co-occurrence
    graphs from densifying at scale), counted by degree-ordered edge
    orientation (operators/graph.py triangle_count — wedge fan-out
    bounded by O(sqrt(E)) per node regardless of hubs).
    """
    from radient_spark.operators.graph import triangle_count

    return triangle_count(_co_supply_edges(spark, sf_dir))


_Q_TRIANGLE_SQL = """
WITH sp AS (
  SELECT DISTINCT l_suppkey, l_partkey FROM lineitem
), small AS (
  SELECT sp.* FROM sp JOIN (
    SELECT l_partkey FROM sp GROUP BY l_partkey HAVING COUNT(*) <= 20
  ) ok USING (l_partkey)
), und AS (
  SELECT DISTINCT a.l_suppkey AS a, b.l_suppkey AS b
  FROM small a JOIN small b
    ON a.l_partkey = b.l_partkey AND a.l_suppkey < b.l_suppkey
), deg AS (
  SELECT n, COUNT(*) AS d FROM (
    SELECT a AS n FROM und UNION ALL SELECT b AS n FROM und
  ) GROUP BY n
), oriented AS (
  SELECT CASE WHEN da < db OR (da = db AND a < b) THEN a ELSE b END AS u,
         CASE WHEN da < db OR (da = db AND a < b) THEN b ELSE a END AS v
  FROM und
  JOIN deg x ON x.n = und.a
  JOIN deg y ON y.n = und.b,
  LATERAL (SELECT x.d AS da, y.d AS db)
), tris AS (
  SELECT COUNT(*) AS n_triangles
  FROM oriented e1
  JOIN oriented e2 ON e2.u = e1.v
  JOIN oriented e3 ON e3.u = e1.u AND e3.v = e2.v
)
SELECT (SELECT COUNT(*) FROM deg) AS n_nodes,
  (SELECT COUNT(*) FROM und) AS n_edges,
  n_triangles
FROM tris
"""



def q_native_session_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session statistics via Spark's NATIVE session_window aggregation
    (the Catalyst operator batch and Structured Streaming share) rather
    than the manual lag/sum sessionization the other session queries
    pin — per user-session: event count and span seconds, rolled up to
    a per-user session census. The oracle reproduces the identical
    30-minute gap semantics with the manual windowing, proving the two
    formulations equivalent.

    Scale shape: one shuffle on the session-window grouping (user_id
    co-partitioned), then a per-user rollup on the same key — Exchange
    reuse, no extra sort.
    """
    ev = load_tables(spark, sf_dir)["events"]
    sessions = ev.groupBy(
        "user_id", F.session_window("ts", "30 minutes").alias("w")
    ).agg(
        F.count(F.lit(1)).alias("n_events"),
        (
            F.unix_timestamp(F.max("ts")) - F.unix_timestamp(F.min("ts"))
        ).alias("span_s"),
    )
    return sessions.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_sessions"),
        F.sum("n_events").alias("n_events"),
        F.max("span_s").alias("max_span_s"),
        F.sum((F.col("n_events") == 1).cast("long")).alias("n_singletons"),
    )


_Q_NATIVE_SESSION_SQL = """
WITH flagged AS (
  SELECT user_id, ts, event_id,
    CASE WHEN lag(ts) OVER w IS NULL
           OR ts >= lag(ts) OVER w + INTERVAL 30 MINUTE
         THEN 1 ELSE 0 END AS new_session
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
), sess AS (
  SELECT user_id, ts, SUM(new_session)
      OVER (PARTITION BY user_id ORDER BY ts, event_id) AS session_id
  FROM flagged
), per_session AS (
  SELECT user_id, session_id, COUNT(*) AS n_events,
    CAST(date_diff('second', MIN(ts), MAX(ts)) AS BIGINT) AS span_s
  FROM sess GROUP BY user_id, session_id
)
SELECT user_id, COUNT(*) AS n_sessions,
  CAST(SUM(n_events) AS BIGINT) AS n_events,
  MAX(span_s) AS max_span_s,
  CAST(SUM(CASE WHEN n_events = 1 THEN 1 ELSE 0 END) AS BIGINT)
    AS n_singletons
FROM per_session GROUP BY user_id
"""



def q_weekly_p95_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly p50/p95 trend of purchase values — the SLA/spend monitor,
    over a COMPOSITE group key (event_type fixed, week varying): the
    order-statistic engines generalize to any grouping by keying on a
    derived column, no single-reducer percentile anywhere.

    Scale shape (round 8): cent-lattice values → the histogram fast
    path (operators/dataset.histogram_order_statistic): one scan into
    (week, value) counts, one tiny window, both ranks in one
    aggregate.  Continuous domains stay on exact_group_quantiles.
    """
    from radient_spark.operators.dataset import histogram_order_statistic

    ev = load_tables(spark, sf_dir)["events"]
    weekly = ev.filter(F.col("event_type") == "purchase").select(
        F.date_format(F.date_trunc("week", "ts"), "yyyy-MM-dd").alias("week"),
        "value",
    )
    hist = weekly.groupBy("week", "value").agg(F.count(F.lit(1)).alias("c"))
    return histogram_order_statistic(
        hist, "week", "value", qs=[0.5, 0.95], out_cols=["p50", "p95"]
    ).select("week", "p50", "p95")


_Q_WEEKLY_P95_SQL = """
WITH weekly AS (
  SELECT strftime(date_trunc('week', ts), '%Y-%m-%d') AS week, value
  FROM events WHERE event_type = 'purchase'
), ranked AS (
  SELECT week, value,
    row_number() OVER (PARTITION BY week ORDER BY value) AS rn,
    COUNT(*) OVER (PARTITION BY week) AS n
  FROM weekly
)
SELECT week,
  MAX(CASE WHEN rn = GREATEST(1, CAST(ceil(0.5  * n) AS BIGINT)) THEN value END) AS p50,
  MAX(CASE WHEN rn = GREATEST(1, CAST(ceil(0.95 * n) AS BIGINT)) THEN value END) AS p95
FROM ranked GROUP BY week
"""



def q_mad_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust outlier census per event_type: median, MAD (median
    absolute deviation), and a count of values beyond
    median +/- 3 * 1.4826 * MAD — the outlier detector that, unlike the
    rolling z-score (q_rolling_anomalies), is immune to the outliers
    inflating their own threshold.

    Exactness contract: medians are exact order statistics of the
    2-decimal values; |x - median| stays on the cent lattice, so the
    MAD is exact too; the threshold comparison rounds the scaled MAD to
    6 decimals on both engines.

    Scale shape (round 8): event values live on a bounded cent
    lattice, so the whole query runs off ONE scan of events into a
    (event_type, value) histogram — median, the deviation histogram,
    MAD, and the outlier census are all derived from the histogram
    (operators/dataset.histogram_order_statistic), which is
    O(groups x value domain) regardless of row count.  Replaces two
    exact_group_quantiles passes (2 approxQuantile jobs + 2 occupancy
    collects + 2 raw-row windows + a third full scan) with one scan,
    two tiny windows, and zero driver collects — same exact order
    statistics, ~3x faster at sf0.1 and strictly better at 100 TB.
    """
    from radient_spark.operators.dataset import histogram_order_statistic

    ev = load_tables(spark, sf_dir)["events"]
    hist = (
        ev.groupBy("event_type", "value")
        .agg(F.count(F.lit(1)).alias("c"))
        .localCheckpoint(eager=False)
    )
    med = histogram_order_statistic(
        hist, "event_type", "value", out_cols=["med"]
    )
    hist2 = (
        hist.join(F.broadcast(med), "event_type")
        .groupBy(
            "event_type",
            "med",
            F.abs(F.col("value") - F.col("med")).alias("adev"),
        )
        .agg(F.sum("c").alias("c"))
        .localCheckpoint(eager=False)
    )
    mad = histogram_order_statistic(
        hist2, "event_type", "adev", out_cols=["mad"]
    ).withColumn("cut", F.round(F.lit(3.0) * 1.4826 * F.col("mad"), 6))
    return (
        hist2.join(F.broadcast(mad), "event_type")
        .groupBy("event_type")
        .agg(
            F.sum("c").alias("n_events"),
            F.first("med").alias("median"),
            F.first("mad").alias("mad"),
            F.sum(
                F.when(F.col("adev") > F.col("cut"), F.col("c")).otherwise(
                    F.lit(0)
                )
            ).alias("n_outliers"),
        )
    )


_Q_MAD_SQL = """
WITH med AS (
  SELECT event_type,
    MAX(CASE WHEN rn = GREATEST(1, CAST(ceil(0.5 * n) AS BIGINT))
        THEN value END) AS med
  FROM (
    SELECT event_type, value,
      row_number() OVER (PARTITION BY event_type ORDER BY value) AS rn,
      COUNT(*) OVER (PARTITION BY event_type) AS n
    FROM events
  ) GROUP BY event_type
), dev AS (
  SELECT e.event_type, e.value, m.med, ABS(e.value - m.med) AS adev
  FROM events e JOIN med m USING (event_type)
), mad AS (
  SELECT event_type,
    MAX(CASE WHEN rn = GREATEST(1, CAST(ceil(0.5 * n) AS BIGINT))
        THEN adev END) AS mad
  FROM (
    SELECT event_type, adev,
      row_number() OVER (PARTITION BY event_type ORDER BY adev) AS rn,
      COUNT(*) OVER (PARTITION BY event_type) AS n
    FROM dev
  ) GROUP BY event_type
), thresh AS (
  SELECT m.event_type, m.med, d.mad,
    ROUND(3.0 * 1.4826 * d.mad, 6) AS cut
  FROM med m JOIN mad d USING (event_type)
)
SELECT e.event_type, COUNT(*) AS n_events,
  MAX(t.med) AS median, MAX(t.mad) AS mad,
  CAST(SUM(CASE WHEN ABS(e.value - t.med) > t.cut THEN 1 ELSE 0 END)
       AS BIGINT) AS n_outliers
FROM events e JOIN thresh t USING (event_type)
GROUP BY e.event_type
"""



def q_negative_samples(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic uniform negative sampling for contrastive training:
    for each of the 10 anchor vectors, 5 candidates with a DIFFERENT
    label, chosen by md5 rank — the random-negative half of the pair
    miner (q_hard_negatives supplies the hard half). Stateless and
    append-consistent like every sampler here: re-runs, engines, and
    partitionings agree on the exact sample.

    Scale shape: the anchor set broadcasts (10 rows); the corpus
    streams through one join + a per-anchor row_number window whose
    partitions are the anchors — each reducer ranks one anchor's
    candidate hashes. For huge anchor batches, swap the window for a
    per-anchor TakeOrdered via groupBy-aggregate of a bounded heap.
    """
    emb = load_tables(spark, sf_dir)["embeddings"]
    anchors = emb.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("anchor_id"), F.col("label").alias("a_label")
    )
    cands = emb.select(F.col("vec_id").alias("neg_id"), "label")
    paired = cands.join(
        F.broadcast(anchors), F.col("label") != F.col("a_label")
    )
    key = F.conv(
        F.substring(
            F.md5(F.concat_ws("_", F.lit(42), "anchor_id", "neg_id")), 1, 15
        ),
        16,
        10,
    ).cast("long")
    w = Window.partitionBy("anchor_id").orderBy(key.asc(), F.col("neg_id").asc())
    return (
        paired.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 5)
        .select("anchor_id", "neg_id", "rank")
    )


_Q_NEG_SAMPLES_SQL = """
WITH anchors AS (
  SELECT vec_id AS anchor_id, label AS a_label FROM embeddings
  WHERE vec_id < 10
), paired AS (
  SELECT a.anchor_id, c.vec_id AS neg_id,
    ('0x' || substring(md5(concat_ws('_', 42, a.anchor_id, c.vec_id)),
             1, 15))::BIGINT AS k
  FROM embeddings c JOIN anchors a ON c.label <> a.a_label
)
SELECT anchor_id, neg_id, CAST(rank AS INT) AS rank FROM (
  SELECT anchor_id, neg_id,
    row_number() OVER (PARTITION BY anchor_id ORDER BY k ASC, neg_id ASC)
      AS rank
  FROM paired
) WHERE rank <= 5
"""



def q_lang_drift_chi2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution-drift monitor: per source, the chi-square statistic
    of its language distribution against the corpus-wide distribution —
    the alarm that fires when one feed's language mix shifts (scraper
    broke, geo rollout, injected spam).

    Determinism: observed/expected derive from exact integer counts;
    each (obs - exp)^2 / exp term rounds to 9 decimals and sums as
    DECIMAL(28,9) — order-independent — then the statistic rounds to 6.

    Scale shape: two map-side-combined aggregates (source x lang, and
    lang) plus a broadcast of the ~|langs|-row corpus shares.
    """
    docs = load_tables(spark, sf_dir)["documents"]
    sl = docs.groupBy("source", "lang").agg(F.count(F.lit(1)).alias("obs"))
    totals = docs.groupBy("lang").agg(F.count(F.lit(1)).alias("n_lang"))
    n_all = docs.agg(F.count(F.lit(1)).alias("n_all"))
    src_tot = docs.groupBy("source").agg(F.count(F.lit(1)).alias("n_src"))
    # grid: every (source, lang) cell, zero-filled, so missing languages
    # still contribute their expected mass
    grid = src_tot.crossJoin(F.broadcast(totals)).crossJoin(
        F.broadcast(n_all)
    )
    cells = grid.join(sl, ["source", "lang"], "left").withColumn(
        "obs", F.coalesce("obs", F.lit(0))
    )
    exp = (
        F.col("n_src").cast("double")
        * F.col("n_lang").cast("double")
        / F.col("n_all").cast("double")
    )
    term = F.round(
        (F.col("obs").cast("double") - exp) * (F.col("obs").cast("double") - exp)
        / exp,
        9,
    ).cast("decimal(28,9)")
    return (
        cells.withColumn("term", term)
        .groupBy("source")
        .agg(
            F.first("n_src").alias("n_docs"),
            F.round(F.sum("term").cast("double"), 6).alias("chi2"),
        )
    )


_Q_LANG_DRIFT_SQL = """
WITH sl AS (
  SELECT source, lang, COUNT(*) AS obs FROM documents GROUP BY 1, 2
), totals AS (
  SELECT lang, COUNT(*) AS n_lang FROM documents GROUP BY 1
), n_all AS (
  SELECT COUNT(*) AS n_all FROM documents
), src_tot AS (
  SELECT source, COUNT(*) AS n_src FROM documents GROUP BY 1
), cells AS (
  SELECT s.source, t.lang, s.n_src, t.n_lang, a.n_all,
    COALESCE(x.obs, 0) AS obs
  FROM src_tot s CROSS JOIN totals t CROSS JOIN n_all a
  LEFT JOIN sl x ON x.source = s.source AND x.lang = t.lang
), terms AS (
  SELECT source, n_src,
    CAST(ROUND(
      (CAST(obs AS DOUBLE) - CAST(n_src AS DOUBLE) * CAST(n_lang AS DOUBLE)
         / CAST(n_all AS DOUBLE))
      * (CAST(obs AS DOUBLE) - CAST(n_src AS DOUBLE) * CAST(n_lang AS DOUBLE)
         / CAST(n_all AS DOUBLE))
      / (CAST(n_src AS DOUBLE) * CAST(n_lang AS DOUBLE) / CAST(n_all AS DOUBLE)),
      9) AS DECIMAL(28,9)) AS term
  FROM cells
)
SELECT source, MAX(n_src) AS n_docs,
  ROUND(CAST(SUM(term) AS DOUBLE), 6) AS chi2
FROM terms GROUP BY source
"""



def q_quantile_transform(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantile (percentile-rank) normalization of purchase values: each
    value maps to (rank - 0.5) / n over the global sorted order — the
    rank-gaussianization front half ML feature pipelines use for heavy-
    tailed inputs. Ranks come from the distributed-rank engine: no
    single-reducer sort at any size.
    """
    from radient_spark.operators.dataset import distributed_rank

    ev = load_tables(spark, sf_dir)["events"]
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "value"
    )
    ranked = distributed_rank(
        purchases,
        [F.col("value").asc(), F.col("event_id").asc()],
        F.col("value"),
        out_col="rank",
    )
    n = ranked.agg(F.count(F.lit(1)).alias("n"))
    return ranked.crossJoin(F.broadcast(n)).select(
        "event_id",
        "value",
        F.round((F.col("rank") - 0.5) / F.col("n"), 6).alias("pct_rank"),
    )


_Q_QUANTILE_TRANSFORM_SQL = """
WITH purchases AS (
  SELECT event_id, value FROM events WHERE event_type = 'purchase'
), ranked AS (
  SELECT event_id, value,
    row_number() OVER (ORDER BY value, event_id) AS rank,
    COUNT(*) OVER () AS n
  FROM purchases
)
SELECT event_id, value,
  ROUND((rank - 0.5) / n, 6) AS pct_rank
FROM ranked
"""



def q_token_pmi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Association mining over token co-occurrence: among the corpus
    top-50 tokens, the 20 pairs with highest pointwise mutual
    information (PMI = ln(P(a,b) / P(a)P(b)) at document granularity,
    support >= 5 docs) — the query-expansion / collocation-discovery
    primitive.

    Scale shape: the candidate vocabulary caps at 50 broadcast tokens,
    so the per-doc pair explode is bounded at C(50,2) regardless of
    document length; presence sets use array_intersect against the
    broadcast vocab — the corpus is scanned once. PMI is one ln of an
    exact integer ratio, rounded to 6.
    """
    from radient_spark.functions import text as X
    from radient_spark.functions.stage import stage

    docs = load_tables(spark, sf_dir)["documents"]
    toks = stage(
        _widen_narrow_scan(docs.select("doc_id", "text")),
        toks=X.tokens(F.col("text"))
    )
    flat = toks.select("doc_id", F.explode("toks").alias("tok"))
    vocab = (
        flat.select("doc_id", "tok")
        .distinct()
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("df"))
        .orderBy(F.col("df").desc(), F.col("tok").asc())
        .limit(50)
    )
    present = (
        flat.join(F.broadcast(vocab.select("tok")), "tok")
        .select("doc_id", "tok")
        .distinct()
    )
    n_docs = docs.agg(F.count(F.lit(1)).alias("n"))
    a = present.alias("a")
    b = present.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.doc_id") == F.col("b.doc_id"))
            & (F.col("a.tok") < F.col("b.tok")),
        )
        .groupBy(
            F.col("a.tok").alias("tok_a"), F.col("b.tok").alias("tok_b")
        )
        .agg(F.count(F.lit(1)).alias("n_ab"))
        .filter(F.col("n_ab") >= 5)
    )
    da = vocab.select(F.col("tok").alias("tok_a"), F.col("df").alias("n_a"))
    db = vocab.select(F.col("tok").alias("tok_b"), F.col("df").alias("n_b"))
    scored = (
        pairs.join(F.broadcast(da), "tok_a")
        .join(F.broadcast(db), "tok_b")
        .crossJoin(F.broadcast(n_docs))
        .withColumn(
            "pmi",
            F.round(
                F.log(
                    (F.col("n_ab") * F.col("n")).cast("double")
                    / (F.col("n_a") * F.col("n_b")).cast("double")
                ),
                6,
            ),
        )
    )
    return (
        scored.select("tok_a", "tok_b", "n_ab", "pmi")
        .orderBy(F.col("pmi").desc(), F.col("tok_a").asc(), F.col("tok_b").asc())
        .limit(20)
    )


_Q_TOKEN_PMI_SQL = """
WITH flat AS (
  SELECT DISTINCT doc_id,
    unnest(regexp_split_to_array(trim(text), '\\s+')) AS tok
  FROM documents
), vocab AS (
  SELECT tok, COUNT(*) AS df FROM flat GROUP BY tok
  ORDER BY df DESC, tok ASC LIMIT 50
), present AS (
  SELECT f.doc_id, f.tok FROM flat f JOIN vocab v USING (tok)
), n_docs AS (
  SELECT COUNT(*) AS n FROM documents
), pairs AS (
  SELECT a.tok AS tok_a, b.tok AS tok_b, COUNT(*) AS n_ab
  FROM present a JOIN present b
    ON a.doc_id = b.doc_id AND a.tok < b.tok
  GROUP BY 1, 2 HAVING COUNT(*) >= 5
)
SELECT p.tok_a, p.tok_b, p.n_ab,
  ROUND(ln(CAST(p.n_ab * n.n AS DOUBLE)
           / CAST(va.df * vb.df AS DOUBLE)), 6) AS pmi
FROM pairs p
JOIN vocab va ON va.tok = p.tok_a
JOIN vocab vb ON vb.tok = p.tok_b
CROSS JOIN n_docs n
ORDER BY pmi DESC, tok_a ASC, tok_b ASC LIMIT 20
"""



def q_trend_regression(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event-type OLS trend of value over time: slope (cents per
    day) and intercept from one aggregate pass of exact integer moments
    (x = epoch days since 2024-01-01 as integers, y = value cents;
    sums route through DECIMAL(38,0) like the correlation matrix, so
    the only float ops are the two final divisions, rounded to 6).
    The drift detector behind "is this feed's spend trending?".
    """
    ev = load_tables(spark, sf_dir)["events"]
    dec = "decimal(38,0)"
    x = F.datediff(F.col("ts").cast("date"), F.lit("2024-01-01").cast("date")).cast(
        "long"
    )
    y = F.round(F.col("value") * 100, 0).cast("long")
    m = ev.groupBy("event_type").agg(
        F.count(F.lit(1)).cast(dec).alias("n"),
        F.sum(x.cast(dec)).alias("sx"),
        F.sum(y.cast(dec)).alias("sy"),
        F.sum((x * x).cast(dec)).alias("sxx"),
        F.sum((x * y).cast(dec)).alias("sxy"),
    )
    den = (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")).cast("double")
    slope = (
        (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")).cast("double")
        / den
    )
    intercept = (
        F.col("sy").cast("double") - slope * F.col("sx").cast("double")
    ) / F.col("n").cast("double")
    return m.select(
        "event_type",
        F.col("n").cast("long").alias("n_events"),
        F.round(slope, 6).alias("slope_cents_per_day"),
        F.round(intercept, 6).alias("intercept_cents"),
    )


_Q_TREND_SQL = """
WITH m AS (
  SELECT event_type, COUNT(*) AS n,
    SUM(CAST(date_diff('day', DATE '2024-01-01', CAST(ts AS DATE)) AS HUGEINT))
      AS sx,
    SUM(CAST(CAST(ROUND(value * 100, 0) AS BIGINT) AS HUGEINT)) AS sy,
    SUM(CAST(date_diff('day', DATE '2024-01-01', CAST(ts AS DATE)) AS HUGEINT)
        * date_diff('day', DATE '2024-01-01', CAST(ts AS DATE))) AS sxx,
    SUM(CAST(date_diff('day', DATE '2024-01-01', CAST(ts AS DATE)) AS HUGEINT)
        * CAST(ROUND(value * 100, 0) AS BIGINT)) AS sxy
  FROM events GROUP BY event_type
)
SELECT event_type, CAST(n AS BIGINT) AS n_events,
  ROUND(CAST(n * sxy - sx * sy AS DOUBLE)
        / CAST(n * sxx - sx * sx AS DOUBLE), 6) AS slope_cents_per_day,
  ROUND((CAST(sy AS DOUBLE)
         - CAST(n * sxy - sx * sy AS DOUBLE)
           / CAST(n * sxx - sx * sx AS DOUBLE) * CAST(sx AS DOUBLE))
        / CAST(n AS DOUBLE), 6) AS intercept_cents
FROM m
"""



def q_edit_distance_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Record-linkage fuzzy matching: sorted-neighborhood candidates
    verified by Levenshtein edit distance <= 15 on the first 200
    canonical characters (the DP is O(L^2) per pair; the prefix cap
    bounds it at 40k cells regardless of document length) —
    the character-level near-dup complement to token-set Jaccard
    (q_snm_dedup_pairs): it catches small in-word edits Jaccard's
    whitespace tokens miss. Both engines implement the same classic DP
    levenshtein, so the distances are exact integers.

    Scale shape: candidate generation is the distributed-rank
    neighborhood join; the O(len^2) edit-distance DP runs ONLY on
    candidate pairs (~window per row), never all pairs.
    """
    return _edit_distance_pairs_from(
        load_tables(spark, sf_dir)["documents"]
    )


def _edit_distance_pairs_from(docs: DataFrame) -> DataFrame:
    """q_edit_distance_pairs' pipeline over an arbitrary documents
    DataFrame (the strategy scorecard calls it on a sample)."""
    from radient_spark.functions.text import normalize_text
    from radient_spark.operators.dedup import sorted_neighborhood_pairs

    canon = docs.select(
        "doc_id", normalize_text(F.col("text")).alias("canon")
    )
    keyed = canon.select(
        "doc_id", F.substring("canon", 1, 24).alias("bkey")
    )
    pairs = sorted_neighborhood_pairs(keyed, "bkey", "doc_id", window=5)
    ta = canon.select(F.col("doc_id").alias("id_a"), F.col("canon").alias("ca"))
    tb = canon.select(F.col("doc_id").alias("id_b"), F.col("canon").alias("cb"))
    pa = F.substring("ca", 1, 200)
    pb = F.substring("cb", 1, 200)
    return (
        pairs.join(ta, "id_a")
        .join(tb, "id_b")
        # levenshtein >= |len(a) - len(b)|: the length prune discards
        # most candidates before the DP without changing results, and
        # the threshold arg switches the JVM kernel to the banded
        # O(L * 15) DP that bails out early (-1 = over threshold)
        .filter(
            F.abs(F.length(pa) - F.length(pb)) <= 15
        )
        .withColumn("edit_dist", F.levenshtein(pa, pb, 15))
        .filter((F.col("edit_dist") >= 0) & (F.col("edit_dist") <= 15))
        .select("id_a", "id_b", "edit_dist")
    )


def _edit_distance_sql() -> str:
    from radient_spark.functions.text import normalize_sql_expr

    canon = normalize_sql_expr("text")
    return f"""
WITH canon AS (
  SELECT doc_id, {canon} AS canon FROM documents
), ranked AS (
  SELECT doc_id, canon,
    row_number() OVER (ORDER BY substring(canon, 1, 24), doc_id) AS rn
  FROM canon
), pairs AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, a.canon AS ca, b.canon AS cb
  FROM ranked a JOIN ranked b ON b.rn - a.rn BETWEEN 1 AND 5
)
SELECT id_a, id_b,
  CAST(levenshtein(substring(ca, 1, 200), substring(cb, 1, 200)) AS INT)
    AS edit_dist
FROM pairs
WHERE levenshtein(substring(ca, 1, 200), substring(cb, 1, 200)) <= 15
"""



def q_attribution_first_touch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-touch revenue attribution: every 30-minute session's
    purchase value is credited to the session's FIRST event type (the
    acquisition channel) — the marketing-attribution counterpart of the
    funnel queries. Reports per channel: sessions, purchasing sessions,
    attributed cents.

    Scale shape: sessionization, the first-event window, and the
    session rollup share the user_id-compatible shuffle; the channel
    aggregate is tiny. Revenue quantizes to exact cents (round-then-
    cast) before any summation.
    """
    ev = load_tables(spark, sf_dir)["events"]
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    flagged = (
        ev.withColumn("prev_ts", F.lag("ts").over(w))
        .withColumn(
            "new_session",
            F.when(
                F.col("prev_ts").isNull()
                | (F.col("ts") > F.col("prev_ts") + F.expr("INTERVAL 30 MINUTES")),
                1,
            ).otherwise(0),
        )
        .withColumn("session_id", F.sum("new_session").over(w))
    )
    ws = Window.partitionBy("user_id", "session_id").orderBy("ts", "event_id")
    staged = flagged.withColumn(
        "first_type", F.first("event_type").over(ws)
    ).withColumn(
        "purchase_cents",
        F.when(
            F.col("event_type") == "purchase",
            F.round(F.col("value") * 100, 0).cast("long"),
        ).otherwise(F.lit(0)),
    )
    sessions = staged.groupBy("user_id", "session_id").agg(
        F.first("first_type").alias("first_type"),
        F.sum("purchase_cents").alias("cents"),
        F.max((F.col("event_type") == "purchase").cast("int")).alias("bought"),
    )
    return sessions.groupBy(F.col("first_type").alias("channel")).agg(
        F.count(F.lit(1)).alias("n_sessions"),
        F.sum("bought").cast("long").alias("n_purchasing"),
        F.sum("cents").alias("attributed_cents"),
    )


_Q_ATTRIBUTION_SQL = """
WITH flagged AS (
  SELECT user_id, event_id, ts, event_type, value,
    CASE WHEN lag(ts) OVER w IS NULL
           OR ts > lag(ts) OVER w + INTERVAL 30 MINUTE
         THEN 1 ELSE 0 END AS new_session
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
), sess AS (
  SELECT *, SUM(new_session)
      OVER (PARTITION BY user_id ORDER BY ts, event_id) AS session_id
  FROM flagged
), staged AS (
  SELECT user_id, session_id, event_type, value,
    first_value(event_type)
      OVER (PARTITION BY user_id, session_id ORDER BY ts, event_id)
      AS first_type,
    CASE WHEN event_type = 'purchase'
         THEN CAST(ROUND(value * 100, 0) AS BIGINT) ELSE 0 END
      AS purchase_cents
  FROM sess
), sessions AS (
  SELECT user_id, session_id,
    MIN(first_type) AS first_type,
    SUM(purchase_cents) AS cents,
    MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS bought
  FROM staged GROUP BY user_id, session_id
)
SELECT first_type AS channel, COUNT(*) AS n_sessions,
  CAST(SUM(bought) AS BIGINT) AS n_purchasing,
  CAST(SUM(cents) AS BIGINT) AS attributed_cents
FROM sessions GROUP BY first_type
"""



def q_bloom_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-filter sizing calibration: build the corpus filter at three
    bitmap sizes, gate a disjoint probe set (documents guaranteed NOT
    in the corpus), and report observed vs theoretical false-positive
    rate (1 - e^(-kn/m))^k per configuration — the table an ingest
    pipeline consults to pick m for its corpus size.

    Scale shape: three bitmap aggregations over one cached corpus-key
    pass; probes are zero-shuffle literal-array gates. Theoretical
    rates are driver-computed floats injected as literals, so both
    engines compare the same constants.
    """
    import math as _m

    from radient_spark.operators.dedup import bloom_build, bloom_gate

    docs = load_tables(spark, sf_dir)["documents"]
    corpus = docs.filter(F.col("doc_id") % 2 == 0).select("text")
    # probe texts are salted so they are NEVER corpus members: every
    # flagged probe is a false positive by construction
    probes = docs.filter(F.col("doc_id") % 2 == 1).select(
        F.concat(F.lit("probe::"), F.col("text")).alias("text")
    )
    n_keys = corpus.distinct().count()
    outs = []
    for m_bits, k in [(1024, 3), (4096, 3), (16384, 3)]:
        bitmap = bloom_build(corpus, "text", m_bits, k)
        gated = bloom_gate(probes, bitmap, "text", m_bits, k)
        theo = (1.0 - _m.exp(-k * n_keys / m_bits)) ** k
        outs.append(
            gated.agg(
                F.lit(m_bits).alias("m_bits"),
                F.lit(k).alias("k"),
                F.count(F.lit(1)).alias("n_probes"),
                F.sum(F.col("maybe_dup").cast("long")).alias("n_false_pos"),
                F.round(
                    F.sum(F.col("maybe_dup").cast("long"))
                    / F.count(F.lit(1)),
                    6,
                ).alias("observed_fp"),
                F.round(F.lit(theo), 6).alias("theoretical_fp"),
            )
        )
    out = outs[0]
    for o in outs[1:]:
        out = out.unionAll(o)
    return out


def _bloom_calibration_sql() -> str:
    import math as _m

    parts = []
    for m_bits, k in [(1024, 3), (4096, 3), (16384, 3)]:
        parts.append(f"""
SELECT {m_bits} AS m_bits, {k} AS k, COUNT(*) AS n_probes,
  CAST(SUM(CASE WHEN maybe_dup THEN 1 ELSE 0 END) AS BIGINT) AS n_false_pos,
  ROUND(SUM(CASE WHEN maybe_dup THEN 1 ELSE 0 END) * 1.0 / COUNT(*), 6)
    AS observed_fp,
  ROUND((SELECT (1.0 - exp(-{k} * COUNT(DISTINCT text)::DOUBLE / {m_bits}))
                ** {k}
         FROM documents WHERE doc_id % 2 = 0), 6) AS theoretical_fp
FROM (
  WITH corpus AS (
    SELECT text FROM documents WHERE doc_id % 2 = 0
  ), cpos AS (
    SELECT DISTINCT (h1 + i * h2) % {m_bits} AS pos
    FROM (
      SELECT ('0x' || substring(md5(text), 1, 15))::BIGINT % {m_bits} AS h1,
             (('0x' || substring(md5(text), 17, 15))::BIGINT % {m_bits}) | 1
               AS h2
      FROM corpus
    ), range(0, {k}) t(i)
  ), probes AS (
    SELECT doc_id, ('probe::' || text) AS ptext
    FROM documents WHERE doc_id % 2 = 1
  ), ppos AS (
    SELECT doc_id, (h1 + i * h2) % {m_bits} AS pos
    FROM (
      SELECT doc_id,
             ('0x' || substring(md5(ptext), 1, 15))::BIGINT % {m_bits} AS h1,
             (('0x' || substring(md5(ptext), 17, 15))::BIGINT % {m_bits}) | 1
               AS h2
      FROM probes
    ), range(0, {k}) t(i)
  )
  SELECT p.doc_id, bool_and(c.pos IS NOT NULL) AS maybe_dup
  FROM ppos p LEFT JOIN cpos c USING (pos)
  GROUP BY p.doc_id
)""")
    return "\nUNION ALL\n".join(parts)



def q_star_dup_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The q_dup_groups pipeline (MinHash -> LSH -> verify -> connected
    components -> canonical groups) with the component step swapped for
    alternating large-star/small-star (operators/graph.py
    connected_components_star, Kiveris et al. 2014): O(log n)
    convergence ROUNDS instead of O(component diameter) — the variant a
    100 TB corpus with long duplicate chains (boilerplate carried
    across crawls) needs. Same fixed point, so the recursive-CTE DuckDB
    oracle is shared with q_dup_groups verbatim."""
    from radient_spark.operators.graph import connected_components_star

    pairs = q_minhash_dup_pairs(spark, sf_dir)
    labels = connected_components_star(pairs)
    return (
        labels.groupBy("group_id")
        .agg(
            F.count(F.lit(1)).alias("group_size"),
            F.min("id").alias("canonical_id"),
        )
        .filter(F.col("group_size") > 1)
    )


def q_histogram_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-type latency-style quantiles (p50/p90/p95/p99 of event value
    cents) from the mergeable log-histogram sketch (operators/sketch.py
    hist_build — HdrHistogram bucket layout, relative error <= 2^-5).
    Completes the portable-sketch family: HLL (distincts), CMS (heavy
    hitters), Bloom (membership), histogram (quantiles).

    Unlike the exact order-statistic engine (q_value_percentiles), the
    sketch answers EVERY quantile from one O(buckets)-sized state that
    merges across partitions, batches, and days — the shape a metrics
    pipeline needs. Shuffle is bucket counts (~2k rows/group max),
    never data; the quantile lookup windows run over the sketch only.
    Integer bucket arithmetic end-to-end makes the DuckDB oracle exact.
    """
    from radient_spark.operators.sketch import hist_build, hist_quantiles

    ev = load_tables(spark, sf_dir)["events"]
    vals = ev.select(
        "event_type",
        F.round(F.col("value") * 100).cast("long").alias("cents"),
    )
    sk = hist_build(vals, F.col("cents"), by="event_type")
    out = hist_quantiles(
        sk,
        [("p50", 1, 2), ("p90", 9, 10), ("p95", 19, 20), ("p99", 99, 100)],
        by="event_type",
    )
    return out.select(
        F.col("g").alias("event_type"),
        "quantile",
        "est_lo",
        "est_hi",
        F.col("n").cast("long").alias("n"),
    ).orderBy("event_type", "quantile")


_Q_HIST_QUANTILES_SQL = """
WITH vals AS (
  SELECT event_type,
         GREATEST(CAST(ROUND(value * 100) AS BIGINT), 1) AS v
  FROM events
), keyed AS (
  SELECT event_type, v,
    CASE WHEN length(bin(v)) - 6 > 0 THEN length(bin(v)) - 6 ELSE 0 END AS sh
  FROM vals
), sk AS (
  SELECT event_type, CAST(sh AS BIGINT) * 1048576 + (v >> sh) AS hkey,
         COUNT(*) AS cnt
  FROM keyed GROUP BY 1, 2
), cum AS (
  SELECT event_type, hkey, cnt,
    SUM(cnt) OVER (PARTITION BY event_type ORDER BY hkey) AS c,
    SUM(cnt) OVER (PARTITION BY event_type) AS n
  FROM sk
), qs AS (
  SELECT * FROM (VALUES ('p50', 1, 2), ('p90', 9, 10), ('p95', 19, 20),
                        ('p99', 99, 100)) t(quantile, num, den)
)
SELECT event_type, quantile,
  ((hkey % 1048576) << (hkey // 1048576)) AS est_lo,
  (((hkey % 1048576) + 1) << (hkey // 1048576)) - 1 AS est_hi,
  CAST(n AS BIGINT) AS n
FROM cum, qs
WHERE c >= (num * n + den - 1) // den
  AND c - cnt < (num * n + den - 1) // den
ORDER BY event_type, quantile
"""


def q_scd2_status_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD Type-2 dimension history: each customer's order-status
    timeline collapsed into versioned validity windows
    (operators/merge.py scd2_history) — consecutive orders with the
    same status share one version; valid_to chains to the next
    version's valid_from; the open-ended last version is current. The
    read side of a warehouse MERGE/SCD2 pipeline, complementing
    merge_upsert (the write side). Restricted to custkey % 5 = 0 to
    keep the audited history reviewable."""
    from radient_spark.operators.merge import scd2_history

    orders = load_tables(spark, sf_dir)["orders"].filter(
        F.col("o_custkey") % 5 == 0
    )
    return scd2_history(
        orders, "o_custkey", "o_orderstatus", "o_orderdate", "o_orderkey"
    ).orderBy("o_custkey", "version")


_Q_SCD2_SQL = """
WITH runs AS (
  SELECT o_custkey, o_orderstatus, o_orderdate,
    SUM(CASE WHEN rn = 1 OR o_orderstatus IS DISTINCT FROM prev
             THEN 1 ELSE 0 END)
      OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) AS v
  FROM (
    SELECT o_custkey, o_orderstatus, o_orderdate, o_orderkey,
      LAG(o_orderstatus) OVER (
        PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) AS prev,
      ROW_NUMBER() OVER (
        PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) AS rn
    FROM orders WHERE o_custkey % 5 = 0
  )
), versions AS (
  SELECT o_custkey, v, MIN(o_orderstatus) AS o_orderstatus,
         MIN(o_orderdate) AS valid_from, COUNT(*) AS n_rows
  FROM runs GROUP BY o_custkey, v
)
SELECT o_custkey, o_orderstatus, valid_from,
  LEAD(valid_from) OVER (PARTITION BY o_custkey ORDER BY v) AS valid_to,
  CAST(n_rows AS BIGINT) AS n_rows,
  CAST(v AS BIGINT) AS version,
  LEAD(valid_from) OVER (PARTITION BY o_custkey ORDER BY v) IS NULL
    AS is_current
FROM versions
ORDER BY o_custkey, version
"""


def q_delete_cascade_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Right-to-erasure (GDPR/CCPA) cascade audit: given a deletion
    cohort of customers, count the rows each table would lose when the
    delete cascades through the FK graph (customer -> orders ->
    lineitem) — the blast-radius report a compliance job emits BEFORE
    executing the erasure. Pure key-semi-join plumbing: the cohort is
    a broadcast key set; lineitem never joins more than order keys."""
    t = load_tables(spark, sf_dir)
    cohort = t["customer"].filter(F.col("c_custkey") % 97 == 0).select(
        "c_custkey"
    )
    orders = t["orders"].join(
        F.broadcast(cohort), t["orders"].o_custkey == cohort.c_custkey, "semi"
    )
    li = t["lineitem"].join(
        orders.select("o_orderkey"),
        t["lineitem"].l_orderkey == F.col("o_orderkey"),
        "semi",
    )
    rows = [
        cohort.agg(
            F.lit("customer").alias("table_name"),
            F.count(F.lit(1)).alias("n_rows_deleted"),
        ),
        orders.agg(
            F.lit("orders").alias("table_name"),
            F.count(F.lit(1)).alias("n_rows_deleted"),
        ),
        li.agg(
            F.lit("lineitem").alias("table_name"),
            F.count(F.lit(1)).alias("n_rows_deleted"),
        ),
    ]
    out = rows[0]
    for r in rows[1:]:
        out = out.unionAll(r)
    return out.orderBy("table_name")


_Q_CASCADE_SQL = """
WITH cohort AS (
  SELECT c_custkey FROM customer WHERE c_custkey % 97 = 0
), co AS (
  SELECT o_orderkey FROM orders
  WHERE o_custkey IN (SELECT c_custkey FROM cohort)
)
SELECT 'customer' AS table_name,
       CAST((SELECT COUNT(*) FROM cohort) AS BIGINT) AS n_rows_deleted
UNION ALL
SELECT 'orders', CAST((SELECT COUNT(*) FROM co) AS BIGINT)
UNION ALL
SELECT 'lineitem', CAST((SELECT COUNT(*) FROM lineitem
  WHERE l_orderkey IN (SELECT o_orderkey FROM co)) AS BIGINT)
ORDER BY table_name
"""


def q_semantic_decontamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-space decontamination: flag corpus vectors whose
    cosine to ANY eval-set vector reaches 0.45 — the semantic
    complement of the n-gram overlap check (q_decontamination_report),
    catching paraphrased benchmark leakage that exact n-grams miss
    (the scrubbing step OLMo/Dolma-style corpus builds run against
    eval suites). Per label: corpus size, contaminated count, and the
    hottest eval-similarity seen.

    Scale shape: the bipartite block GEMM (operators/topk.py
    knn_join_blocked) with corpus_blocks=1 — the small eval side
    replicates across query blocks while the CORPUS never replicates
    and never collects; top-1 per corpus vector bounds the candidate
    set at one row per corpus row. Scores round to 4 decimals (the
    GEMM determinism contract) so the DuckDB oracle is exact."""
    from radient_spark.operators.topk import knn_join_blocked

    emb = load_tables(spark, sf_dir)["embeddings"]
    ev = emb.filter(F.col("vec_id") % 20 == 0).select(
        F.col("vec_id").alias("eval_id"), F.col("embedding")
    )
    corpus = emb.filter(F.col("vec_id") % 20 != 0)
    best = knn_join_blocked(
        ev,
        corpus.select("vec_id", "embedding"),
        corpus_vec="embedding",
        query_vec="embedding",
        k=1,
        corpus_id="eval_id",
        query_id="vec_id",
        corpus_blocks=1,
        query_blocks=8,
    ).select("vec_id", F.col("score").alias("top_eval_score"))
    return (
        corpus.join(best, "vec_id", "left")
        .groupBy("label")
        .agg(
            F.count(F.lit(1)).alias("n_vecs"),
            F.sum(
                (F.col("top_eval_score") >= 0.45).cast("long")
            ).alias("n_contaminated"),
            F.max("top_eval_score").alias("max_eval_score"),
        )
        .orderBy("label")
    )


_Q_SEMANTIC_DECON_SQL = """
WITH ev AS (
  SELECT vec_id AS eval_id, embedding::DOUBLE[] AS e
  FROM embeddings WHERE vec_id % 20 = 0
), corpus AS (
  SELECT vec_id, label, embedding::DOUBLE[] AS v
  FROM embeddings WHERE vec_id % 20 <> 0
), best AS (
  SELECT c.vec_id, c.label,
    MAX(ROUND(list_dot_product(c.v, ev.e)
        / (sqrt(list_dot_product(c.v, c.v))
           * sqrt(list_dot_product(ev.e, ev.e))), 4)) AS top_eval_score
  FROM corpus c CROSS JOIN ev
  GROUP BY c.vec_id, c.label
)
SELECT label, COUNT(*) AS n_vecs,
  CAST(SUM(CASE WHEN top_eval_score >= 0.45 THEN 1 ELSE 0 END) AS BIGINT)
    AS n_contaminated,
  MAX(top_eval_score) AS max_eval_score
FROM best GROUP BY label ORDER BY label
"""


def q_minhash_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH S-curve calibration: per exact-Jaccard decile, the observed
    band-collision rate of the REAL 16-hash/4-band MinHash signatures
    vs the theoretical 1-(1-s^4)^4 curve — the table that tells a dedup
    pipeline which (bands, rows) to pick for its similarity target,
    measured instead of assumed (companion to q_bloom_calibration's
    FP-rate table).

    Pair universe: co-shingled pairs among a fixed doc_id < 160 slice
    (pairs sharing zero shingles have s = 0 and are omitted — the
    calibration is over pairs the inverted index can see), so the
    audit is constant-size at any corpus scale. Exactness: Jaccard
    stays (intersect, union) integers; the theoretical curve avoids
    pow() — one IEEE division then explicit squarings, bit-identical
    across engines; per-pair values round to 6 decimals and sum as
    DECIMAL internally, final-cast to DOUBLE (final schemas never
    carry DecimalType — driver hashing serializes Spark decimals
    differently from other engines even when values are identical)."""
    from radient_spark.functions import text as X
    from radient_spark.functions.stage import stage
    from radient_spark.operators.dedup import with_minhash

    docs = (
        load_tables(spark, sf_dir)["documents"]
        .filter((F.col("doc_id") < 160) & (F.length(F.trim(F.col("text"))) > 0))
        .select("doc_id", "text")
    )
    staged = stage(docs, __toks=X.tokens(F.col("text")))
    sh = staged.select(
        "doc_id",
        F.explode(X.shingles_from_tokens("__toks", 3)).alias("sh"),
    ).distinct()
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("sz"))
    inter = (
        sh.alias("a")
        .join(
            sh.alias("b"),
            (F.col("a.sh") == F.col("b.sh"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(
            F.col("a.doc_id").alias("id_a"), F.col("b.doc_id").alias("id_b")
        )
        .agg(F.count(F.lit(1)).alias("i"))
    )
    pairs = (
        inter.join(
            sizes.select(F.col("doc_id").alias("id_a"), F.col("sz").alias("sza")),
            "id_a",
        )
        .join(
            sizes.select(F.col("doc_id").alias("id_b"), F.col("sz").alias("szb")),
            "id_b",
        )
        .withColumn("u", F.col("sza") + F.col("szb") - F.col("i"))
    )
    sigs = with_minhash(docs, num_hashes=16, shingle_k=3).select(
        "doc_id", "minhash"
    )
    joined = (
        pairs.join(
            sigs.select(
                F.col("doc_id").alias("id_a"), F.col("minhash").alias("siga")
            ),
            "id_a",
        )
        .join(
            sigs.select(
                F.col("doc_id").alias("id_b"), F.col("minhash").alias("sigb")
            ),
            "id_b",
        )
        .withColumn(
            "collided",
            F.exists(
                F.sequence(F.lit(0), F.lit(3)),
                lambda bi: F.slice(F.col("siga"), bi * 4 + 1, 4)
                == F.slice(F.col("sigb"), bi * 4 + 1, 4),
            ),
        )
        .withColumn("s", F.col("i").cast("double") / F.col("u"))
        .withColumn("s4", (F.col("s") * F.col("s")) * (F.col("s") * F.col("s")))
        .withColumn("t", F.lit(1.0) - F.col("s4"))
        .withColumn(
            "theo",
            F.round(
                F.lit(1.0)
                - (F.col("t") * F.col("t")) * (F.col("t") * F.col("t")),
                6,
            ),
        )
        .withColumn("sim_decile", F.expr("(i * 10) div u"))
    )
    return (
        joined.groupBy("sim_decile")
        .agg(
            F.count(F.lit(1)).alias("n_pairs"),
            F.sum(F.col("collided").cast("long")).alias("n_collided"),
            F.round(
                F.sum(F.col("collided").cast("long")).cast("double")
                / F.count(F.lit(1)),
                6,
            ).alias("observed_rate"),
            F.sum(F.col("theo").cast("decimal(18,6)"))
            .cast("decimal(28,6)")
            .cast("double")
            .alias("sum_theoretical"),
        )
        .orderBy("sim_decile")
    )


def _minhash_calibration_sql(num_hashes: int = 16, bands: int = 4) -> str:
    params = D.hash_params(num_hashes)
    mins = ",\n      ".join(
        f"COALESCE(list_aggregate(list_transform(hs, x -> ({a} * x + {b}) % {MINHASH_P}), 'min'), {MINHASH_P})"
        for a, b in params
    )
    r = num_hashes // bands
    return rf"""
WITH base AS (
  SELECT doc_id, text FROM documents
  WHERE doc_id < 160 AND length(trim(text)) > 0
), tk AS (
  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS toks FROM base
), shl AS (
  SELECT doc_id,
    CASE WHEN len(toks) < 3 THEN [array_to_string(toks, ' ')]
         ELSE list_transform(generate_series(1, len(toks) - 2),
                             i -> array_to_string(toks[i:i+2], ' '))
    END AS shingles
  FROM tk
), sh AS (
  SELECT DISTINCT doc_id, unnest(shingles) AS sh FROM shl
), sizes AS (
  SELECT doc_id, COUNT(*) AS sz FROM sh GROUP BY doc_id
), inter AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS i
  FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id < b.doc_id
  GROUP BY 1, 2
), pairs AS (
  SELECT id_a, id_b, i, sa.sz + sb.sz - i AS u
  FROM inter
  JOIN sizes sa ON sa.doc_id = id_a
  JOIN sizes sb ON sb.doc_id = id_b
), h AS (
  SELECT doc_id,
    list_transform(shingles,
                   s -> ('0x' || substring(md5(s), 1, 8))::BIGINT % {MINHASH_P}) AS hs
  FROM shl
), sig AS (
  SELECT doc_id, [
      {mins}
  ] AS sig FROM h
), scored AS (
  SELECT p.i, p.u,
    EXISTS (
      SELECT 1 FROM range(0, {bands}) t(bi)
      WHERE sa.sig[bi * {r} + 1 : (bi + 1) * {r}]
          = sb.sig[bi * {r} + 1 : (bi + 1) * {r}]
    ) AS collided,
    (CAST(p.i AS DOUBLE) / p.u) AS s
  FROM pairs p
  JOIN sig sa ON sa.doc_id = p.id_a
  JOIN sig sb ON sb.doc_id = p.id_b
), curved AS (
  SELECT i, u, collided,
    ROUND(1.0 - ((1.0 - (s*s)*(s*s)) * (1.0 - (s*s)*(s*s)))
              * ((1.0 - (s*s)*(s*s)) * (1.0 - (s*s)*(s*s))), 6) AS theo,
    (i * 10) // u AS sim_decile
  FROM scored
)
SELECT sim_decile, COUNT(*) AS n_pairs,
  CAST(SUM(CASE WHEN collided THEN 1 ELSE 0 END) AS BIGINT) AS n_collided,
  ROUND(CAST(SUM(CASE WHEN collided THEN 1 ELSE 0 END) AS DOUBLE)
        / COUNT(*), 6) AS observed_rate,
  CAST(CAST(SUM(CAST(theo AS DECIMAL(18,6))) AS DECIMAL(28,6)) AS DOUBLE) AS sum_theoretical
FROM curved GROUP BY sim_decile ORDER BY sim_decile
"""


def q_bpe_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE tokenizer training over the document corpus: the first 4
    learned merges with their weighted pair counts (operators/bpe.py
    bpe_learn — corpus collapses to the word-frequency vocab in ONE
    pass, merge rounds run on vocab-sized data with a 1-row argmax
    driver sync per round, and the merge itself is a Catalyst aggregate
    fold, no UDF). The DuckDB oracle unrolls the same rounds with
    list_reduce folds, pinning pair counts, tie-breaks, and the greedy
    leftmost-nonoverlapping merge semantics bit-for-bit."""
    from radient_spark.operators.bpe import bpe_learn

    docs = load_tables(spark, sf_dir)["documents"]
    return bpe_learn(docs, rounds=4).orderBy("round")


def _bpe_ctes(rounds: int = 4) -> str:
    ctes = [
        r"""w0 AS (
  SELECT rtrim(regexp_replace(w, '(.)', '\1 ', 'g')) || ' </w>' AS sym,
         COUNT(*) AS freq
  FROM (
    SELECT unnest(regexp_split_to_array(trim(text), '\s+')) AS w
    FROM documents WHERE length(trim(text)) > 0
  ) GROUP BY 1
)"""
    ]
    for r in range(1, rounds + 1):
        ctes.append(
            f"""p{r} AS (
  SELECT pair[1] AS l, pair[2] AS r2, SUM(freq) AS cnt FROM (
    SELECT unnest(list_zip(toks[1:len(toks)-1], toks[2:len(toks)])) AS pair,
           freq
    FROM (SELECT string_split(sym, ' ') AS toks, freq FROM w{r - 1})
  ) GROUP BY 1, 2
), b{r} AS (
  SELECT l, r2, cnt FROM p{r} ORDER BY cnt DESC, l, r2 LIMIT 1
), w{r} AS (
  SELECT freq, list_reduce(string_split(sym, ' '),
    (acc, x) -> CASE
      WHEN x = B.r2 AND (acc = B.l OR right(acc, length(B.l) + 1) = ' ' || B.l)
      THEN left(acc, length(acc) - length(B.l)) || B.l || B.r2
      ELSE acc || ' ' || x END) AS sym
  FROM w{r - 1}, b{r} B
)"""
        )
    return "WITH " + ",\n".join(ctes)


def _bpe_sql(rounds: int = 4) -> str:
    finals = "\nUNION ALL\n".join(
        f"SELECT CAST({r} AS BIGINT) AS round, l AS left_sym, "
        f"r2 AS right_sym, CAST(cnt AS BIGINT) AS pair_count FROM b{r}"
        for r in range(1, rounds + 1)
    )
    return (
        _bpe_ctes(rounds)
        + "\nSELECT * FROM (\n"
        + finals
        + "\n) ORDER BY round"
    )


def q_bpe_vocab_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The trained tokenizer's effective vocabulary: after the 4
    learned BPE merges, the top-20 subword symbols by corpus-weighted
    occurrence (with the distinct-word support of each) — the
    vocabulary report a tokenizer-training job emits alongside the
    merge list, and the query that pins the MERGE-APPLY fold (the
    bpe_apply path) under the oracle: the DuckDB side re-applies the
    same 4 folds via list_reduce before aggregating."""
    from radient_spark.functions import text as X
    from radient_spark.operators.bpe import (
        _merge_fold,
        bpe_learn,
        words_to_symbols,
    )

    docs = load_tables(spark, sf_dir)["documents"]
    merges = sorted(
        (
            (r["round"], r["left_sym"], r["right_sym"])
            for r in bpe_learn(docs, rounds=4).collect()
        )
    )
    words = (
        docs.select(F.explode(X.tokens(F.col("text"))).alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("freq"))
    )
    vocab = words_to_symbols(words).select("sym", "freq")
    for _, left, right in merges:
        vocab = vocab.withColumn("sym", _merge_fold(left, right))
    return (
        vocab.select(
            "freq", F.explode(F.split(F.col("sym"), " ")).alias("symbol")
        )
        .groupBy("symbol")
        .agg(
            F.sum("freq").alias("occurrences"),
            F.count(F.lit(1)).alias("n_words"),
        )
        .orderBy(F.col("occurrences").desc(), F.col("symbol").asc())
        .limit(20)
    )


def _bpe_vocab_sql(rounds: int = 4) -> str:
    return (
        _bpe_ctes(rounds)
        + f"""
SELECT symbol, CAST(SUM(freq) AS BIGINT) AS occurrences,
       COUNT(*) AS n_words
FROM (SELECT freq, unnest(string_split(sym, ' ')) AS symbol FROM w{rounds})
GROUP BY symbol
ORDER BY occurrences DESC, symbol ASC
LIMIT 20
"""
    )


def q_entity_resolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end entity resolution: sorted-neighborhood blocking ->
    Levenshtein verification (the q_edit_distance_pairs stack) ->
    O(log n) star connected components -> per-entity report
    (entity_id, n_members, canonical_id, n_pairs, max_edit_dist).
    The full record-linkage pipeline (Hernandez & Stolfo's merge/purge
    shape) as ONE composition: blocking bounds candidate pairs, the DP
    runs only on candidates, and component resolution is O(log n)
    rounds. Oracle: the same pair SQL under the shared recursive-CTE
    closure, plus a pair-stats join."""
    from radient_spark.operators.graph import connected_components_star

    # one materialization of the blocking+DP pipeline; the component
    # loop, node scan, and pair-stats join all reuse it
    pairs = q_edit_distance_pairs(spark, sf_dir).localCheckpoint(eager=True)
    labels = connected_components_star(pairs)
    members = labels.groupBy("group_id").agg(
        F.count(F.lit(1)).alias("n_members"),
        F.min("id").alias("canonical_id"),
    )
    pair_stats = (
        pairs.join(labels, pairs.id_a == labels.id)
        .groupBy("group_id")
        .agg(
            F.count(F.lit(1)).alias("n_pairs"),
            F.max("edit_dist").alias("max_edit_dist"),
        )
    )
    return (
        members.join(pair_stats, "group_id")
        .filter(F.col("n_members") > 1)
        .select(
            F.col("group_id").alias("entity_id"),
            "n_members",
            "canonical_id",
            "n_pairs",
            "max_edit_dist",
        )
        .orderBy("entity_id")
    )


def _entity_resolution_sql() -> str:
    pairs_sql = _edit_distance_sql()
    return f"""{_cc_labels_with(pairs_sql)}
SELECT l.group_id AS entity_id,
       COUNT(DISTINCT l.id) AS n_members,
       MIN(l.id) AS canonical_id,
       (SELECT COUNT(*) FROM pairs p
         JOIN labels la ON p.id_a = la.id
        WHERE la.group_id = l.group_id) AS n_pairs,
       (SELECT MAX(p.edit_dist) FROM pairs p
         JOIN labels la ON p.id_a = la.id
        WHERE la.group_id = l.group_id) AS max_edit_dist
FROM labels l
GROUP BY l.group_id
HAVING COUNT(DISTINCT l.id) > 1
ORDER BY entity_id
"""


def q_token_budget_allocation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Water-filling token-budget allocation across sources: a 60%
    budget of the corpus's tokens, allocated min(count, lambda) per
    source with the largest integer water level that fits, remainder
    distributed deterministically — sum(allocated) == budget EXACTLY
    (operators/dataset.py water_fill_allocation). The hard-budget
    mixture planner that complements temperature mixing
    (q_temperature_mix rescales rates; this hits a token target):
    small sources keep everything, big sources share a common cap.
    All integer arithmetic; windows run over the per-source table."""
    from radient_spark.functions import text as X
    from radient_spark.operators.dataset import water_fill_allocation

    docs = load_tables(spark, sf_dir)["documents"]
    counts = docs.groupBy("source").agg(
        F.sum(X.token_count(F.col("text"))).alias("n_tokens")
    )
    budgeted = counts.withColumn(
        "__wf_budget",
        F.expr(
            "(6 * sum(n_tokens) over (rows between unbounded preceding"
            " and unbounded following)) div 10"
        ),
    )
    return water_fill_allocation(budgeted, "source", "n_tokens").orderBy(
        "source"
    )


_Q_WATER_FILL_SQL = r"""
WITH counts AS (
  SELECT source,
    SUM(CASE WHEN length(trim(text)) = 0 THEN 0
             ELSE len(regexp_split_to_array(trim(text), '\s+')) END)
      AS n_tokens
  FROM documents GROUP BY source
), budgeted AS (
  SELECT *, (6 * SUM(n_tokens) OVER ()) // 10 AS bud FROM counts
), ranked AS (
  SELECT *,
    row_number() OVER (ORDER BY n_tokens ASC, source ASC) AS k,
    SUM(n_tokens) OVER (ORDER BY n_tokens ASC, source ASC
                        ROWS UNBOUNDED PRECEDING) AS cum,
    COUNT(*) OVER () AS n
  FROM budgeted
), fits AS (
  SELECT *, (cum + n_tokens * (n - k) <= bud) AS fit FROM ranked
), lv AS (
  SELECT COALESCE(MAX(CASE WHEN fit THEN k END), 0) AS kstar,
         COALESCE(MAX(CASE WHEN fit THEN cum END), 0) AS cumstar,
         ANY_VALUE(n) AS nn, ANY_VALUE(bud) AS b
  FROM fits
), lv2 AS (
  SELECT *,
    CASE WHEN kstar >= nn THEN NULL
         ELSE (b - cumstar) // (nn - kstar) END AS lam,
    CASE WHEN kstar >= nn THEN 0
         ELSE b - cumstar
              - ((b - cumstar) // (nn - kstar)) * (nn - kstar) END AS rem
  FROM lv
), capped AS (
  SELECT f.source, f.n_tokens, f.k, l.kstar, l.lam, l.rem,
         (f.k > l.kstar) AS iscapped,
         CASE WHEN f.k > l.kstar THEN
           row_number() OVER (PARTITION BY (f.k > l.kstar)
                              ORDER BY f.source ASC) END AS cap_rank
  FROM fits f, lv2 l
)
SELECT source, CAST(n_tokens AS BIGINT) AS n_tokens,
  CAST(CASE WHEN NOT iscapped THEN n_tokens
            ELSE lam + CASE WHEN cap_rank <= rem THEN 1 ELSE 0 END
       END AS BIGINT) AS allocated,
  iscapped AS capped
FROM capped ORDER BY source
"""


def q_winsorized_means(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winsorized means per event type: exact p05/p95 order statistics
    (the distributed rank engine — no per-group reducer buffer) clamp
    the tails before averaging, the robust mean that completes the
    robust-statistics family (MAD outliers, quantile-rank transform).
    Reports raw vs winsorized mean and the clamp count — the gap
    between the two IS the outlier influence a naive mean absorbs.

    Exactness: sums run on the integer cent lattice (DECIMAL-safe in
    any partial-aggregation order); the only float ops are the final
    two divisions, rounded to 6 decimals on both engines."""
    from radient_spark.operators.dataset import histogram_order_statistic

    ev = load_tables(spark, sf_dir)["events"]
    # cent-lattice values -> histogram order statistics (round 8): one
    # scan into (group, value) counts, both ranks in one tiny window
    hist = ev.groupBy("event_type", "value").agg(F.count(F.lit(1)).alias("c"))
    bounds = histogram_order_statistic(
        hist, "event_type", "value", qs=[0.05, 0.95], out_cols=["lo", "hi"]
    )
    cents = F.round(F.col("value") * 100).cast("long")
    lo_c = F.round(F.col("lo") * 100).cast("long")
    hi_c = F.round(F.col("hi") * 100).cast("long")
    clamped = F.least(F.greatest(cents, lo_c), hi_c)
    return (
        ev.join(F.broadcast(bounds), "event_type")
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.first("lo").alias("p05"),
            F.first("hi").alias("p95"),
            F.round(
                F.sum(cents).cast("double") / (F.count(F.lit(1)) * 100), 6
            ).alias("mean"),
            F.round(
                F.sum(clamped).cast("double") / (F.count(F.lit(1)) * 100), 6
            ).alias("winsorized_mean"),
            F.sum(((cents < lo_c) | (cents > hi_c)).cast("long")).alias(
                "n_clamped"
            ),
        )
        .orderBy("event_type")
    )


_Q_WINSOR_SQL = """
WITH ranked AS (
  SELECT event_type, value,
    row_number() OVER (PARTITION BY event_type ORDER BY value) AS rn,
    COUNT(*) OVER (PARTITION BY event_type) AS n
  FROM events
), bounds AS (
  SELECT event_type,
    MAX(CASE WHEN rn = GREATEST(1, CAST(ceil(0.05 * n) AS BIGINT))
        THEN value END) AS lo,
    MAX(CASE WHEN rn = GREATEST(1, CAST(ceil(0.95 * n) AS BIGINT))
        THEN value END) AS hi
  FROM ranked GROUP BY event_type
), cents AS (
  SELECT e.event_type, b.lo, b.hi,
    CAST(ROUND(e.value * 100) AS BIGINT) AS c,
    CAST(ROUND(b.lo * 100) AS BIGINT) AS loc,
    CAST(ROUND(b.hi * 100) AS BIGINT) AS hic
  FROM events e JOIN bounds b USING (event_type)
)
SELECT event_type, COUNT(*) AS n_events,
  MAX(lo) AS p05, MAX(hi) AS p95,
  ROUND(CAST(SUM(c) AS DOUBLE) / (COUNT(*) * 100), 6) AS mean,
  ROUND(CAST(SUM(LEAST(GREATEST(c, loc), hic)) AS DOUBLE)
        / (COUNT(*) * 100), 6) AS winsorized_mean,
  CAST(SUM(CASE WHEN c < loc OR c > hic THEN 1 ELSE 0 END) AS BIGINT)
    AS n_clamped
FROM cents GROUP BY event_type ORDER BY event_type
"""


def q_cluster_silhouette(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Clustering-quality evaluation for the semantic-curation stack:
    per-cluster simplified silhouette (centroid-based a vs min-other
    b, s = (b-a)/max(a,b)) over the same k=10 / 2-iteration lattice
    k-means as q_kmeans_embedding_clusters — the metric that says
    whether SemDeDup's clusters actually separate before you trust
    within-cluster dedup. Integer lattice distances + one rounded IEEE
    division per point, so the unrolled-Lloyd oracle extends to the
    silhouette bit-for-bit."""
    from radient_spark.operators.cluster import kmeans_fit, silhouette_report

    emb = load_tables(spark, sf_dir)["embeddings"]
    cents = kmeans_fit(emb, "embedding", "vec_id", k=10, iters=2, seed=42)
    return silhouette_report(emb, "embedding", cents).orderBy("cluster_id")


def _silhouette_sql(k: int = 10, iters: int = 2, seed: int = 42) -> str:
    with_clause, cfinal, _afinal = _kmeans_cte(k, iters, seed)
    return f"""{with_clause},
dall AS (
  SELECT p.vec_id, cf.c, SUM((p.v - cf.cv) * (p.v - cf.cv)) AS d
  FROM pts p JOIN {cfinal} cf ON p.dim = cf.dim
  GROUP BY p.vec_id, cf.c
), own AS (
  SELECT vec_id, c, d FROM dall
  QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY d, c) = 1
), nxt AS (
  SELECT dall.vec_id, MIN(dall.d) AS b
  FROM dall JOIN own USING (vec_id)
  WHERE dall.c <> own.c
  GROUP BY dall.vec_id
), scored AS (
  SELECT own.c AS cluster_id,
    CASE WHEN GREATEST(own.d, nxt.b) = 0 THEN 0.0
         ELSE ROUND(CAST(nxt.b - own.d AS DOUBLE)
                    / CAST(GREATEST(own.d, nxt.b) AS DOUBLE), 6) END AS s
  FROM own JOIN nxt USING (vec_id)
)
SELECT cluster_id, COUNT(*) AS n_points,
  ROUND(CAST(SUM(CAST(s AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*), 6)
    AS mean_silhouette
FROM scored GROUP BY cluster_id ORDER BY cluster_id
"""


def q_join_size_estimates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch-based join-size estimation (Cormode-Muthukrishnan CM
    inner product): predict |A JOIN B| from two d*w count-min cell
    tables BEFORE paying for the join — the planner input that decides
    broadcast vs shuffle vs salt. Audited against the exact join size
    (computed keys-only: groupBy counts on both sides, never the full
    join) for the warehouse's three shapes: an FK join, a dimension
    join, and the skew-sensitive self-join sum(c_k^2).

    Estimates are exact integer arithmetic over sketch-sized tables
    (the only float is the final audit ratio), so the oracle verifies
    the ESTIMATOR itself, not just the audit. Expected additive error
    is (sum_a)(sum_b)/width — the ratio column IS the signal that the
    width needs resizing for a key domain, which is exactly what this
    audit exists to surface."""
    from radient_spark.operators.sketch import (
        cms_build_weighted,
        cms_inner_product,
    )

    t = load_tables(spark, sf_dir)
    edges = [
        ("lineitem_join_orders", t["lineitem"], "l_orderkey", t["orders"], "o_orderkey"),
        ("orders_join_customer", t["orders"], "o_custkey", t["customer"], "c_custkey"),
        ("orders_self_join_custkey", t["orders"], "o_custkey", t["orders"], "o_custkey"),
    ]
    # one keys-only count table per DISTINCT (table, key) — and the CMS
    # sketch is built FROM that count table (cms_build_weighted: cell =
    # sum of key counts hashing into it, bit-identical to sketching the
    # raw rows), so each (table, key) costs ONE raw scan whose count
    # aggregation the sketch and the exact-audit join both reuse via
    # ReuseExchange; the old shape re-scanned + 4x-exploded the raw
    # table per sketch (optimization r12, guide §2.3). orders.o_custkey
    # appears in both the dimension join and the self-join; sharing the
    # plan subtree dedupes it inside the single job (an explicit
    # .cache() here measured SLOWER: materialization overhead exceeds
    # the reuse win on these sketch-sized outputs)
    sketches: dict = {}
    counts: dict = {}

    def counts_of(df: DataFrame, key: str) -> DataFrame:
        if (id(df), key) not in counts:
            counts[(id(df), key)] = df.groupBy(F.col(key).alias("k")).agg(
                F.count(F.lit(1)).alias("n")
            )
        return counts[(id(df), key)]

    def sketch_of(df: DataFrame, key: str) -> DataFrame:
        if (id(df), key) not in sketches:
            sketches[(id(df), key)] = cms_build_weighted(
                counts_of(df, key).select(
                    F.col("k").cast("string").alias("tok"), "n"
                ),
                "tok", "n", 4, 4096,
            )
        return sketches[(id(df), key)]

    outs = []
    for name, dfa, ka, dfb, kb in edges:
        est = cms_inner_product(sketch_of(dfa, ka), sketch_of(dfb, kb))
        ca = counts_of(dfa, ka).select("k", F.col("n").alias("na"))
        cb = counts_of(dfb, kb).select("k", F.col("n").alias("nb"))
        actual = ca.join(cb, "k").agg(
            F.coalesce(F.sum(F.col("na") * F.col("nb")), F.lit(0)).alias(
                "actual_join_size"
            )
        )
        outs.append(
            est.crossJoin(actual).select(
                F.lit(name).alias("join_name"),
                F.col("est_join_size"),
                F.col("actual_join_size"),
                F.round(
                    F.col("est_join_size").cast("double")
                    / F.col("actual_join_size"),
                    6,
                ).alias("overestimate_ratio"),
            )
        )
    out = outs[0]
    for o in outs[1:]:
        out = out.unionAll(o)
    return out


def _join_size_sql(depth: int = 4, width: int = 4096) -> str:
    def block(name: str, ta: str, ka: str, tb: str, kb: str) -> str:
        return f"""
SELECT '{name}' AS join_name,
  (SELECT MIN(ip) FROM (
     SELECT a.row, SUM(a.c * b.c) AS ip
     FROM (
       SELECT r.i AS row,
         ('0x' || substring(md5(r.i || '_' || CAST({ka} AS VARCHAR)), 1, 8))::BIGINT
           % {width} AS slot,
         COUNT(*) AS c
       FROM {ta}, range(0, {depth}) r(i) GROUP BY 1, 2
     ) a JOIN (
       SELECT r.i AS row,
         ('0x' || substring(md5(r.i || '_' || CAST({kb} AS VARCHAR)), 1, 8))::BIGINT
           % {width} AS slot,
         COUNT(*) AS c
       FROM {tb}, range(0, {depth}) r(i) GROUP BY 1, 2
     ) b USING (row, slot)
     GROUP BY a.row
  )) AS est_join_size,
  (SELECT COALESCE(SUM(na * nb), 0) FROM
     (SELECT {ka} AS k, COUNT(*) AS na FROM {ta} GROUP BY 1) ca
     JOIN (SELECT {kb} AS k, COUNT(*) AS nb FROM {tb} GROUP BY 1) cb
     USING (k)) AS actual_join_size
"""

    blocks = "\nUNION ALL\n".join(
        [
            block("lineitem_join_orders", "lineitem", "l_orderkey", "orders", "o_orderkey"),
            block("orders_join_customer", "orders", "o_custkey", "customer", "c_custkey"),
            block("orders_self_join_custkey", "orders", "o_custkey", "orders", "o_custkey"),
        ]
    )
    return f"""
SELECT join_name, CAST(est_join_size AS BIGINT) AS est_join_size,
  CAST(actual_join_size AS BIGINT) AS actual_join_size,
  ROUND(CAST(est_join_size AS DOUBLE) / actual_join_size, 6)
    AS overestimate_ratio
FROM ({blocks})
"""


def q_keyword_extraction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document keyword extraction: top-3 terms by TF-IDF
    (tf integer, idf = round(ln((N+1)/(df+1)) + 1, 6) — the
    rounded-transcendental discipline BM25/DSIR use), ties broken on
    term text. The document-level counterpart of the corpus-level
    sparse TF-IDF (q_sparse_tfidf_terms): what a search/RAG indexer
    stores as document keywords.

    One tokenize pass feeds both tf and df (Generate-barrier staged);
    the per-doc top-3 is a window over (doc, term) rows."""
    from radient_spark.functions import text as X
    from radient_spark.functions.stage import stage

    docs = load_tables(spark, sf_dir)["documents"]
    staged = stage(
        docs.select("doc_id", "text"), __toks=X.tokens(F.col("text"))
    ).filter(F.size("__toks") > 0)
    tf = (
        staged.select("doc_id", F.explode("__toks").alias("term"))
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    n_docs = staged.agg(F.count(F.lit(1)).alias("__n"))
    df_t = tf.groupBy("term").agg(
        F.countDistinct("doc_id").alias("df")
    )
    idf = F.round(
        F.log((F.col("__n") + 1.0) / (F.col("df") + 1.0)) + 1.0, 6
    )
    scored = (
        tf.join(F.broadcast(df_t), "term")
        .crossJoin(F.broadcast(n_docs))
        .withColumn("tfidf", F.round(F.col("tf") * idf, 6))
    )
    w = Window.partitionBy("doc_id").orderBy(
        F.col("tfidf").desc(), F.col("term").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 3)
        .select("doc_id", "rank", "term", "tf", "tfidf")
    )


_Q_KEYWORDS_SQL = r"""
WITH toks AS (
  SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\s+')) AS term
  FROM documents WHERE length(trim(text)) > 0
), tf AS (
  SELECT doc_id, term, COUNT(*) AS tf FROM toks GROUP BY doc_id, term
), dft AS (
  SELECT term, COUNT(DISTINCT doc_id) AS df FROM tf GROUP BY term
), nd AS (
  SELECT COUNT(DISTINCT doc_id) AS n FROM toks
), scored AS (
  SELECT tf.doc_id, tf.term, tf.tf,
    ROUND(tf.tf * ROUND(ln((nd.n + 1.0) / (dft.df + 1.0)) + 1.0, 6), 6)
      AS tfidf
  FROM tf JOIN dft USING (term), nd
)
SELECT doc_id, rank, term, CAST(tf AS BIGINT) AS tf, tfidf FROM (
  SELECT *, row_number() OVER (
    PARTITION BY doc_id ORDER BY tfidf DESC, term ASC) AS rank
  FROM scored
) WHERE rank <= 3
"""


def q_attribution_linear(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear (multi-touch) revenue attribution: every purchase's cents
    split EQUALLY across all session touchpoints up to and including
    the purchase, integer base + remainder cents to the earliest
    touchpoints — so per-purchase credits sum to the purchase exactly,
    and per-channel totals reconcile to total revenue to the cent
    (the property float splits lose). Completes the attribution family
    next to first-touch (q_attribution_first_touch).

    Scale shape: sessionization shares the user shuffle; the
    touchpoint fan-out joins events to purchases within one session
    only (bounded by session length, not corpus size)."""
    ev = load_tables(spark, sf_dir)["events"]
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    flagged = (
        ev.withColumn("prev_ts", F.lag("ts").over(w))
        .withColumn(
            "new_session",
            F.when(
                F.col("prev_ts").isNull()
                | (
                    F.col("ts")
                    > F.col("prev_ts") + F.expr("INTERVAL 30 MINUTES")
                ),
                1,
            ).otherwise(0),
        )
        .withColumn("session_id", F.sum("new_session").over(w))
        .select("user_id", "session_id", "event_id", "ts", "event_type", "value")
    )
    purchases = flagged.filter(F.col("event_type") == "purchase").select(
        F.col("user_id"),
        F.col("session_id"),
        F.col("event_id").alias("p_eid"),
        F.col("ts").alias("p_ts"),
        F.round(F.col("value") * 100, 0).cast("long").alias("cents"),
    )
    touches = (
        flagged.join(purchases, ["user_id", "session_id"])
        .filter(
            (F.col("ts") < F.col("p_ts"))
            | ((F.col("ts") == F.col("p_ts")) & (F.col("event_id") <= F.col("p_eid")))
        )
    )
    wp = Window.partitionBy("user_id", "session_id", "p_eid")
    wo = wp.orderBy("ts", "event_id")
    credited = (
        touches.withColumn("n_t", F.count(F.lit(1)).over(wp))
        .withColumn("pos", F.row_number().over(wo))
        .withColumn(
            "credit",
            F.expr("cents div n_t")
            + (F.col("pos") <= F.col("cents") % F.col("n_t")).cast("long"),
        )
    )
    return (
        credited.groupBy(F.col("event_type").alias("channel"))
        .agg(
            F.count(F.lit(1)).alias("n_touchpoints"),
            F.sum("credit").alias("attributed_cents"),
        )
        .orderBy("channel")
    )


_Q_ATTRIBUTION_LINEAR_SQL = """
WITH flagged AS (
  SELECT user_id, event_id, ts, event_type, value,
    SUM(CASE WHEN prev_ts IS NULL
             OR ts > prev_ts + INTERVAL 30 MINUTE THEN 1 ELSE 0 END)
      OVER (PARTITION BY user_id ORDER BY ts, event_id) AS session_id
  FROM (
    SELECT *, LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
      AS prev_ts
    FROM events
  )
), purchases AS (
  SELECT user_id, session_id, event_id AS p_eid, ts AS p_ts,
    CAST(ROUND(value * 100, 0) AS BIGINT) AS cents
  FROM flagged WHERE event_type = 'purchase'
), touches AS (
  SELECT f.event_type, f.ts, f.event_id,
         p.user_id, p.session_id, p.p_eid, p.cents
  FROM flagged f JOIN purchases p USING (user_id, session_id)
  WHERE f.ts < p.p_ts OR (f.ts = p.p_ts AND f.event_id <= p.p_eid)
), credited AS (
  SELECT event_type,
    cents // COUNT(*) OVER (PARTITION BY user_id, session_id, p_eid)
    + CASE WHEN row_number() OVER (
              PARTITION BY user_id, session_id, p_eid
              ORDER BY ts, event_id)
           <= cents % COUNT(*) OVER (PARTITION BY user_id, session_id, p_eid)
      THEN 1 ELSE 0 END AS credit
  FROM touches
)
SELECT event_type AS channel, COUNT(*) AS n_touchpoints,
  CAST(SUM(credit) AS BIGINT) AS attributed_cents
FROM credited GROUP BY event_type ORDER BY channel
"""


def q_curation_pipeline_v4(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Round-4 flagship composition — budget-governed corpus curation
    as ONE lazy plan: exact dedup (keep the globally-first copy) ->
    quality gate -> per-source token counts -> WATER-FILL a 50% token
    budget across sources (exact integer level + remainder) -> greedy
    in-source selection (doc_id order, running token cumsum up to the
    source's allocation). Reports the full funnel per source: docs in,
    unique, quality-passed, surviving tokens, allocated tokens,
    selected docs, selected tokens.

    The fairness property the composition pins: big sources are capped
    at a common ceiling while small sources keep everything, and the
    per-source selections sum to at most the global budget — mixture
    planning (q_token_budget_allocation) driving an actual document
    selection, end to end under one CTE-chain oracle.

    Scale shape: one md5-key window for dedup, one source-key window
    for selection; the allocation windows run over the per-source
    table. No collects, no data-sized broadcast."""
    from radient_spark.functions import text as X
    from radient_spark.functions.text import quality_score
    from radient_spark.operators.dataset import water_fill_allocation

    docs = load_tables(spark, sf_dir)["documents"]
    wdup = Window.partitionBy("__h").orderBy("doc_id")
    staged = (
        docs.select("doc_id", "source", "text")
        .withColumn("__h", F.md5("text"))
        .withColumn("is_canonical", F.row_number().over(wdup) == 1)
        .withColumn("quality", quality_score(F.col("text")))
        .withColumn(
            "q_ok", F.col("is_canonical") & (F.col("quality") >= 0.5)
        )
        .withColumn("tc", X.token_count(F.col("text")))
        .drop("text")
        # the funnel fans out into four branches (counts, allocation,
        # selection, report) that would otherwise each replay the scan
        # + md5 window; one cached pass feeds them all
        .persist()
    )
    survivors = staged.filter("q_ok")
    counts = survivors.groupBy("source").agg(
        F.sum("tc").alias("n_tokens")
    )
    budgeted = counts.withColumn(
        "__wf_budget",
        F.expr(
            "(5 * sum(n_tokens) over (rows between unbounded preceding"
            " and unbounded following)) div 10"
        ),
    )
    alloc = water_fill_allocation(budgeted, "source", "n_tokens").select(
        "source", F.col("allocated")
    )
    wsel = Window.partitionBy("source").orderBy("doc_id")
    sel = (
        survivors.withColumn(
            "cum", F.sum("tc").over(wsel.rowsBetween(Window.unboundedPreceding, 0))
        )
        .join(F.broadcast(alloc), "source")
        .withColumn("is_sel", F.col("cum") <= F.col("allocated"))
        .select("doc_id", "is_sel")
    )
    return (
        staged.join(sel, "doc_id", "left")
        .join(F.broadcast(alloc.withColumnRenamed("allocated", "alloc_tokens")), "source", "left")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.col("is_canonical").cast("long")).alias("n_unique"),
            F.sum(F.col("q_ok").cast("long")).alias("n_quality"),
            F.sum(F.when(F.col("q_ok"), F.col("tc")).otherwise(0)).alias(
                "n_tokens"
            ),
            F.coalesce(F.first("alloc_tokens"), F.lit(0)).alias(
                "allocated_tokens"
            ),
            F.sum(F.coalesce(F.col("is_sel").cast("long"), F.lit(0))).alias(
                "n_selected"
            ),
            F.sum(
                F.when(F.coalesce(F.col("is_sel"), F.lit(False)), F.col("tc"))
                .otherwise(0)
            ).alias("selected_tokens"),
        )
        .orderBy("source")
    )


def _curation_v4_sql() -> str:
    sw = ", ".join("'" + w + "'" for w in _SW)
    quality = rf"""round(0.4 * least(CAST(
      CASE WHEN length(trim(text)) = 0 THEN 0
           ELSE len(regexp_split_to_array(trim(text), '\s+')) END
      AS DOUBLE) / 50.0, 1.0)
    + 0.4 * (CASE WHEN length(text) = 0 THEN 0.0
             ELSE CAST(length(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS DOUBLE)
                  / length(text) END)
    + 0.2 * least((CASE WHEN
        (CASE WHEN length(trim(text)) = 0 THEN 0
              ELSE len(regexp_split_to_array(trim(text), '\s+')) END) = 0
        THEN 0.0
        ELSE CAST(len(list_filter(regexp_split_to_array(trim(lower(text)), '\s+'),
                                  x -> x IN ({sw}))) AS DOUBLE)
             / (CASE WHEN length(trim(text)) = 0 THEN 0
                     ELSE len(regexp_split_to_array(trim(text), '\s+')) END)
        END) * 5.0, 1.0), 6)"""
    return rf"""
WITH staged AS (
  SELECT doc_id, source, text,
    (row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) = 1)
      AS is_canonical,
    {quality} AS quality,
    CASE WHEN length(trim(text)) = 0 THEN 0
         ELSE len(regexp_split_to_array(trim(text), '\s+')) END AS tc
  FROM documents
), flags AS (
  SELECT *, (is_canonical AND quality >= 0.5) AS q_ok FROM staged
), survivors AS (
  SELECT * FROM flags WHERE q_ok
), counts AS (
  SELECT source, SUM(tc) AS n_tokens FROM survivors GROUP BY source
), budgeted AS (
  SELECT *, (5 * SUM(n_tokens) OVER ()) // 10 AS bud FROM counts
), ranked AS (
  SELECT *,
    row_number() OVER (ORDER BY n_tokens ASC, source ASC) AS k,
    SUM(n_tokens) OVER (ORDER BY n_tokens ASC, source ASC
                        ROWS UNBOUNDED PRECEDING) AS cum,
    COUNT(*) OVER () AS n
  FROM budgeted
), fits AS (
  SELECT *, (cum + n_tokens * (n - k) <= bud) AS fit FROM ranked
), lv AS (
  SELECT COALESCE(MAX(CASE WHEN fit THEN k END), 0) AS kstar,
         COALESCE(MAX(CASE WHEN fit THEN cum END), 0) AS cumstar,
         ANY_VALUE(n) AS nn, ANY_VALUE(bud) AS b
  FROM fits
), lv2 AS (
  SELECT *,
    CASE WHEN kstar >= nn THEN NULL
         ELSE (b - cumstar) // (nn - kstar) END AS lam,
    CASE WHEN kstar >= nn THEN 0
         ELSE b - cumstar
              - ((b - cumstar) // (nn - kstar)) * (nn - kstar) END AS rem
  FROM lv
), alloc AS (
  SELECT f.source,
    CAST(CASE WHEN f.k <= l.kstar THEN f.n_tokens
         ELSE l.lam + CASE WHEN
             (CASE WHEN f.k > l.kstar THEN
                row_number() OVER (PARTITION BY (f.k > l.kstar)
                                   ORDER BY f.source ASC) END) <= l.rem
           THEN 1 ELSE 0 END
         END AS BIGINT) AS allocated
  FROM fits f, lv2 l
), sel AS (
  SELECT s.doc_id,
    (SUM(s.tc) OVER (PARTITION BY s.source ORDER BY s.doc_id
                     ROWS UNBOUNDED PRECEDING) <= a.allocated) AS is_sel,
    s.tc
  FROM survivors s JOIN alloc a USING (source)
)
SELECT f.source, COUNT(*) AS n_docs,
  CAST(SUM(CASE WHEN f.is_canonical THEN 1 ELSE 0 END) AS BIGINT) AS n_unique,
  CAST(SUM(CASE WHEN f.q_ok THEN 1 ELSE 0 END) AS BIGINT) AS n_quality,
  CAST(SUM(CASE WHEN f.q_ok THEN f.tc ELSE 0 END) AS BIGINT) AS n_tokens,
  CAST(COALESCE(ANY_VALUE(a.allocated), 0) AS BIGINT) AS allocated_tokens,
  CAST(SUM(CASE WHEN sel.is_sel THEN 1 ELSE 0 END) AS BIGINT) AS n_selected,
  CAST(SUM(CASE WHEN sel.is_sel THEN f.tc ELSE 0 END) AS BIGINT)
    AS selected_tokens
FROM flags f
LEFT JOIN sel ON f.doc_id = sel.doc_id
LEFT JOIN alloc a ON f.source = a.source
GROUP BY f.source ORDER BY f.source
"""


def q_clustering_coefficients(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-10 suppliers by local clustering coefficient in the
    co-supply graph (same hub-capped projection as q_triangle_count):
    cc(v) = 2*t(v)/(d(v)*(d(v)-1)) — the node-level cohesion signal
    (who sits inside a tight supplier clique vs a star hub). Triangles
    come from one degree-ordered orientation pass credited to all
    three corners; the coefficient is one rounded IEEE division of
    exact integers."""
    from radient_spark.operators.graph import local_clustering

    return (
        local_clustering(_co_supply_edges(spark, sf_dir))
        .orderBy(F.col("clustering_coeff").desc(), F.col("node").asc())
        .limit(10)
    )


_Q_CLUSTERING_COEF_SQL = """
WITH sp AS (
  SELECT DISTINCT l_suppkey, l_partkey FROM lineitem
), small AS (
  SELECT sp.* FROM sp JOIN (
    SELECT l_partkey FROM sp GROUP BY l_partkey HAVING COUNT(*) <= 20
  ) ok USING (l_partkey)
), und AS (
  SELECT DISTINCT a.l_suppkey AS a, b.l_suppkey AS b
  FROM small a JOIN small b
    ON a.l_partkey = b.l_partkey AND a.l_suppkey < b.l_suppkey
), deg AS (
  SELECT n, COUNT(*) AS d FROM (
    SELECT a AS n FROM und UNION ALL SELECT b AS n FROM und
  ) GROUP BY n
), oriented AS (
  SELECT CASE WHEN da < db OR (da = db AND a < b) THEN a ELSE b END AS u,
         CASE WHEN da < db OR (da = db AND a < b) THEN b ELSE a END AS v
  FROM und
  JOIN deg x ON x.n = und.a
  JOIN deg y ON y.n = und.b,
  LATERAL (SELECT x.d AS da, y.d AS db)
), tri AS (
  SELECT e1.u AS x, e1.v AS y, e2.v AS z
  FROM oriented e1
  JOIN oriented e2 ON e2.u = e1.v
  JOIN oriented e3 ON e3.u = e1.u AND e3.v = e2.v
), per_node AS (
  SELECT node, COUNT(*) AS t FROM (
    SELECT x AS node FROM tri
    UNION ALL SELECT y FROM tri
    UNION ALL SELECT z FROM tri
  ) GROUP BY node
)
SELECT deg.n AS node, CAST(deg.d AS BIGINT) AS degree,
  CAST(COALESCE(per_node.t, 0) AS BIGINT) AS n_triangles,
  ROUND(CAST(COALESCE(per_node.t, 0) * 2 AS DOUBLE)
        / (deg.d * (deg.d - 1)), 6) AS clustering_coeff
FROM deg LEFT JOIN per_node ON deg.n = per_node.node
WHERE deg.d >= 2
ORDER BY clustering_coeff DESC, node ASC
LIMIT 10
"""


def q_time_to_convert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conversion-latency percentiles: exact p50/p90 of milliseconds
    from session start to each purchase, per acquisition channel (the
    session's first event type) — the funnel-speed metric combining
    the sessionization family with the distributed order-statistic
    engine. Deltas are exact integer epoch-milliseconds; the
    percentile is an order statistic, no averaging floats."""
    from radient_spark.operators.dataset import exact_group_quantiles

    ev = load_tables(spark, sf_dir)["events"]
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    flagged = (
        ev.withColumn("prev_ts", F.lag("ts").over(w))
        .withColumn(
            "new_session",
            F.when(
                F.col("prev_ts").isNull()
                | (
                    F.col("ts")
                    > F.col("prev_ts") + F.expr("INTERVAL 30 MINUTES")
                ),
                1,
            ).otherwise(0),
        )
        .withColumn("session_id", F.sum("new_session").over(w))
    )
    ws = Window.partitionBy("user_id", "session_id").orderBy("ts", "event_id")
    # ts is TIMESTAMP_NTZ; the catalog pins the session tz to UTC, so
    # the cast to TIMESTAMP is the identity instant both engines use
    ms = lambda c: F.unix_millis(c.cast("timestamp"))  # noqa: E731
    deltas = (
        flagged.withColumn("first_type", F.first("event_type").over(ws))
        .withColumn("start_ms", ms(F.first("ts").over(ws)))
        .filter(F.col("event_type") == "purchase")
        .select(
            F.col("first_type").alias("channel"),
            (ms(F.col("ts")) - F.col("start_ms")).alias("delta_ms"),
        )
    )
    out = exact_group_quantiles(deltas, "channel", "delta_ms", [0.5, 0.9])
    return out.select(
        "channel", "q", F.col("value").cast("long").alias("delta_ms")
    ).orderBy("channel", "q")


_Q_TIME_TO_CONVERT_SQL = """
WITH flagged AS (
  SELECT user_id, event_id, ts, event_type,
    SUM(CASE WHEN prev_ts IS NULL
             OR ts > prev_ts + INTERVAL 30 MINUTE THEN 1 ELSE 0 END)
      OVER (PARTITION BY user_id ORDER BY ts, event_id) AS session_id
  FROM (
    SELECT *, LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
      AS prev_ts
    FROM events
  )
), deltas AS (
  SELECT
    first_value(event_type) OVER w AS channel,
    epoch_ms(ts) - epoch_ms(first_value(ts) OVER w) AS delta_ms,
    event_type
  FROM flagged
  WINDOW w AS (PARTITION BY user_id, session_id ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
), purchases AS (
  SELECT channel, delta_ms FROM deltas WHERE event_type = 'purchase'
), ranked AS (
  SELECT channel, delta_ms,
    row_number() OVER (PARTITION BY channel ORDER BY delta_ms) AS rn,
    COUNT(*) OVER (PARTITION BY channel) AS n
  FROM purchases
)
SELECT channel, q, CAST(MAX(v) AS BIGINT) AS delta_ms FROM (
  SELECT channel, CAST(0.5 AS DOUBLE) AS q,
    CASE WHEN rn = GREATEST(1, CAST(ceil(0.5 * n) AS BIGINT))
         THEN delta_ms END AS v
  FROM ranked
  UNION ALL
  SELECT channel, CAST(0.9 AS DOUBLE),
    CASE WHEN rn = GREATEST(1, CAST(ceil(0.9 * n) AS BIGINT))
         THEN delta_ms END
  FROM ranked
) GROUP BY channel, q ORDER BY channel, q
"""


def q_ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source novelty audit for incremental crawls: a document's
    novelty is the fraction of its distinct 3-gram shingles whose
    FIRST occurrence (by doc_id ingestion order) is the document
    itself — repeated boilerplate scores near 0, fresh content near 1.
    Reported per source: docs, mean novelty, and how many docs are
    >= 90% novel. The signal a crawl scheduler uses to decide which
    sources still yield new text.

    One tokenize+shingle explode; first-seen is a gram-key min
    aggregate (shuffle carries 8-byte gram hashes); per-doc novelty is
    exact integer counts with one rounded division."""
    from radient_spark.functions import text as X
    from radient_spark.functions.stage import stage

    docs = load_tables(spark, sf_dir)["documents"]
    staged = stage(
        _widen_narrow_scan(docs.select("doc_id", "source", "text")),
        __toks=X.tokens(F.col("text")),
    ).filter(F.size("__toks") > 0)
    grams = staged.select(
        "doc_id",
        "source",
        F.explode(
            X.shingles_from_tokens("__toks", 3)
        ).alias("gram"),
    ).select(
        "doc_id", "source", F.md5("gram").alias("gh")
    ).distinct()
    first_seen = grams.groupBy("gh").agg(F.min("doc_id").alias("first_doc"))
    per_doc = (
        grams.join(first_seen, "gh")
        .groupBy("doc_id", "source")
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            F.sum(
                (F.col("first_doc") == F.col("doc_id")).cast("long")
            ).alias("n_novel"),
        )
        .withColumn(
            "novelty",
            F.round(
                F.col("n_novel").cast("double") / F.col("n_grams"), 6
            ),
        )
    )
    return (
        per_doc.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.round(
                F.sum(F.col("novelty").cast("decimal(18,6)")).cast("double")
                / F.count(F.lit(1)),
                6,
            ).alias("mean_novelty"),
            F.sum((F.col("novelty") >= 0.9).cast("long")).alias(
                "n_mostly_novel"
            ),
        )
        .orderBy("source")
    )


_Q_NOVELTY_SQL = r"""
WITH tk AS (
  SELECT doc_id, source, regexp_split_to_array(trim(text), '\s+') AS toks
  FROM documents WHERE length(trim(text)) > 0
), shl AS (
  SELECT doc_id, source,
    CASE WHEN len(toks) < 3 THEN [array_to_string(toks, ' ')]
         ELSE list_transform(generate_series(1, len(toks) - 2),
                             i -> array_to_string(toks[i:i+2], ' '))
    END AS shingles
  FROM tk
), grams AS (
  SELECT DISTINCT doc_id, source, md5(unnest(shingles)) AS gh FROM shl
), first_seen AS (
  SELECT gh, MIN(doc_id) AS first_doc FROM grams GROUP BY gh
), per_doc AS (
  SELECT g.doc_id, g.source, COUNT(*) AS n_grams,
    SUM(CASE WHEN f.first_doc = g.doc_id THEN 1 ELSE 0 END) AS n_novel,
    ROUND(CAST(SUM(CASE WHEN f.first_doc = g.doc_id THEN 1 ELSE 0 END)
               AS DOUBLE) / COUNT(*), 6) AS novelty
  FROM grams g JOIN first_seen f USING (gh)
  GROUP BY g.doc_id, g.source
)
SELECT source, COUNT(*) AS n_docs,
  ROUND(CAST(SUM(CAST(novelty AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*), 6)
    AS mean_novelty,
  CAST(SUM(CASE WHEN novelty >= 0.9 THEN 1 ELSE 0 END) AS BIGINT)
    AS n_mostly_novel
FROM per_doc GROUP BY source ORDER BY source
"""


def q_zipf_exponent(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus power-law audit: the Zipf exponent from an OLS fit of
    ln(freq) on ln(rank) over the top-100 tokens — the one-number
    check that a (synthetic or crawled) corpus has a natural-language
    frequency profile (natural text: exponent near 1; uniform word
    soup: near 0). ln values quantize to an integer micro-lattice
    (round(ln*1e6)) so the moment sums are exact DECIMAL like
    q_trend_regression; the two final divisions are the only floats.
    """
    from radient_spark.functions import text as X

    docs = load_tables(spark, sf_dir)["documents"]
    freqs = (
        docs.select(F.explode(X.tokens(F.col("text"))).alias("tok"))
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("freq"))
    )
    # TakeOrderedAndProject FIRST (distributed per-partition top-100 +
    # driver merge of 100-row heads), THEN rank the <=100 survivors —
    # never a global window over the full vocabulary (10^8-10^9 distinct
    # tokens on a real corpus would single-reducer sort otherwise).
    top100 = freqs.orderBy(F.col("freq").desc(), F.col("tok").asc()).limit(100)
    w = Window.orderBy(F.col("freq").desc(), F.col("tok").asc())
    top = top100.withColumn("rank", F.row_number().over(w))
    dec = "decimal(38,0)"
    xl = F.round(F.log(F.col("rank").cast("double")) * 1e6, 0).cast("long")
    yl = F.round(F.log(F.col("freq").cast("double")) * 1e6, 0).cast("long")
    m = top.agg(
        F.count(F.lit(1)).cast(dec).alias("n"),
        F.sum(xl.cast(dec)).alias("sx"),
        F.sum(yl.cast(dec)).alias("sy"),
        F.sum((xl * xl).cast(dec)).alias("sxx"),
        F.sum((xl * yl).cast(dec)).alias("sxy"),
    )
    den = (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")).cast(
        "double"
    )
    slope = (
        F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")
    ).cast("double") / den
    intercept = (
        (F.col("sy").cast("double") - slope * F.col("sx").cast("double"))
        / F.col("n").cast("double")
        / 1e6
    )
    return m.select(
        F.col("n").cast("long").alias("n_tokens"),
        F.round(-slope, 6).alias("zipf_exponent"),
        F.round(intercept, 6).alias("intercept_ln"),
    )


_Q_ZIPF_SQL = r"""
WITH freqs AS (
  SELECT tok, COUNT(*) AS freq FROM (
    SELECT unnest(regexp_split_to_array(trim(text), '\s+')) AS tok
    FROM documents WHERE length(trim(text)) > 0
  ) GROUP BY tok
), top AS (
  SELECT freq, row_number() OVER (ORDER BY freq DESC, tok ASC) AS rank
  FROM freqs QUALIFY rank <= 100
), lat AS (
  SELECT CAST(ROUND(ln(CAST(rank AS DOUBLE)) * 1e6, 0) AS BIGINT) AS xl,
         CAST(ROUND(ln(CAST(freq AS DOUBLE)) * 1e6, 0) AS BIGINT) AS yl
  FROM top
), m AS (
  SELECT CAST(COUNT(*) AS DECIMAL(38,0)) AS n,
    SUM(CAST(xl AS DECIMAL(38,0))) AS sx,
    SUM(CAST(yl AS DECIMAL(38,0))) AS sy,
    SUM(CAST(xl * xl AS DECIMAL(38,0))) AS sxx,
    SUM(CAST(xl * yl AS DECIMAL(38,0))) AS sxy
  FROM lat
)
SELECT CAST(n AS BIGINT) AS n_tokens,
  ROUND(-(CAST(n * sxy - sx * sy AS DOUBLE)
          / CAST(n * sxx - sx * sx AS DOUBLE)), 6) AS zipf_exponent,
  ROUND((CAST(sy AS DOUBLE)
         - (CAST(n * sxy - sx * sy AS DOUBLE)
            / CAST(n * sxx - sx * sx AS DOUBLE)) * CAST(sx AS DOUBLE))
        / CAST(n AS DOUBLE) / 1e6, 6) AS intercept_ln
FROM m
"""


def q_embedding_srp_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The fourth vector-blocking strategy: sign-random-projection LSH
    (Charikar SimHash for embeddings — operators/topk.py
    srp_signature). 16-bit angle codes from md5-seeded hyperplanes,
    pigeonhole banding (Hamming <= 3 over 4 bands forces one equal
    4-bit slice), then exact cosine verification at the round-4
    contract. Complements exact all-pairs (block GEMM), SemDeDup
    (cluster blocking), and MinHash/SimHash (token blocking): this one
    blocks on ANGLE without training a codebook.

    Shuffle: (vec_id, band) 16-byte rows — the corpus's vectors join
    only within band buckets; the verify join touches candidates
    only."""
    from radient_spark.operators.dedup import simhash_near_pairs
    from radient_spark.operators.topk import srp_signature

    emb = load_tables(spark, sf_dir)["embeddings"]
    # the embeddings parquet arrives as ONE split at this SF (single
    # row group), and the banded join's small side auto-broadcasts —
    # without widening, the whole signature+join+verify pipeline would
    # run on a single core (stream-side parallelism = 1); no-op at scale
    sigs = _widen_narrow_scan(emb).select(
        "vec_id", srp_signature("embedding", dim=64).alias("srp")
    )
    cand = simhash_near_pairs(
        sigs, id_col="vec_id", sim_col="srp", n_bits=16, bands=4,
        max_hamming=3,
    )
    # Per-VECTOR norms computed once on the (broadcast) vector sides
    # instead of per candidate pair (optimization r12, guide §4.1): the
    # zip_with/aggregate folds are interpreted per element, and the old
    # per-pair cosine paid dot + BOTH norms (3 folds) per candidate.
    # Bit-identical: norm() is the same sequential fold, evaluated at a
    # different node; dot/(na*nb) is the same float expression.
    va = emb.select(
        F.col("vec_id").alias("id_a"),
        F.col("embedding").alias("va"),
        V.norm("embedding").alias("__na"),
    )
    vb = emb.select(
        F.col("vec_id").alias("id_b"),
        F.col("embedding").alias("vb"),
        V.norm("embedding").alias("__nb"),
    )
    return (
        cand.join(va, "id_a")
        .join(vb, "id_b")
        .withColumn(
            "score",
            F.round(
                V.dot(F.col("va"), F.col("vb"))
                / (F.col("__na") * F.col("__nb")),
                4,
            ),
        )
        .filter(F.col("score") >= 0.4)
        .select("id_a", "id_b", "hamming", "score")
    )


def _srp_pairs_sql(n_bits: int = 16, bands: int = 4, seed: int = 7) -> str:
    from radient_spark.operators.topk import srp_signs

    signs = srp_signs(64, n_bits, seed)
    rows = ", ".join("[" + ", ".join(str(s) for s in r) + "]" for r in signs)
    width = n_bits // bands
    mask = (1 << width) - 1
    return f"""
WITH micro AS (
  SELECT vec_id,
    list_transform(embedding, x -> CAST(ROUND(CAST(x AS DOUBLE) * 1000000, 0)
                                        AS BIGINT)) AS mv,
    embedding::DOUBLE[] AS ve
  FROM embeddings
), sig AS (
  SELECT vec_id, ve,
    CAST(list_sum(list_transform(generate_series(1, {n_bits}), j ->
      CASE WHEN list_dot_product(
             list_transform(mv, x -> CAST(x AS DOUBLE)),
             list_transform([{rows}][j], s -> CAST(s AS DOUBLE))) >= 0
           THEN (1::BIGINT << (j - 1)) ELSE 0 END)) AS BIGINT) AS srp
  FROM micro
), banded AS (
  SELECT vec_id, srp, ve, i AS bi, (srp >> (i * {width})) & {mask} AS bv
  FROM sig, unnest([0, 1, 2, 3]) AS t(i)
), cand AS (
  SELECT DISTINCT l.vec_id AS id_a, r.vec_id AS id_b,
    bit_count(xor(l.srp, r.srp)) AS hamming,
    ROUND(list_dot_product(l.ve, r.ve)
          / (sqrt(list_dot_product(l.ve, l.ve))
             * sqrt(list_dot_product(r.ve, r.ve))), 4) AS score
  FROM banded l JOIN banded r
    ON l.bi = r.bi AND l.bv = r.bv AND l.vec_id < r.vec_id
)
SELECT id_a, id_b, CAST(hamming AS INT) AS hamming, score
FROM cand WHERE hamming <= 3 AND score >= 0.4
"""


def q_srp_dedup_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-modality first-arrival near-dup verdicts
    (operators/dedup.srp_first_arrival_flags; streaming twin
    streaming.srp_dedup_sink): a vector is flagged iff any pigeonhole
    band slice of its 48-bit SRP angle code is owned by a lower
    vec_id, dup_of = the smallest such owner — the keep/drop decision
    layer over q_embedding_srp_pairs' candidate generation, and the
    angle-blocking counterpart of q_lsh_dedup_flags' token blocking.

    Calibration: this corpus is angularly clustered, so the pair
    query's 4-bit band slices collide for 99% of vectors — fine for
    candidate generation (a verify join follows), useless as a
    verdict. 16-bit slices (48 bits / 3 bands) flag 3% at sf0.001 —
    measured flag rates 497 -> 440 -> 15 of 500 for 4/8/16-bit
    slices; a verdict layer picks band width by target flag rate.

    Scale: one groupBy + same-key join over (vec_id, band) tuples;
    never all-pairs, vectors never shuffled."""
    emb = load_tables(spark, sf_dir)["embeddings"]
    return D.srp_first_arrival_flags(
        _widen_narrow_scan(emb.select("vec_id", "embedding")),
        id_col="vec_id",
        vec_col="embedding",
        dim=64,
        n_bits=48,
        bands=3,
        seed=7,
    )


def _srp_flags_sql(n_bits: int = 48, bands: int = 3, seed: int = 7) -> str:
    from radient_spark.operators.topk import srp_signs

    signs = srp_signs(64, n_bits, seed)
    rows = ", ".join("[" + ", ".join(str(s) for s in r) + "]" for r in signs)
    width = n_bits // bands
    mask = (1 << width) - 1
    band_ids = ", ".join(str(i) for i in range(bands))
    return f"""
WITH micro AS MATERIALIZED (
  SELECT vec_id,
    list_transform(embedding, x -> CAST(ROUND(CAST(x AS DOUBLE) * 1000000, 0)
                                        AS BIGINT)) AS mv
  FROM embeddings
), sig AS MATERIALIZED (
  SELECT vec_id,
    CAST(list_sum(list_transform(generate_series(1, {n_bits}), j ->
      CASE WHEN list_dot_product(
             list_transform(mv, x -> CAST(x AS DOUBLE)),
             list_transform([{rows}][j], s -> CAST(s AS DOUBLE))) >= 0
           THEN (1::BIGINT << (j - 1)) ELSE 0 END)) AS BIGINT) AS srp
  FROM micro
), banded AS MATERIALIZED (
  SELECT vec_id, i AS bi, (srp >> (i * {width})) & {mask} AS bv
  FROM sig, unnest([{band_ids}]) AS t(i)
), owners AS MATERIALIZED (
  SELECT bi, bv, MIN(vec_id) AS owner FROM banded GROUP BY bi, bv
)
SELECT b.vec_id, MIN(o.owner) AS dup_of
FROM banded b JOIN owners o ON b.bi = o.bi AND b.bv = o.bv
WHERE o.owner < b.vec_id
GROUP BY b.vec_id
"""


def q_srp_multiprobe_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multiprobe SRP-LSH near-neighbor pairs (operators/dedup.py
    simhash_multiprobe_pairs): each 16-bit angle code also probes its
    1-bit-flipped band variants, extending the pigeonhole guarantee
    from Hamming <= 3 to Hamming <= 7 with the SAME index — the
    multiprobe recall lever (more probes, not more tables).  Exact
    cosine verify at the family contract; compare row counts with
    q_embedding_srp_pairs to see the recall the extra probes buy."""
    from radient_spark.operators.dedup import simhash_multiprobe_pairs
    from radient_spark.operators.topk import srp_signature

    emb = load_tables(spark, sf_dir)["embeddings"]
    # single-split parquet + broadcast band join = one-core pipeline
    # without the widen (see q_embedding_srp_pairs); no-op at scale
    sigs = _widen_narrow_scan(emb).select(
        "vec_id", srp_signature("embedding", dim=64).alias("srp")
    )
    cand = simhash_multiprobe_pairs(
        sigs, id_col="vec_id", sim_col="srp", n_bits=16, bands=4,
        max_hamming=7,
    ).repartition(spark.sparkContext.defaultParallelism)
    # ^ AQE coalesces the candidate shuffle by BYTES (a few MB -> ~6
    # partitions), but the exact-cosine verify below is CPU-bound per
    # row — re-spread to core count before it (compute-aware
    # repartitioning AQE cannot infer); measured 5.0s -> 3.5s at sf0.1
    # per-vector norms once, not per pair — see q_embedding_srp_pairs
    # (bit-identical: same fold, same division)
    va = emb.select(
        F.col("vec_id").alias("id_a"),
        F.col("embedding").alias("va"),
        V.norm("embedding").alias("__na"),
    )
    vb = emb.select(
        F.col("vec_id").alias("id_b"),
        F.col("embedding").alias("vb"),
        V.norm("embedding").alias("__nb"),
    )
    return (
        cand.join(va, "id_a")
        .join(vb, "id_b")
        .withColumn(
            "score",
            F.round(
                V.dot(F.col("va"), F.col("vb"))
                / (F.col("__na") * F.col("__nb")),
                4,
            ),
        )
        .filter(F.col("score") >= 0.4)
        .select("id_a", "id_b", "hamming", "score")
    )


def _srp_multiprobe_sql(n_bits: int = 16, bands: int = 4, seed: int = 7) -> str:
    from radient_spark.operators.topk import srp_signs

    signs = srp_signs(64, n_bits, seed)
    rows = ", ".join("[" + ", ".join(str(s) for s in r) + "]" for r in signs)
    width = n_bits // bands
    mask = (1 << width) - 1
    flips = ", ".join(str(1 << b) for b in range(width))
    return f"""
WITH micro AS (
  SELECT vec_id,
    list_transform(embedding, x -> CAST(ROUND(CAST(x AS DOUBLE) * 1000000, 0)
                                        AS BIGINT)) AS mv,
    embedding::DOUBLE[] AS ve
  FROM embeddings
), sig AS (
  SELECT vec_id, ve,
    CAST(list_sum(list_transform(generate_series(1, {n_bits}), j ->
      CASE WHEN list_dot_product(
             list_transform(mv, x -> CAST(x AS DOUBLE)),
             list_transform([{rows}][j], s -> CAST(s AS DOUBLE))) >= 0
           THEN (1::BIGINT << (j - 1)) ELSE 0 END)) AS BIGINT) AS srp
  FROM micro
), banded AS (
  SELECT vec_id, srp, ve, i AS bi, (srp >> (i * {width})) & {mask} AS bv
  FROM sig, unnest([0, 1, 2, 3]) AS t(i)
), probes AS (
  SELECT vec_id, srp, bi, xor(bv, f) AS bv
  FROM banded, unnest([0, {flips}]) AS fl(f)
), cand AS (
  SELECT DISTINCT p.vec_id AS id_a, r.vec_id AS id_b,
    bit_count(xor(p.srp, r.srp)) AS hamming,
    ROUND(list_dot_product(l.ve, r.ve)
          / (sqrt(list_dot_product(l.ve, l.ve))
             * sqrt(list_dot_product(r.ve, r.ve))), 4) AS score
  FROM probes p
  JOIN banded r ON p.bi = r.bi AND p.bv = r.bv AND p.vec_id < r.vec_id
  JOIN sig l ON l.vec_id = p.vec_id
)
SELECT id_a, id_b, CAST(hamming AS INT) AS hamming, score
FROM cand WHERE hamming <= 7 AND score >= 0.4
"""


def q_dedup_strategy_comparison(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The dedup-blocking scorecard, upgraded round 9: for every
    strategy over the same corpus — exact (md5 groups), MinHash-LSH
    (token-set locality), SimHash pigeonhole (Hamming locality),
    sorted-neighborhood + edit-distance (key + character locality),
    and PPJoin prefix-filter candidates (rarity-ordered blocking) —
    report the surfaced pair volume, how many of those pairs are TRUE
    near-dups (token Jaccard >= 3/5 within a source — the same
    source-partitioned truth as q_blocking_quality and
    q_prefix_jaccard_pairs; dedup at corpus scale always blocks on a
    coarse partition first), and the recall against that truth in
    exact ppm. The table a pipeline owner reads before picking a
    blocker: candidate volume vs truth coverage, from data.

    Calibration-on-a-sample, by design: the scorecard runs on a FIXED
    deterministic 40% md5-bucket slice of the corpus (the stateless
    hash-split discipline, same rule both engines). At 100 TB you
    never run all-pairs ground truth over the full corpus to pick a
    blocker — you calibrate the strategies on a reproducible sample
    (whose truth is quadratic in SAMPLE size only) and deploy the
    winner at scale; the sample rule makes the scorecard reproducible
    across engines, runs, and partitionings.

    The truth itself rides the proven-complete prefix filter
    (operators/dedup.prefix_filter_candidates; the q_prefix_jaccard_
    pairs oracle is the unfiltered all-pairs ground truth, so the
    candidate leg's recall is 1,000,000 ppm BY THEOREM and the query
    re-derives it from data). Each leg is an already-oracle-verified
    pipeline reduced to counts; no driver collect — the truth total
    joins in as a broadcast 1-row aggregate; all-integer ppm."""
    from radient_spark.operators.dedup import (
        prefix_filter_candidates,
        str_hash,
        token_pair_counts,
    )

    docs = (
        load_tables(spark, sf_dir)["documents"]
        .filter(
            str_hash(F.concat_ws("_", F.lit("blockcal"), F.col("doc_id")))
            % 10
            < 4
        )
        .select("doc_id", "source", "text")
        # One eager materialization of the 40% calibration sample: all 7
        # legs re-derive from docs (each would otherwise re-run the scan
        # + md5-sample filter AND re-analyze the full lineage), and the
        # checkpoint truncates the shared subtree the same way
        # q_entity_resolution's blocking pipeline does. Widen BEFORE the
        # checkpoint: a LogicalRDD carries no size stats, so the
        # fail-closed _widen_narrow_scan would leave the legs' row-local
        # pipelines on the scan's split count afterwards.
        .transform(_widen_narrow_scan)
        .localCheckpoint(eager=True)
    )
    toks = _widen_narrow_scan(
        docs.filter(F.length(F.trim("text")) > 0)
    ).select(
        "doc_id",
        "source",
        F.array_distinct(F.split(F.trim("text"), r"\s+")).alias("toks"),
    )
    cand = (
        prefix_filter_candidates(
            toks, id_col="doc_id", tokens_col="toks", t_num=3, t_den=5,
            part_col="source",
        )
        .select("id_a", "id_b")
        .cache()
    )
    # Truth rides the UNCAPPED source-partitioned posting join
    # (count-aggregated shared tokens), the measured-fastest exact path
    # on this corpus's small uniform vocabulary (SCALING.md); the
    # prefix-candidate leg above is the zipfian-scale path and its
    # completeness is re-proven by the recall column coming out at
    # exactly 1,000,000 ppm.
    truth = (
        token_pair_counts(toks, id_col="doc_id", part_col="source")
        .filter(
            F.lit(5) * F.col("shared")
            >= F.lit(3) * (F.col("na") + F.col("nb") - F.col("shared"))
        )
        .select("id_a", "id_b")
        .cache()
    )
    d = docs.select("doc_id", F.md5("text").alias("__h"))
    md5_pairs = (
        d.alias("x")
        .join(
            d.alias("y"),
            (F.col("x.__h") == F.col("y.__h"))
            & (F.col("x.doc_id") < F.col("y.doc_id")),
        )
        .select(
            F.col("x.doc_id").alias("id_a"), F.col("y.doc_id").alias("id_b")
        )
    )
    from radient_spark.operators.pandas_ops import winnowing_fingerprints

    win_sel = (
        winnowing_fingerprints(
            docs.filter(F.length("text") > 0), id_col="doc_id",
            text_col="text",
        )
        .select("doc_id", "fp")
        .distinct()
    )
    win_pairs = (
        win_sel.alias("wa")
        .join(
            win_sel.alias("wb"),
            (F.col("wa.fp") == F.col("wb.fp"))
            & (F.col("wa.doc_id") < F.col("wb.doc_id")),
        )
        .groupBy(
            F.col("wa.doc_id").alias("id_a"),
            F.col("wb.doc_id").alias("id_b"),
        )
        .agg(F.count(F.lit(1)).alias("__sf"))
        .filter(F.col("__sf") >= 3)
        .select("id_a", "id_b")
    )
    legs = [
        ("exact_md5", md5_pairs),
        ("jaccard_truth", truth),
        ("minhash_lsh", _minhash_pairs_from(docs).select("id_a", "id_b")),
        ("ppjoin_prefix_cand", cand.select("id_a", "id_b")),
        ("simhash_bands", _simhash_pairs_from(docs).select("id_a", "id_b")),
        (
            "snm_edit_distance",
            _edit_distance_pairs_from(docs).select("id_a", "id_b"),
        ),
        ("winnowing_fps", win_pairs),
    ]
    n_true = truth.agg(F.count(F.lit(1)).alias("__n_true"))
    # One pass per leg: a broadcast left join against the cached truth
    # pair set marks hits, and a single aggregate emits BOTH counts —
    # the old crossJoin of two 1-row aggregates referenced each leg's
    # pipeline twice (count branch + semi-join branch), recomputing
    # everything upstream of the first exchange.
    truth_marked = F.broadcast(
        truth.withColumn("__t", F.lit(1)).select("id_a", "id_b", "__t")
    )
    rows = None
    for name, pairs in legs:
        row = (
            pairs.distinct()
            .join(truth_marked, ["id_a", "id_b"], "left")
            .agg(
                F.count(F.lit(1)).alias("n_pairs"),
                F.count("__t").alias("n_truth_hits"),
            )
            .select(F.lit(name).alias("strategy"), "n_pairs", "n_truth_hits")
        )
        rows = row if rows is None else rows.unionAll(row)
    return (
        rows.crossJoin(F.broadcast(n_true))
        .select(
            "strategy",
            "n_pairs",
            "n_truth_hits",
            F.when(
                F.col("__n_true") > 0,
                F.expr("n_truth_hits * 1000000 div __n_true"),
            ).alias("recall_ppm"),
        )
        .orderBy("strategy")
    )


def _dedup_comparison_sql() -> str:
    # Every leg calibrates on the SAME deterministic 40% md5 sample as
    # the Spark side: the leg SQLs are the audited full-corpus oracles
    # re-based onto the sdocs CTE (each references `FROM documents`
    # exactly once; asserted below so a future leg edit cannot silently
    # escape the sample).
    minhash_sql = _minhash_dup_pairs_sql()
    simhash_sql = _Q_SIMHASH_PAIRS_SQL
    edit_sql = _edit_distance_sql()
    for leg in (minhash_sql, simhash_sql, edit_sql):
        assert leg.count("FROM documents") == 1
    minhash_sql = minhash_sql.replace("FROM documents", "FROM sdocs")
    simhash_sql = simhash_sql.replace("FROM documents", "FROM sdocs")
    edit_sql = edit_sql.replace("FROM documents", "FROM sdocs")
    return rf"""
WITH sdocs AS (
  SELECT * FROM documents
  WHERE ('0x' || substring(md5('blockcal_' || CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT % 10 < 4
), toks AS (
  SELECT doc_id, source,
    list_distinct(regexp_split_to_array(trim(text), '\s+')) AS t
  FROM sdocs WHERE length(trim(text)) > 0
), posting AS (
  SELECT doc_id, source, len(t) AS n, unnest(t) AS token FROM toks
), dfreq AS (
  SELECT source, token, COUNT(*) AS df FROM posting GROUP BY source, token
), ranked AS (
  SELECT p.doc_id, p.source, p.n, p.token,
    row_number() OVER (PARTITION BY p.source, p.doc_id
                       ORDER BY d.df, p.token) AS rn
  FROM posting p JOIN dfreq d USING (source, token)
), prefix AS (
  SELECT * FROM ranked WHERE rn <= n - ((3 * n + 4) // 5) + 1
), cand AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM prefix a JOIN prefix b
    ON a.source = b.source AND a.token = b.token AND a.doc_id < b.doc_id
  WHERE 3 * greatest(a.n, b.n) <= 5 * least(a.n, b.n)
), truth AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b
  FROM toks a JOIN toks b
    ON a.source = b.source AND a.doc_id < b.doc_id
  WHERE 5 * len(list_intersect(a.t, b.t))
        >= 3 * (len(a.t) + len(b.t) - len(list_intersect(a.t, b.t)))
), md5_pairs AS (
  SELECT DISTINCT x.doc_id AS id_a, y.doc_id AS id_b
  FROM sdocs x JOIN sdocs y
    ON md5(x.text) = md5(y.text) AND x.doc_id < y.doc_id
), minhash_pairs AS (
  SELECT DISTINCT id_a, id_b FROM ({minhash_sql})
), simhash_pairs AS (
  SELECT DISTINCT id_a, id_b FROM ({simhash_sql})
), snm_pairs AS (
  SELECT DISTINCT id_a, id_b FROM ({edit_sql})
), win_sel AS (
  SELECT DISTINCT doc_id, fp
  FROM ({_winnowing_fp_sql("sdocs WHERE length(text) > 0")})
), win_pairs AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b
  FROM win_sel a JOIN win_sel b ON a.fp = b.fp AND a.doc_id < b.doc_id
  GROUP BY 1, 2 HAVING COUNT(*) >= 3
), n_true AS (SELECT COUNT(*) AS n FROM truth),
legs AS (
  SELECT 'exact_md5' AS strategy,
    (SELECT COUNT(*) FROM md5_pairs) AS n_pairs,
    (SELECT COUNT(*) FROM md5_pairs p JOIN truth t
       ON p.id_a = t.id_a AND p.id_b = t.id_b) AS n_truth_hits
  UNION ALL
  SELECT 'jaccard_truth', (SELECT COUNT(*) FROM truth),
    (SELECT COUNT(*) FROM truth)
  UNION ALL
  SELECT 'minhash_lsh', (SELECT COUNT(*) FROM minhash_pairs),
    (SELECT COUNT(*) FROM minhash_pairs p JOIN truth t
       ON p.id_a = t.id_a AND p.id_b = t.id_b)
  UNION ALL
  SELECT 'ppjoin_prefix_cand', (SELECT COUNT(*) FROM cand),
    (SELECT COUNT(*) FROM cand p JOIN truth t
       ON p.id_a = t.id_a AND p.id_b = t.id_b)
  UNION ALL
  SELECT 'simhash_bands', (SELECT COUNT(*) FROM simhash_pairs),
    (SELECT COUNT(*) FROM simhash_pairs p JOIN truth t
       ON p.id_a = t.id_a AND p.id_b = t.id_b)
  UNION ALL
  SELECT 'snm_edit_distance', (SELECT COUNT(*) FROM snm_pairs),
    (SELECT COUNT(*) FROM snm_pairs p JOIN truth t
       ON p.id_a = t.id_a AND p.id_b = t.id_b)
  UNION ALL
  SELECT 'winnowing_fps', (SELECT COUNT(*) FROM win_pairs),
    (SELECT COUNT(*) FROM win_pairs p JOIN truth t
       ON p.id_a = t.id_a AND p.id_b = t.id_b)
)
SELECT strategy, CAST(n_pairs AS BIGINT) AS n_pairs,
  CAST(n_truth_hits AS BIGINT) AS n_truth_hits,
  CASE WHEN (SELECT n FROM n_true) > 0
       THEN CAST(n_truth_hits * 1000000 // (SELECT n FROM n_true) AS BIGINT)
  END AS recall_ppm
FROM legs ORDER BY strategy
"""


def q_source_freshness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Feed-freshness monitor: per event type, the last event seen,
    its staleness in minutes behind the freshest feed, and volume in
    the trailing 24 h of stream time — the first dashboard a pipeline
    operator checks when a producer dies quietly. One aggregate pass +
    a broadcast of the 1-row global max; integer epoch arithmetic."""
    ev = load_tables(spark, sf_dir)["events"]
    ms = F.unix_millis(F.col("ts").cast("timestamp"))
    per_type = ev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.max("ts").alias("last_seen"),
        F.max(ms).alias("__last_ms"),
    )
    gmax = ev.agg(F.max(ms).alias("__gmax"))
    day_ms = 24 * 3600 * 1000
    trailing = (
        ev.crossJoin(F.broadcast(gmax))
        .filter(ms > F.col("__gmax") - day_ms)
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n_last_day"))
    )
    return (
        per_type.crossJoin(F.broadcast(gmax))
        .join(trailing, "event_type", "left")
        .select(
            "event_type",
            "n_events",
            "last_seen",
            F.expr("(__gmax - __last_ms) div 60000").alias(
                "staleness_minutes"
            ),
            F.coalesce(F.col("n_last_day"), F.lit(0)).alias("n_last_day"),
        )
        .orderBy("event_type")
    )


_Q_FRESHNESS_SQL = """
WITH g AS (SELECT MAX(epoch_ms(ts)) AS gmax FROM events),
per_type AS (
  SELECT event_type, COUNT(*) AS n_events, MAX(ts) AS last_seen,
         MAX(epoch_ms(ts)) AS last_ms
  FROM events GROUP BY event_type
),
recent AS (
  SELECT event_type, COUNT(*) AS n_last_day
  FROM events, g WHERE epoch_ms(ts) > g.gmax - 86400000
  GROUP BY event_type
)
SELECT p.event_type, p.n_events, p.last_seen,
  (g.gmax - p.last_ms) // 60000 AS staleness_minutes,
  CAST(COALESCE(t.n_last_day, 0) AS BIGINT) AS n_last_day
FROM per_type p CROSS JOIN g
LEFT JOIN recent t ON p.event_type = t.event_type
ORDER BY p.event_type
"""


def q_session_bounce_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounce-rate analytics: per weekday, sessions that contained a
    single event vs total sessions — the engagement ratio the session
    family (funnel, paths, transitions) reports on. Sessionization
    shares the standard 30-minute user windows; the ratio is one
    rounded division of exact counts."""
    ev = load_tables(spark, sf_dir)["events"]
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    flagged = (
        ev.withColumn("prev_ts", F.lag("ts").over(w))
        .withColumn(
            "new_session",
            F.when(
                F.col("prev_ts").isNull()
                | (
                    F.col("ts")
                    > F.col("prev_ts") + F.expr("INTERVAL 30 MINUTES")
                ),
                1,
            ).otherwise(0),
        )
        .withColumn("session_id", F.sum("new_session").over(w))
    )
    sessions = flagged.groupBy("user_id", "session_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.min("ts").alias("start_ts"),
    )
    return (
        sessions.groupBy(F.dayofweek("start_ts").alias("weekday"))
        .agg(
            F.count(F.lit(1)).alias("n_sessions"),
            F.sum((F.col("n_events") == 1).cast("long")).alias("n_bounces"),
            F.round(
                F.sum((F.col("n_events") == 1).cast("long")).cast("double")
                / F.count(F.lit(1)),
                6,
            ).alias("bounce_rate"),
        )
        .orderBy("weekday")
    )


_Q_BOUNCE_SQL = """
WITH flagged AS (
  SELECT user_id, ts,
    SUM(CASE WHEN prev_ts IS NULL
             OR ts > prev_ts + INTERVAL 30 MINUTE THEN 1 ELSE 0 END)
      OVER (PARTITION BY user_id ORDER BY ts, event_id) AS session_id
  FROM (
    SELECT *, LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
      AS prev_ts
    FROM events
  )
), sessions AS (
  SELECT user_id, session_id, COUNT(*) AS n_events, MIN(ts) AS start_ts
  FROM flagged GROUP BY user_id, session_id
)
SELECT CAST(dayofweek(start_ts) + 1 AS INT) AS weekday,
  COUNT(*) AS n_sessions,
  CAST(SUM(CASE WHEN n_events = 1 THEN 1 ELSE 0 END) AS BIGINT)
    AS n_bounces,
  ROUND(CAST(SUM(CASE WHEN n_events = 1 THEN 1 ELSE 0 END) AS DOUBLE)
        / COUNT(*), 6) AS bounce_rate
FROM sessions GROUP BY 1 ORDER BY weekday
"""


def q_repeat_purchase_interval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Repeat-purchase cadence: exact p50/p90 of the gap (in minutes)
    between a user's consecutive purchases — lag windows feeding the
    distributed order-statistic engine; the retention metric behind
    replenishment forecasting. Integer epoch arithmetic end to end."""
    from radient_spark.operators.dataset import histogram_order_statistic

    ev = load_tables(spark, sf_dir)["events"]
    purchases = ev.filter(F.col("event_type") == "purchase")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    ms = F.unix_millis(F.col("ts").cast("timestamp"))
    gaps = (
        purchases.withColumn("prev_ms", F.lag(ms).over(w))
        .filter(F.col("prev_ms").isNotNull())
        .select(
            F.lit("all").alias("cohort"),
            F.expr(
                "(unix_millis(cast(ts as timestamp)) - prev_ms) div 60000"
            ).alias("gap_minutes"),
        )
    )
    # integer-minute gaps are bounded by the feed horizon, not the row
    # count -> histogram order statistics (round 8)
    hist = gaps.groupBy("cohort", "gap_minutes").agg(
        F.count(F.lit(1)).alias("c")
    )
    wide = histogram_order_statistic(
        hist, "cohort", "gap_minutes", qs=[0.5, 0.9], out_cols=["q50", "q90"]
    )
    return wide.selectExpr(
        "cohort",
        "stack(2, 0.5D, q50, 0.9D, q90) AS (q, gap_minutes)",
    ).select(
        "cohort", "q", F.col("gap_minutes").cast("long").alias("gap_minutes")
    ).orderBy("q")


_Q_REPEAT_PURCHASE_SQL = """
WITH gaps AS (
  SELECT 'all' AS cohort,
    (epoch_ms(ts) - epoch_ms(LAG(ts) OVER (
       PARTITION BY user_id ORDER BY ts, event_id))) // 60000 AS gap_minutes
  FROM events WHERE event_type = 'purchase'
), g2 AS (
  SELECT cohort, gap_minutes FROM gaps WHERE gap_minutes IS NOT NULL
), ranked AS (
  SELECT cohort, gap_minutes,
    row_number() OVER (PARTITION BY cohort ORDER BY gap_minutes) AS rn,
    COUNT(*) OVER (PARTITION BY cohort) AS n
  FROM g2
)
SELECT cohort, q, CAST(MAX(v) AS BIGINT) AS gap_minutes FROM (
  SELECT cohort, CAST(0.5 AS DOUBLE) AS q,
    CASE WHEN rn = GREATEST(1, CAST(ceil(0.5 * n) AS BIGINT))
         THEN gap_minutes END AS v
  FROM ranked
  UNION ALL
  SELECT cohort, CAST(0.9 AS DOUBLE),
    CASE WHEN rn = GREATEST(1, CAST(ceil(0.9 * n) AS BIGINT))
         THEN gap_minutes END
  FROM ranked
) GROUP BY cohort, q ORDER BY q
"""


def q_uniform_sample_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-k uniform sample (operators/dataset.py
    uniform_sample_exact_k): the k smallest portable md5 ranks —
    deterministic reservoir-equivalent sampling whose physical plan is
    TakeOrderedAndProject (per-partition top-k, no global sort)."""
    from radient_spark.operators.dataset import uniform_sample_exact_k

    docs = load_tables(spark, sf_dir)["documents"]
    return (
        uniform_sample_exact_k(docs, "doc_id", k=200, seed=42)
        .select("doc_id", "source", "sample_rank")
        .orderBy("sample_rank", "doc_id")
    )


_Q_UNIFORM_SAMPLE_SQL = """
SELECT doc_id, source,
  ('0x' || substring(md5('42_' || CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT
    AS sample_rank
FROM documents
ORDER BY sample_rank, doc_id
LIMIT 200
"""


def q_partition_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Layout advisor (operators/dataset.py partition_plan): per-source
    file plan at a 64 KiB target (scaled stand-in for the 128 MiB
    production target) + row-size skew ratio."""
    from radient_spark.operators.dataset import partition_plan

    docs = load_tables(spark, sf_dir)["documents"]
    return partition_plan(
        docs, "source", F.col("n_chars"), target_bytes=65536
    ).orderBy("source")


_Q_PARTITION_PLAN_SQL = """
WITH agg AS (
  SELECT source, COUNT(*) AS n_rows, SUM(n_chars) AS total_bytes,
         MAX(n_chars) AS max_row_bytes
  FROM documents GROUP BY source
), plan AS (
  SELECT source, n_rows, CAST(total_bytes AS BIGINT) AS total_bytes,
    GREATEST(1, CAST(ceil(total_bytes / 65536.0) AS BIGINT)) AS n_files,
    max_row_bytes
  FROM agg
)
SELECT source, n_rows, total_bytes, n_files,
  CAST(ceil(CAST(n_rows AS DOUBLE) / n_files) AS BIGINT) AS rows_per_file,
  round(CAST(max_row_bytes AS DOUBLE) * CAST(n_rows AS DOUBLE)
        / CAST(total_bytes AS DOUBLE), 6) AS skew_ratio
FROM plan ORDER BY source
"""


def q_heaps_law(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary-growth audit (Heaps' law): per-source total tokens N,
    distinct tokens D, and type-token ratio, plus one __ALL__ row
    carrying the Heaps exponent beta — the OLS slope of ln D on ln N
    across sources (natural corpora: beta in ~0.4-0.7; token soup
    drifts toward 1).  ln values quantize to the integer micro-lattice
    (round(ln*1e6) — the zipf/trend-regression discipline) so moment
    sums are exact DECIMAL; the slope is one final IEEE division
    rounded to 6.

    Scale shape: one explode + two map-side-combined aggregates; the
    regression runs over the source-count-sized table."""
    from radient_spark.functions import text as X

    docs = load_tables(spark, sf_dir)["documents"]
    per_src = (
        docs.select("source", F.explode(X.tokens(F.col("text"))).alias("tok"))
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.countDistinct("tok").alias("n_distinct"),
        )
    )
    dec = "decimal(38,0)"
    xl = F.round(F.log(F.col("n_tokens").cast("double")) * 1e6, 0).cast("long")
    yl = F.round(F.log(F.col("n_distinct").cast("double")) * 1e6, 0).cast(
        "long"
    )
    m = per_src.agg(
        F.count(F.lit(1)).cast(dec).alias("n"),
        F.sum(xl.cast(dec)).alias("sx"),
        F.sum(yl.cast(dec)).alias("sy"),
        F.sum((xl * xl).cast(dec)).alias("sxx"),
        F.sum((xl * yl).cast(dec)).alias("sxy"),
        F.sum("n_tokens").alias("tot_n"),
        F.sum(F.col("n_distinct")).alias("tot_d"),
    )
    beta = F.round(
        (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")).cast("double")
        / (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")).cast(
            "double"
        ),
        6,
    )
    ttr = lambda d, n: F.round(  # noqa: E731
        d.cast("double") / n.cast("double"), 6
    )
    src_rows = per_src.select(
        F.col("source").alias("scope"),
        "n_tokens",
        "n_distinct",
        ttr(F.col("n_distinct"), F.col("n_tokens")).alias("ttr"),
        F.lit(None).cast("double").alias("heaps_beta"),
    )
    all_row = m.select(
        F.lit("__ALL__").alias("scope"),
        F.col("tot_n").cast("long").alias("n_tokens"),
        F.col("tot_d").cast("long").alias("n_distinct"),
        ttr(F.col("tot_d"), F.col("tot_n")).alias("ttr"),
        beta.alias("heaps_beta"),
    )
    return src_rows.unionByName(all_row).orderBy("scope")


_Q_HEAPS_SQL = r"""
WITH tok AS (
  SELECT source, unnest(regexp_split_to_array(trim(text), '\s+')) AS tok
  FROM documents WHERE length(trim(text)) > 0
), per_src AS (
  SELECT source, COUNT(*) AS n_tokens, COUNT(DISTINCT tok) AS n_distinct
  FROM tok GROUP BY source
), lat AS (
  SELECT source, n_tokens, n_distinct,
    CAST(round(ln(CAST(n_tokens AS DOUBLE)) * 1e6, 0) AS BIGINT) AS xl,
    CAST(round(ln(CAST(n_distinct AS DOUBLE)) * 1e6, 0) AS BIGINT) AS yl
  FROM per_src
), m AS (
  SELECT CAST(COUNT(*) AS DECIMAL(38,0)) AS n,
    CAST(SUM(CAST(xl AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS sx,
    CAST(SUM(CAST(yl AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS sy,
    CAST(SUM(CAST(xl AS DECIMAL(38,0)) * xl) AS DECIMAL(38,0)) AS sxx,
    CAST(SUM(CAST(xl AS DECIMAL(38,0)) * yl) AS DECIMAL(38,0)) AS sxy,
    CAST(SUM(n_tokens) AS BIGINT) AS tot_n,
    CAST(SUM(n_distinct) AS BIGINT) AS tot_d
  FROM lat
)
SELECT source AS scope, n_tokens, n_distinct,
  round(CAST(n_distinct AS DOUBLE) / CAST(n_tokens AS DOUBLE), 6) AS ttr,
  CAST(NULL AS DOUBLE) AS heaps_beta
FROM per_src
UNION ALL
SELECT '__ALL__', tot_n, tot_d,
  round(CAST(tot_d AS DOUBLE) / CAST(tot_n AS DOUBLE), 6),
  round(CAST(n * sxy - sx * sy AS DOUBLE)
        / CAST(n * sxx - sx * sx AS DOUBLE), 6)
FROM m
ORDER BY scope
"""


def q_pii_luhn_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Payment-card PII audit (operators/quality.py card_number_audit):
    the corpus contains no digit runs, so card-like numbers are
    synthesized deterministically (the q_pii_scrub_stats discipline) —
    a Luhn-VALID PAN on doc_id%4==0, an invalid 16-digit run on
    %4==1, a too-short run on %4==2 — then maximal digit runs are
    extracted, 13-19-digit candidates Luhn-folded, and counts
    reported per source.  The Luhn checksum arithmetic is reproduced
    digit-for-digit in the DuckDB oracle."""
    from radient_spark.operators.quality import card_number_audit

    docs = load_tables(spark, sf_dir)["documents"]
    salted = docs.withColumn(
        "text",
        F.concat(
            F.col("text"),
            F.when(
                F.col("doc_id") % 4 == 0, F.lit(" card 4539578763621486 ok")
            )
            .when(
                F.col("doc_id") % 4 == 1, F.lit(" ref 4539578763621487 end")
            )
            .when(F.col("doc_id") % 4 == 2, F.lit(" id 123456789 short"))
            .otherwise(F.lit("")),
        ),
    )
    return card_number_audit(salted, "text", "source").orderBy("source")


_Q_LUHN_SQL = r"""
WITH salted AS (
  SELECT source,
    text || CASE
      WHEN doc_id % 4 = 0 THEN ' card 4539578763621486 ok'
      WHEN doc_id % 4 = 1 THEN ' ref 4539578763621487 end'
      WHEN doc_id % 4 = 2 THEN ' id 123456789 short'
      ELSE '' END AS text
  FROM documents
), runs AS (
  SELECT source,
    list_filter(regexp_extract_all(text, '\d+'),
                s -> length(s) BETWEEN 13 AND 19) AS cands
  FROM salted
), per_doc AS (
  SELECT source, len(cands) AS n_runs,
    len(list_filter(cands, s ->
      list_sum(list_transform(range(1, length(s) + 1), i ->
        CASE WHEN i % 2 = 0 THEN
          CASE WHEN 2 * CAST(reverse(s)[i] AS INT) > 9
               THEN 2 * CAST(reverse(s)[i] AS INT) - 9
               ELSE 2 * CAST(reverse(s)[i] AS INT) END
        ELSE CAST(reverse(s)[i] AS INT) END)) % 10 = 0
    )) AS n_valid
  FROM runs
)
SELECT source,
  CAST(SUM(n_runs) AS BIGINT) AS n_card_candidates,
  CAST(SUM(n_valid) AS BIGINT) AS n_luhn_valid,
  CAST(SUM(CASE WHEN n_valid > 0 THEN 1 ELSE 0 END) AS BIGINT)
    AS n_docs_with_valid
FROM per_doc GROUP BY source ORDER BY source
"""


def q_c4_line_filter_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4-style line-level cleaning scorecard (operators/quality.py
    c4_line_classify): documents carry no newlines, so line structure
    is synthesized deterministically — line 1 = first 8 tokens + '.',
    line 2 = tokens 9-14 (no terminal punctuation), a banned
    cookie-notice line on doc_id%7==0, and a duplicate of line 1 on
    doc_id%5==0 — then every line is classified
    banned/short/no_punct/dup/kept (corpus-wide first-occurrence
    dedup, C4's rule) and counts roll up per source."""
    from radient_spark.operators.quality import c4_line_classify

    docs = load_tables(spark, sf_dir)["documents"]
    toks = F.split(F.trim(F.col("text")), r"\s+")
    l1 = F.concat(F.array_join(F.slice(toks, 1, 8), " "), F.lit("."))
    l2 = F.array_join(F.slice(toks, 9, 6), " ")
    lined = docs.withColumn(
        "text",
        F.concat_ws(
            "\n",
            l1,
            l2,
            F.when(
                F.col("doc_id") % 7 == 0,
                F.lit("this site uses cookie tracking."),
            ),
            F.when(F.col("doc_id") % 5 == 0, l1),
        ),
    )
    classified = c4_line_classify(
        lined, "text", "doc_id", min_words=5
    ).join(docs.select("doc_id", "source"), "doc_id")
    return (
        classified.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_lines"),
            F.sum((F.col("status") == "kept").cast("long")).alias("n_kept"),
            F.sum((F.col("status") == "dup").cast("long")).alias("n_dup"),
            F.sum((F.col("status") == "banned").cast("long")).alias(
                "n_banned"
            ),
            F.sum((F.col("status") == "short").cast("long")).alias("n_short"),
            F.sum((F.col("status") == "no_punct").cast("long")).alias(
                "n_no_punct"
            ),
            F.sum(
                F.when(F.col("status") == "kept", F.length("line")).otherwise(
                    0
                )
            ).alias("chars_kept"),
        )
        .orderBy("source")
    )


_Q_C4_SQL = r"""
WITH toks AS (
  SELECT doc_id, source, regexp_split_to_array(trim(text), '\s+') AS tk
  FROM documents
), lined AS (
  SELECT doc_id, source,
    concat_ws(chr(10),
      array_to_string(tk[1:8], ' ') || '.',
      array_to_string(tk[9:14], ' '),
      CASE WHEN doc_id % 7 = 0 THEN 'this site uses cookie tracking.' END,
      CASE WHEN doc_id % 5 = 0
           THEN array_to_string(tk[1:8], ' ') || '.' END
    ) AS text
  FROM toks
), lines AS (
  SELECT doc_id, source,
    generate_subscripts(regexp_split_to_array(text, chr(10)), 1) - 1
      AS line_idx,
    unnest(regexp_split_to_array(text, chr(10))) AS line
  FROM lined
), pre AS (
  SELECT doc_id, source, line_idx, line,
    CASE
      WHEN lower(line) LIKE '%cookie%' OR lower(line) LIKE '%javascript%'
        OR lower(line) LIKE '%lorem ipsum%'
        OR lower(line) LIKE '%terms of use%' THEN 'banned'
      WHEN CASE WHEN length(trim(line)) = 0 THEN 0
                ELSE len(regexp_split_to_array(trim(line), '\s+')) END < 5
        THEN 'short'
      WHEN NOT (rtrim(line) LIKE '%.' OR rtrim(line) LIKE '%!'
                OR rtrim(line) LIKE '%?' OR rtrim(line) LIKE '%"')
        THEN 'no_punct'
    END AS pre
  FROM lines
), survivors AS (
  SELECT doc_id, source, line_idx, line,
    CASE WHEN row_number() OVER (
        PARTITION BY md5(line) ORDER BY doc_id, line_idx) = 1
      THEN 'kept' ELSE 'dup' END AS status
  FROM pre WHERE pre IS NULL
), classified AS (
  SELECT doc_id, source, line, status FROM survivors
  UNION ALL
  SELECT doc_id, source, line, pre FROM pre WHERE pre IS NOT NULL
)
SELECT source, COUNT(*) AS n_lines,
  CAST(SUM(CASE WHEN status = 'kept' THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
  CAST(SUM(CASE WHEN status = 'dup' THEN 1 ELSE 0 END) AS BIGINT) AS n_dup,
  CAST(SUM(CASE WHEN status = 'banned' THEN 1 ELSE 0 END) AS BIGINT)
    AS n_banned,
  CAST(SUM(CASE WHEN status = 'short' THEN 1 ELSE 0 END) AS BIGINT)
    AS n_short,
  CAST(SUM(CASE WHEN status = 'no_punct' THEN 1 ELSE 0 END) AS BIGINT)
    AS n_no_punct,
  CAST(SUM(CASE WHEN status = 'kept' THEN length(line) ELSE 0 END)
    AS BIGINT) AS chars_kept
FROM classified GROUP BY source ORDER BY source
"""


def q_scd2_incremental_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental SCD2 maintenance (operators/merge.py scd2_merge):
    history is built from pre-1995 observations, the 1995+ batch is
    MERGED in (untouched keys pass through; touched keys re-run
    gaps-and-islands over collapsed runs + new rows), and the result
    must be row-identical to the full recompute — which IS the DuckDB
    oracle (the same SQL as q_scd2_status_history).  This is the
    equivalence contract of warehouse nightly merges: delta-cost
    maintenance, full-rebuild semantics."""
    from radient_spark.operators.merge import scd2_history, scd2_merge

    orders = load_tables(spark, sf_dir)["orders"].filter(
        F.col("o_custkey") % 5 == 0
    )
    cut = F.lit("1995-01-01").cast("date")
    history = scd2_history(
        orders.filter(F.col("o_orderdate") < cut),
        "o_custkey",
        "o_orderstatus",
        "o_orderdate",
        "o_orderkey",
    )
    merged = scd2_merge(
        history,
        orders.filter(F.col("o_orderdate") >= cut),
        "o_custkey",
        "o_orderstatus",
        "o_orderdate",
        "o_orderkey",
    )
    return merged.orderBy("o_custkey", "version")


def q_golden_record(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Survivorship / golden record (operators/merge.py golden_record):
    collapse every customer's order observations into one master row —
    most-recent status, max price, first-seen date, and the modal
    order priority (count desc, value asc — deterministic) — the
    merge-rules step master-data pipelines run after entity
    resolution.  argmax rides max-of-struct (no window, no join);
    mode adds one (cluster, value) count aggregate."""
    from radient_spark.operators.merge import golden_record

    orders = (
        load_tables(spark, sf_dir)["orders"]
        .filter(F.col("o_custkey") % 7 == 0)
        .select(
            F.col("o_custkey"),
            F.col("o_orderdate"),
            F.col("o_orderkey"),
            F.col("o_orderstatus").alias("latest_status"),
            F.col("o_totalprice").alias("max_price"),
            F.col("o_orderdate").alias("first_seen"),
            F.col("o_orderpriority").alias("top_priority"),
        )
    )
    return golden_record(
        orders,
        "o_custkey",
        {
            "latest_status": "most_recent",
            "max_price": "max",
            "first_seen": "min",
            "top_priority": "mode",
        },
        "o_orderdate",
        "o_orderkey",
    ).orderBy("o_custkey")


_Q_GOLDEN_SQL = """
WITH obs AS (
  SELECT * FROM orders WHERE o_custkey % 7 = 0
), latest AS (
  SELECT o_custkey, o_orderstatus AS latest_status FROM (
    SELECT o_custkey, o_orderstatus,
      row_number() OVER (PARTITION BY o_custkey
        ORDER BY o_orderdate DESC, o_orderkey DESC) AS rn
    FROM obs
  ) WHERE rn = 1
), extremes AS (
  SELECT o_custkey, MAX(o_totalprice) AS max_price,
         MIN(o_orderdate) AS first_seen
  FROM obs GROUP BY o_custkey
), modal AS (
  SELECT o_custkey, o_orderpriority AS top_priority FROM (
    SELECT o_custkey, o_orderpriority,
      row_number() OVER (PARTITION BY o_custkey
        ORDER BY COUNT(*) DESC, o_orderpriority ASC) AS rn
    FROM obs GROUP BY o_custkey, o_orderpriority
  ) WHERE rn = 1
)
SELECT l.o_custkey, l.latest_status, e.max_price, e.first_seen,
       m.top_priority
FROM latest l JOIN extremes e ON l.o_custkey = e.o_custkey
JOIN modal m ON l.o_custkey = m.o_custkey
ORDER BY l.o_custkey
"""


def q_retrieval_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Index-quality scorecard (operators/topk.py retrieval_metrics):
    recall@10 and MRR of the SQ8-quantized ADC search against exact
    cosine top-10, for the first 10 corpus vectors as queries — the
    evaluation that justifies shipping a 4x-compressed index.  The
    corpus is scanned once per side (batch ADC via broadcast weights;
    exact via broadcast query join); metrics are one key join +
    groupBy over 100 candidate rows."""
    from radient_spark.ann import _rerank_topk
    from radient_spark.operators.quantize import sq8_minmax, sq8_topk_batch
    from radient_spark.operators.topk import retrieval_metrics

    emb = load_tables(spark, sf_dir)["embeddings"]
    rows = (
        emb.orderBy("vec_id")
        .limit(10)
        .select("vec_id", "embedding")
        .collect()
    )
    queries = [(int(r["vec_id"]), list(r["embedding"])) for r in rows]
    qdf = local_frame(
        spark,
        [(q, [float(x) for x in v]) for q, v in queries],
        "qid long, qvec array<float>",
    )
    corpus = emb.select(
        F.col("vec_id").alias("id"), F.col("embedding").alias("vector")
    )
    truth = _rerank_topk(corpus.join(F.broadcast(qdf)), 10, "cosine")
    stats = sq8_minmax(emb, "embedding")
    cand = sq8_topk_batch(emb, stats, queries, k=10)
    return retrieval_metrics(cand, truth, k=10).orderBy("qid")


_Q_RETRIEVAL_METRICS_SQL = """
WITH q AS (
  SELECT vec_id AS qid, embedding AS qvec
  FROM embeddings ORDER BY vec_id LIMIT 10
), truth AS (
  SELECT qid, id FROM (
    SELECT q.qid, e.vec_id AS id,
      row_number() OVER (PARTITION BY q.qid ORDER BY
        round(list_dot_product(e.embedding::DOUBLE[], q.qvec::DOUBLE[])
          / (sqrt(list_dot_product(e.embedding::DOUBLE[],
                                   e.embedding::DOUBLE[]))
             * sqrt(list_dot_product(q.qvec::DOUBLE[], q.qvec::DOUBLE[]))),
          6) DESC, e.vec_id ASC) AS rn
    FROM embeddings e CROSS JOIN q
  ) WHERE rn <= 10
), dims AS (
  SELECT vec_id, generate_subscripts(embedding, 1) AS dim,
         unnest(embedding)::DOUBLE AS v
  FROM embeddings
), stats AS (
  SELECT dim, MIN(v) AS mn, MAX(v) AS mx FROM dims GROUP BY dim
), codes AS (
  SELECT vec_id, d.dim,
    CASE WHEN mx = mn THEN 0
         ELSE GREATEST(0, LEAST(255,
                FLOOR((v - mn) * 255.0 / (mx - mn) + 0.5)))::BIGINT
    END AS c
  FROM dims d JOIN stats USING (dim)
), qdims AS (
  SELECT qid, generate_subscripts(qvec, 1) AS dim,
         unnest(qvec)::DOUBLE AS qx
  FROM q
), wts AS (
  SELECT qid, qdims.dim,
    CASE WHEN mx = mn THEN 0.0 ELSE qx * (mx - mn) / 255.0 END AS wt
  FROM qdims JOIN stats ON qdims.dim = stats.dim
), cand AS (
  SELECT qid, id, rnk AS rank FROM (
    SELECT w.qid, codes.vec_id AS id,
      row_number() OVER (PARTITION BY w.qid ORDER BY
        SUM((CAST(codes.c::DOUBLE * w.wt AS DECIMAL(18,6))
             * 1000000)::BIGINT) DESC, codes.vec_id ASC) AS rnk
    FROM codes JOIN wts w ON codes.dim = w.dim
    GROUP BY w.qid, codes.vec_id
  ) WHERE rnk <= 10
), graded AS (
  SELECT c.qid, c.rank,
    CASE WHEN t.id IS NOT NULL THEN 1 ELSE 0 END AS rel
  FROM cand c LEFT JOIN truth t ON c.qid = t.qid AND c.id = t.id
)
SELECT qid,
  round(CAST(SUM(rel) AS DOUBLE) / 10.0, 6) AS recall_at_k,
  COALESCE(round(1.0 / CAST(MIN(CASE WHEN rel = 1 THEN rank END)
                            AS DOUBLE), 6), 0.0) AS mrr
FROM graded GROUP BY qid ORDER BY qid
"""


def q_domain_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-mixture reweighting (operators/dataset.py
    domain_mixture_weights): 3 multiplicative-weights rounds over
    per-source lexical-diversity losses (loss = 1 - TTR on the integer
    micro-lattice) — the DoReMi-style step that turns per-domain
    quality signals into mixture proportions.  All-round arithmetic is
    exact integer (nonnegative floor-divs only); the single float is
    the final normalization, so the unrolled DuckDB oracle
    hash-matches."""
    from radient_spark.functions import text as X
    from radient_spark.operators.dataset import domain_mixture_weights

    docs = load_tables(spark, sf_dir)["documents"]
    per_src = (
        docs.select("source", F.explode(X.tokens(F.col("text"))).alias("tok"))
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.countDistinct("tok").alias("n_distinct"),
        )
    )
    return domain_mixture_weights(
        per_src,
        "source",
        F.expr("((n_tokens - n_distinct) * 1000000) div n_tokens"),
        rounds=3,
    ).orderBy("source")


_Q_DOMAIN_MIX_SQL = r"""
WITH tok AS (
  SELECT source, unnest(regexp_split_to_array(trim(text), '\s+')) AS tok
  FROM documents WHERE length(trim(text)) > 0
), per_src AS (
  SELECT source, COUNT(*) AS n_tokens, COUNT(DISTINCT tok) AS n_distinct
  FROM tok GROUP BY source
), base0 AS (
  SELECT source,
    CAST(((n_tokens - n_distinct) * 1000000) // n_tokens AS BIGINT)
      AS loss_lat,
    CAST(1000000 AS BIGINT) AS w
  FROM per_src
), t1 AS (
  SELECT CAST(SUM(w) AS BIGINT) AS sw,
         CAST(SUM(w * loss_lat) AS BIGINT) AS swl FROM base0
), base1 AS (
  SELECT source, loss_lat,
    CAST((w * (2000000 - ((loss_lat - (swl // sw) + 2000000) // 2)))
         // 1000000 AS BIGINT) AS w
  FROM base0, t1
), t2 AS (
  SELECT CAST(SUM(w) AS BIGINT) AS sw,
         CAST(SUM(w * loss_lat) AS BIGINT) AS swl FROM base1
), base2 AS (
  SELECT source, loss_lat,
    CAST((w * (2000000 - ((loss_lat - (swl // sw) + 2000000) // 2)))
         // 1000000 AS BIGINT) AS w
  FROM base1, t2
), t3 AS (
  SELECT CAST(SUM(w) AS BIGINT) AS sw,
         CAST(SUM(w * loss_lat) AS BIGINT) AS swl FROM base2
), base3 AS (
  SELECT source, loss_lat,
    CAST((w * (2000000 - ((loss_lat - (swl // sw) + 2000000) // 2)))
         // 1000000 AS BIGINT) AS w
  FROM base2, t3
), tot AS (
  SELECT CAST(SUM(w) AS BIGINT) AS tw FROM base3
)
SELECT source, loss_lat,
  round(CAST(w AS DOUBLE) / CAST(tw AS DOUBLE), 6) AS mix_weight
FROM base3, tot ORDER BY source
"""


def q_frequent_part_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket mining (operators/itemsets.py frequent_pairs):
    parts co-ordered within an order, Apriori-pruned before the basket
    self-join, with support/confidence/lift — top 50 rules by pair
    support."""
    from radient_spark.operators.itemsets import frequent_pairs

    li = load_tables(spark, sf_dir)["lineitem"]
    return (
        frequent_pairs(li, "l_orderkey", "l_partkey", min_support=2)
        .orderBy(
            F.col("pair_support").desc(),
            F.col("item_a").asc(),
            F.col("item_b").asc(),
        )
        .limit(50)
    )


_Q_FREQ_PAIRS_SQL = """
WITH items AS (
  SELECT DISTINCT l_orderkey AS basket, l_partkey AS item FROM lineitem
), supports AS (
  SELECT item, COUNT(*) AS support FROM items GROUP BY item
), frequent AS (
  SELECT item, support FROM supports WHERE support >= 2
), pruned AS (
  SELECT basket, item FROM items SEMI JOIN frequent USING (item)
), pairs AS (
  SELECT a.item AS item_a, b.item AS item_b, COUNT(*) AS pair_support
  FROM pruned a JOIN pruned b
    ON a.basket = b.basket AND a.item < b.item
  GROUP BY a.item, b.item
  HAVING COUNT(*) >= 2
), nb AS (
  SELECT COUNT(DISTINCT basket) AS n_baskets FROM items
)
SELECT item_a, item_b,
  fa.support AS support_a, fb.support AS support_b, pair_support,
  round(CAST(pair_support AS DOUBLE) / CAST(fa.support AS DOUBLE), 6)
    AS confidence,
  round(CAST(pair_support * n_baskets AS DOUBLE)
        / CAST(fa.support * fb.support AS DOUBLE), 6) AS lift
FROM pairs
JOIN frequent fa ON pairs.item_a = fa.item
JOIN frequent fb ON pairs.item_b = fb.item
CROSS JOIN nb
ORDER BY pair_support DESC, item_a ASC, item_b ASC
LIMIT 50
"""


def q_classifier_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reliability diagram for the Catalyst-served quality classifier
    (operators/classify.py + q_quality_classifier_scores): score
    deciles (exact NTILE via the distributed range-bucket engine — no
    single-reducer sort) vs the realized positive rate, positives
    defined as lang == 'en'.  The MLOps table that says whether a
    score of 0.9 means 90%: per decile, doc count, positive count,
    positive rate (one rounded division), and the exact integer score
    mass."""
    from radient_spark.functions import text as X
    from radient_spark.operators.classify import linear_classifier_score
    from radient_spark.operators.dataset import distributed_ntile

    dim = 64
    weights = [float((i * 2654435761) % 1001 - 500) for i in range(dim)]
    docs = (
        load_tables(spark, sf_dir)["documents"]
        .filter(F.length(F.trim("text")) > 0)
        .select("doc_id", "lang", "text")
    )
    scored = linear_classifier_score(
        docs, weights, bias=0.0, out_col="__raw", mean=False
    ).select(
        "doc_id",
        (F.col("lang") == "en").cast("long").alias("is_pos"),
        F.col("__raw").cast("long").alias("total_w"),
    )
    deciled = distributed_ntile(
        scored,
        10,
        [F.col("total_w").desc(), F.col("doc_id").asc()],
        range_col=-F.col("total_w"),
        out_col="decile",
    )
    return (
        deciled.groupBy("decile")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("is_pos").alias("n_pos"),
            F.round(
                F.sum("is_pos").cast("double")
                / F.count(F.lit(1)).cast("double"),
                6,
            ).alias("pos_rate"),
            F.sum("total_w").alias("sum_score"),
        )
        .orderBy("decile")
    )


_Q_CALIBRATION_SQL = r"""
WITH slots AS (
  SELECT doc_id, lang,
    CAST(('0x' || substring(md5(unnest(
      regexp_split_to_array(trim(text), '\s+'))), 1, 8))::BIGINT % 64
      AS BIGINT) AS slot
  FROM documents WHERE length(trim(text)) > 0
), scored AS (
  SELECT doc_id, CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS is_pos,
    CAST(SUM((slot * 2654435761) % 1001 - 500) AS BIGINT) AS total_w
  FROM slots GROUP BY doc_id, lang
), deciled AS (
  SELECT is_pos, total_w,
    NTILE(10) OVER (ORDER BY total_w DESC, doc_id ASC) AS decile
  FROM scored
)
SELECT decile, COUNT(*) AS n_docs,
  CAST(SUM(is_pos) AS BIGINT) AS n_pos,
  round(CAST(SUM(is_pos) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE), 6)
    AS pos_rate,
  CAST(SUM(total_w) AS BIGINT) AS sum_score
FROM deciled GROUP BY decile ORDER BY decile
"""


def q_ewma_spikes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EWMA spike monitor over hourly event counts: an exponentially
    weighted moving average with dyadic weights (alpha = 1/2 over the
    trailing 8 hours: 128,64,...,1 in 1/256 units) so the smoothing is
    EXACT integer arithmetic — num/den stay integers, the spike test
    (count - ewma)^2 > 9*ewma (Poisson 3-sigma) cross-multiplies to
    the integer inequality (c*den - num)^2 > 9*num*den, and only the
    REPORTED ewma pays one rounded division.  The baseline is a TRUE
    trailing forecast (lags 1..8 — round 6; lag 0 previously dominated
    the baseline and damped the effective threshold); first point per
    key has NULL ewma / false spike.  The lag-chain form (8 explicit
    lags, no UDAF) keeps the whole monitor in one (event_type)-
    partitioned window; per-type hourly series are bounded (years x
    8760 rows), the documented small-per-group contract."""
    from radient_spark.operators.timeseries import ewma_spikes

    ev = load_tables(spark, sf_dir)["events"]
    hourly = (
        ev.groupBy(
            "event_type", F.date_trunc("hour", F.col("ts")).alias("hour_ts")
        )
        .agg(F.count(F.lit(1)).alias("n_events"))
    )
    return ewma_spikes(hourly).orderBy("event_type", "hour_ts")


_Q_EWMA_SQL = """
WITH hourly AS (
  SELECT event_type, date_trunc('hour', ts) AS hour_ts,
         COUNT(*) AS n_events
  FROM events GROUP BY event_type, date_trunc('hour', ts)
), lagged AS (
  SELECT event_type, hour_ts, n_events,
    COALESCE(LAG(n_events, 1) OVER w * 128, 0)
      + COALESCE(LAG(n_events, 2) OVER w * 64, 0)
      + COALESCE(LAG(n_events, 3) OVER w * 32, 0)
      + COALESCE(LAG(n_events, 4) OVER w * 16, 0)
      + COALESCE(LAG(n_events, 5) OVER w * 8, 0)
      + COALESCE(LAG(n_events, 6) OVER w * 4, 0)
      + COALESCE(LAG(n_events, 7) OVER w * 2, 0)
      + COALESCE(LAG(n_events, 8) OVER w * 1, 0) AS num,
    CASE WHEN LAG(n_events, 1) OVER w IS NOT NULL THEN 128 ELSE 0 END
      + CASE WHEN LAG(n_events, 2) OVER w IS NOT NULL THEN 64 ELSE 0 END
      + CASE WHEN LAG(n_events, 3) OVER w IS NOT NULL THEN 32 ELSE 0 END
      + CASE WHEN LAG(n_events, 4) OVER w IS NOT NULL THEN 16 ELSE 0 END
      + CASE WHEN LAG(n_events, 5) OVER w IS NOT NULL THEN 8 ELSE 0 END
      + CASE WHEN LAG(n_events, 6) OVER w IS NOT NULL THEN 4 ELSE 0 END
      + CASE WHEN LAG(n_events, 7) OVER w IS NOT NULL THEN 2 ELSE 0 END
      + CASE WHEN LAG(n_events, 8) OVER w IS NOT NULL THEN 1 ELSE 0 END
      AS den
  FROM hourly
  WINDOW w AS (PARTITION BY event_type ORDER BY hour_ts)
)
SELECT event_type, hour_ts, n_events,
  CASE WHEN den > 0
       THEN round(CAST(num AS DOUBLE) / CAST(den AS DOUBLE), 6)
  END AS ewma,
  (n_events * den - num) * (n_events * den - num) > 9 * num * den
    AS is_spike
FROM lagged ORDER BY event_type, hour_ts
"""


def q_k_anonymity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Privacy re-identification audit: k-anonymity of the customer
    table under the quasi-identifier (nation, market segment, account
    balance rounded to $1000) — for k in {2, 5, 10}, how many equivalence
    classes and how many ROWS fall below k (re-identifiable at that
    adversary strength).  The pre-release check a privacy pipeline
    runs before publishing joined microdata.  One groupBy over the
    quasi-identifier (class table is tiny), then a broadcast-sized
    threshold rollup."""
    cust = load_tables(spark, sf_dir)["customer"]
    classes = cust.groupBy(
        F.col("c_nationkey"),
        F.col("c_mktsegment"),
        F.floor(F.col("c_acctbal") / 1000).cast("long").alias("bal_bucket"),
    ).agg(F.count(F.lit(1)).alias("class_size"))
    ks = spark.range(0, 3).select(
        F.element_at(
            F.array(F.lit(2), F.lit(5), F.lit(10)), (F.col("id") + 1).cast("int")
        )
        .cast("long")
        .alias("k")
    )
    return (
        classes.crossJoin(F.broadcast(ks))
        .groupBy("k")
        .agg(
            F.count(F.lit(1)).alias("n_classes"),
            F.sum((F.col("class_size") < F.col("k")).cast("long")).alias(
                "n_classes_below_k"
            ),
            F.sum(
                F.when(
                    F.col("class_size") < F.col("k"), F.col("class_size")
                ).otherwise(0)
            ).alias("n_rows_below_k"),
        )
        .orderBy("k")
    )


_Q_K_ANON_SQL = """
WITH classes AS (
  SELECT c_nationkey, c_mktsegment,
         CAST(floor(c_acctbal / 1000) AS BIGINT) AS bal_bucket,
         COUNT(*) AS class_size
  FROM customer GROUP BY c_nationkey, c_mktsegment,
       CAST(floor(c_acctbal / 1000) AS BIGINT)
), ks AS (
  SELECT unnest([2, 5, 10]) AS k
)
SELECT CAST(k AS BIGINT) AS k, COUNT(*) AS n_classes,
  CAST(SUM(CASE WHEN class_size < k THEN 1 ELSE 0 END) AS BIGINT)
    AS n_classes_below_k,
  CAST(SUM(CASE WHEN class_size < k THEN class_size ELSE 0 END) AS BIGINT)
    AS n_rows_below_k
FROM classes CROSS JOIN ks GROUP BY k ORDER BY k
"""


def q_l_diversity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Privacy attribute-disclosure audit, completing the k-anonymity
    pair (Machanavajjhala et al. 2007): l-diversity of the published
    customer⋈orders microdata — quasi-identifier (nation, market
    segment), sensitive attribute order priority.  k-anonymity stops
    re-identification; l-diversity stops attribute inference: a class
    where every order is URGENT leaks the sensitive value even at
    k=1000.  For l in {2, 3, 5}: equivalence classes (and their row
    mass) whose DISTINCT sensitive-value count falls below l.

    Scale shape: one broadcast dim join (customer QI onto orders), one
    groupBy over the QI with a count + exact countDistinct (class
    table is nations x segments — tiny), then a broadcast-sized
    threshold rollup.  The join is the published-view shape itself, so
    the audit costs one scan of the fact table."""
    t = load_tables(spark, sf_dir)
    micro = t["orders"].join(
        F.broadcast(
            t["customer"].select("c_custkey", "c_nationkey", "c_mktsegment")
        ),
        F.col("o_custkey") == F.col("c_custkey"),
    )
    classes = micro.groupBy("c_nationkey", "c_mktsegment").agg(
        F.count(F.lit(1)).alias("class_size"),
        F.countDistinct("o_orderpriority").alias("diversity"),
    )
    ls = spark.range(0, 3).select(
        F.element_at(
            F.array(F.lit(2), F.lit(3), F.lit(5)), (F.col("id") + 1).cast("int")
        )
        .cast("long")
        .alias("l")
    )
    return (
        classes.crossJoin(F.broadcast(ls))
        .groupBy("l")
        .agg(
            F.count(F.lit(1)).alias("n_classes"),
            F.sum((F.col("diversity") < F.col("l")).cast("long")).alias(
                "n_classes_below_l"
            ),
            F.sum(
                F.when(
                    F.col("diversity") < F.col("l"), F.col("class_size")
                ).otherwise(0)
            ).alias("n_rows_below_l"),
            F.min("diversity").alias("min_diversity"),
        )
        .orderBy("l")
    )


_Q_L_DIVERSITY_SQL = """
WITH classes AS (
  SELECT c.c_nationkey, c.c_mktsegment,
         COUNT(*) AS class_size,
         COUNT(DISTINCT o.o_orderpriority) AS diversity
  FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
  GROUP BY c.c_nationkey, c.c_mktsegment
), ls AS (
  SELECT unnest([2, 3, 5]) AS l
)
SELECT CAST(l AS BIGINT) AS l, COUNT(*) AS n_classes,
  CAST(SUM(CASE WHEN diversity < l THEN 1 ELSE 0 END) AS BIGINT)
    AS n_classes_below_l,
  CAST(SUM(CASE WHEN diversity < l THEN class_size ELSE 0 END) AS BIGINT)
    AS n_rows_below_l,
  CAST(MIN(diversity) AS BIGINT) AS min_diversity
FROM classes CROSS JOIN ls GROUP BY l ORDER BY l
"""


def q_incremental_join_view(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental materialized-view maintenance for a JOIN view
    (operators/merge.py join_view_delta): the customer ⋈ orders
    revenue view is split at 1995-06-01 / custkey%3 into base + delta
    batches, the delta-join identity produces the view's new rows, and
    old-view ∪ delta must equal the full recompute — which IS the
    DuckDB oracle.  Refresh cost: three delta-sided joins, never
    base ⋈ base again.  Revenue reports as exact integer cents
    (BIGINT) — the decimal sum stays an internal accumulator only;
    final schemas never carry DecimalType."""
    from radient_spark.operators.merge import join_view_delta

    t = load_tables(spark, sf_dir)
    cust = t["customer"].select(
        F.col("c_custkey").alias("custkey"), "c_mktsegment"
    )
    orders = t["orders"].select(
        F.col("o_custkey").alias("custkey"),
        "o_orderkey",
        "o_totalprice",
        "o_orderdate",
    )
    cut = F.lit("1995-06-01").cast("timestamp")
    base_a, delta_a = (
        cust.filter(F.col("custkey") % 3 != 0),
        cust.filter(F.col("custkey") % 3 == 0),
    )
    base_b, delta_b = (
        orders.filter(F.col("o_orderdate") < cut),
        orders.filter(F.col("o_orderdate") >= cut),
    )
    old_view = base_a.join(base_b, "custkey")
    new_rows = join_view_delta(base_a, delta_a, base_b, delta_b, ["custkey"])
    refreshed = old_view.unionByName(new_rows)
    return (
        refreshed.groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            (F.sum(F.col("o_totalprice").cast("decimal(18,2)")) * 100)
            .cast("long")
            .alias("revenue_cents"),
            F.countDistinct("custkey").alias("n_customers"),
        )
        .orderBy("c_mktsegment")
    )


_Q_INCR_JOIN_SQL = """
WITH view_full AS (
  SELECT c.c_mktsegment, o.o_totalprice, c.c_custkey
  FROM customer c JOIN orders o ON c.c_custkey = o.o_custkey
)
SELECT c_mktsegment, COUNT(*) AS n_rows,
  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) * 100 AS BIGINT) AS revenue_cents,
  CAST(COUNT(DISTINCT c_custkey) AS BIGINT) AS n_customers
FROM view_full GROUP BY c_mktsegment ORDER BY c_mktsegment
"""


def q_approx_groupby_certificate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate query processing (BlinkDB-style) with an error
    certificate: per-group revenue estimated from a DETERMINISTIC 10%
    md5-bucket sample (scaled x10), reported next to the exact sum
    with a within-10%% certificate the DuckDB oracle checks as literal
    TRUE (observed max deviation 5.3%% at sf0.001, shrinking with
    scale — CLT).  The sample rule is the stateless hash-split
    discipline, so the estimate is reproducible across engines,
    runs, and partitionings; at 100 TB the sample scan IS the win —
    here both sides share one pass as a conditional aggregate.
    Revenues report as exact integer cents (BIGINT); the decimal
    sums are internal accumulators only — final schemas never carry
    DecimalType."""
    li = load_tables(spark, sf_dir)["lineitem"]
    from radient_spark.operators.dedup import str_hash

    bucket = str_hash(
        F.concat_ws(
            "_",
            F.lit(7),
            F.col("l_orderkey").cast("string"),
            F.col("l_linenumber").cast("string"),
        )
    ) % 10_000
    p = F.col("l_extendedprice").cast("decimal(18,2)")
    agg = li.groupBy("l_returnflag").agg(
        F.sum(p).alias("exact_revenue"),
        (F.sum(F.when(bucket < 1000, p).otherwise(F.lit(0))) * 10).alias(
            "est_revenue"
        ),
        F.sum((bucket < 1000).cast("long")).alias("sample_rows"),
    )
    return agg.select(
        "l_returnflag",
        (F.col("exact_revenue") * 100).cast("long").alias("exact_revenue_cents"),
        (F.col("est_revenue") * 100).cast("long").alias("est_revenue_cents"),
        "sample_rows",
        (
            F.abs(
                F.col("est_revenue").cast("double")
                - F.col("exact_revenue").cast("double")
            )
            / F.col("exact_revenue").cast("double")
            <= F.lit(0.10)
        ).alias("within_10pct"),
    ).orderBy("l_returnflag")


_Q_AQP_SQL = """
WITH s AS (
  SELECT l_returnflag, CAST(l_extendedprice AS DECIMAL(18,2)) AS p,
    ('0x' || substring(md5('7_' || CAST(l_orderkey AS VARCHAR) || '_'
       || CAST(l_linenumber AS VARCHAR)), 1, 8))::BIGINT % 10000 AS b
  FROM lineitem
)
SELECT l_returnflag,
  CAST(SUM(p) * 100 AS BIGINT) AS exact_revenue_cents,
  CAST(SUM(CASE WHEN b < 1000 THEN p ELSE 0 END) * 10 * 100 AS BIGINT)
    AS est_revenue_cents,
  CAST(SUM(CASE WHEN b < 1000 THEN 1 ELSE 0 END) AS BIGINT) AS sample_rows,
  TRUE AS within_10pct
FROM s GROUP BY l_returnflag ORDER BY l_returnflag
"""


def q_curation_pipeline_v5(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Round-5 flagship composition — the C4-to-mixture curation funnel
    as ONE lazy plan: C4 line-level cleaning (banned/short/no-punct +
    corpus-wide line dedup, kept lines reassembled in order) ->
    payment-card PII gate (drop docs carrying a Luhn-valid PAN) ->
    exact dedup of the CLEANED text (globally-first copy wins) ->
    multiplicative-weights domain mixture from per-source
    lexical-diversity losses -> integer largest-remainder quotas over
    a 60% document budget.  Reports the full funnel per source:
    docs in, after line cleaning, after the PII gate, after dedup,
    mixture weight, quota, selected.

    The property pinned end-to-end: quotas sum EXACTLY to the budget
    (largest remainder), are proportional to MW weights learned from
    the cleaned survivors, and every stage's loss is attributable in
    the report — line rules, PII, and duplication each take their own
    bite before mixture planning sees the corpus.

    Scale shape: one (line-hash) shuffle for line dedup, one (doc
    md5) window for doc dedup, token aggregates per source; the MW
    rounds and quota windows run over the source-count-sized table.
    No collects, no data-sized broadcast; the staged frame is cached
    once for the four report branches."""
    from radient_spark.operators.dataset import domain_mixture_weights
    from radient_spark.operators.quality import c4_line_classify, luhn_valid

    docs = load_tables(spark, sf_dir)["documents"]
    toks = F.split(F.trim(F.col("text")), r"\s+")
    l1 = F.concat(F.array_join(F.slice(toks, 1, 8), " "), F.lit("."))
    l2 = F.array_join(F.slice(toks, 9, 6), " ")
    lined = docs.withColumn(
        "text",
        F.concat_ws(
            "\n",
            l1,
            l2,
            F.when(
                F.col("doc_id") % 7 == 0,
                F.lit("this site uses cookie tracking."),
            ),
            F.when(F.col("doc_id") % 5 == 0, l1),
        ),
    )
    kept_lines = c4_line_classify(lined, "text", "doc_id", min_words=5).filter(
        F.col("status") == "kept"
    )
    clean = kept_lines.groupBy("doc_id").agg(
        F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(F.struct("line_idx", "line"))
                ),
                lambda s: s["line"],
            ),
            "\n",
        ).alias("clean_text")
    )
    staged = (
        clean.join(docs.select("doc_id", "source"), "doc_id")
        .withColumn(
            "__t2",
            F.concat(
                F.col("clean_text"),
                F.when(
                    F.col("doc_id") % 4 == 0,
                    F.lit(" card 4539578763621486 ok"),
                )
                .when(
                    F.col("doc_id") % 4 == 1,
                    F.lit(" ref 4539578763621487 end"),
                )
                .otherwise(F.lit("")),
            ),
        )
        .withColumn(
            "pii_ok",
            F.size(
                F.filter(
                    F.filter(
                        F.regexp_extract_all(
                            F.col("__t2"), F.lit(r"\d+"), 0
                        ),
                        lambda s: (F.length(s) >= 13) & (F.length(s) <= 19),
                    ),
                    luhn_valid,
                )
            )
            == 0,
        )
        .withColumn(
            "is_canonical",
            F.row_number().over(
                Window.partitionBy(F.md5("clean_text")).orderBy("doc_id")
            )
            == 1,
        )
        .withColumn("survives", F.col("pii_ok") & F.col("is_canonical"))
        .persist()
    )
    per_src_tokens = (
        staged.filter("survives")
        .select("source", F.explode(F.split("clean_text", r"\s+")).alias("tk"))
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.countDistinct("tk").alias("n_distinct"),
        )
    )
    mw = domain_mixture_weights(
        per_src_tokens,
        "source",
        F.expr("((n_tokens - n_distinct) * 1000000) div n_tokens"),
        rounds=3,
        raw_col="w",
    )
    survivor_counts = (
        staged.filter("survives")
        .groupBy("source")
        .agg(F.count(F.lit(1)).alias("n_after_dedup"))
    )
    totals = survivor_counts.agg(
        F.sum("n_after_dedup").alias("__n_surv")
    ).crossJoin(mw.agg(F.sum("w").alias("__W")))
    budget = F.expr("(__n_surv * 6) div 10")
    alloc = (
        mw.join(survivor_counts, "source")
        .crossJoin(F.broadcast(totals))
        .withColumn("__B", budget)
        .withColumn("base", F.expr("(w * __B) div __W"))
        .withColumn("rem", F.expr("(w * __B) % __W"))
    )
    wrem = Window.orderBy(F.col("rem").desc(), F.col("source").asc())
    alloc = (
        alloc.crossJoin(
            F.broadcast(
                alloc.agg(
                    (F.first("__B") - F.sum("base")).alias("__leftover")
                )
            )
        )
        .withColumn(
            "quota",
            F.col("base")
            + (F.row_number().over(wrem) <= F.col("__leftover")).cast(
                "long"
            ),
        )
    )
    funnel = (
        docs.groupBy("source")
        .agg(F.count(F.lit(1)).alias("n_in"))
        .join(
            staged.groupBy("source").agg(
                F.count(F.lit(1)).alias("n_after_lines"),
                F.sum(F.col("pii_ok").cast("long")).alias("n_after_pii"),
            ),
            "source",
        )
        .join(
            alloc.select(
                "source", "mix_weight", "n_after_dedup", "quota"
            ),
            "source",
        )
    )
    return funnel.select(
        "source",
        "n_in",
        "n_after_lines",
        "n_after_pii",
        "n_after_dedup",
        "mix_weight",
        "quota",
        F.least(F.col("quota"), F.col("n_after_dedup")).alias("n_selected"),
    ).orderBy("source")


def _curation_v5_sql() -> str:
    return r"""
WITH toks AS (
  SELECT doc_id, source, regexp_split_to_array(trim(text), '\s+') AS tk
  FROM documents
), lined AS (
  SELECT doc_id, source,
    concat_ws(chr(10),
      array_to_string(tk[1:8], ' ') || '.',
      array_to_string(tk[9:14], ' '),
      CASE WHEN doc_id % 7 = 0 THEN 'this site uses cookie tracking.' END,
      CASE WHEN doc_id % 5 = 0
           THEN array_to_string(tk[1:8], ' ') || '.' END
    ) AS text
  FROM toks
), lines AS (
  SELECT doc_id, source,
    generate_subscripts(regexp_split_to_array(text, chr(10)), 1) - 1
      AS line_idx,
    unnest(regexp_split_to_array(text, chr(10))) AS line
  FROM lined
), pre AS (
  SELECT doc_id, source, line_idx, line,
    CASE
      WHEN lower(line) LIKE '%cookie%' OR lower(line) LIKE '%javascript%'
        OR lower(line) LIKE '%lorem ipsum%'
        OR lower(line) LIKE '%terms of use%' THEN 'banned'
      WHEN CASE WHEN length(trim(line)) = 0 THEN 0
                ELSE len(regexp_split_to_array(trim(line), '\s+')) END < 5
        THEN 'short'
      WHEN NOT (rtrim(line) LIKE '%.' OR rtrim(line) LIKE '%!'
                OR rtrim(line) LIKE '%?' OR rtrim(line) LIKE '%"')
        THEN 'no_punct'
    END AS pre
  FROM lines
), kept AS (
  SELECT doc_id, source, line_idx, line
  FROM (
    SELECT doc_id, source, line_idx, line,
      row_number() OVER (PARTITION BY md5(line)
                         ORDER BY doc_id, line_idx) AS rn
    FROM pre WHERE pre IS NULL
  ) WHERE rn = 1
), clean AS (
  SELECT k.doc_id, MIN(k.source) AS source,
    string_agg(line, chr(10) ORDER BY line_idx) AS clean_text
  FROM kept k GROUP BY k.doc_id
), gated AS (
  SELECT doc_id, source, clean_text,
    len(list_filter(
      list_filter(regexp_extract_all(
        clean_text || CASE
          WHEN doc_id % 4 = 0 THEN ' card 4539578763621486 ok'
          WHEN doc_id % 4 = 1 THEN ' ref 4539578763621487 end'
          ELSE '' END, '\d+'),
        s -> length(s) BETWEEN 13 AND 19),
      s -> list_sum(list_transform(range(1, length(s) + 1), i ->
        CASE WHEN i % 2 = 0 THEN
          CASE WHEN 2 * CAST(reverse(s)[i] AS INT) > 9
               THEN 2 * CAST(reverse(s)[i] AS INT) - 9
               ELSE 2 * CAST(reverse(s)[i] AS INT) END
        ELSE CAST(reverse(s)[i] AS INT) END)) % 10 = 0
    )) = 0 AS pii_ok,
    row_number() OVER (PARTITION BY md5(clean_text) ORDER BY doc_id) = 1
      AS is_canonical
  FROM clean
), survivors AS (
  SELECT * FROM gated WHERE pii_ok AND is_canonical
), per_src AS (
  SELECT source, COUNT(*) AS n_tokens, COUNT(DISTINCT t.tok) AS n_distinct
  FROM (
    SELECT source,
      unnest(regexp_split_to_array(clean_text, '\s+')) AS tok
    FROM survivors
  ) t GROUP BY source
), base0 AS (
  SELECT source,
    CAST(((n_tokens - n_distinct) * 1000000) // n_tokens AS BIGINT)
      AS loss_lat,
    CAST(1000000 AS BIGINT) AS w
  FROM per_src
), t1 AS (
  SELECT CAST(SUM(w) AS BIGINT) AS sw,
         CAST(SUM(w * loss_lat) AS BIGINT) AS swl FROM base0
), base1 AS (
  SELECT source, loss_lat,
    CAST((w * (2000000 - ((loss_lat - (swl // sw) + 2000000) // 2)))
         // 1000000 AS BIGINT) AS w
  FROM base0, t1
), t2 AS (
  SELECT CAST(SUM(w) AS BIGINT) AS sw,
         CAST(SUM(w * loss_lat) AS BIGINT) AS swl FROM base1
), base2 AS (
  SELECT source, loss_lat,
    CAST((w * (2000000 - ((loss_lat - (swl // sw) + 2000000) // 2)))
         // 1000000 AS BIGINT) AS w
  FROM base1, t2
), t3 AS (
  SELECT CAST(SUM(w) AS BIGINT) AS sw,
         CAST(SUM(w * loss_lat) AS BIGINT) AS swl FROM base2
), base3 AS (
  SELECT source, loss_lat,
    CAST((w * (2000000 - ((loss_lat - (swl // sw) + 2000000) // 2)))
         // 1000000 AS BIGINT) AS w
  FROM base2, t3
), mwt AS (
  SELECT CAST(SUM(w) AS BIGINT) AS W FROM base3
), surv_counts AS (
  SELECT source, COUNT(*) AS n_after_dedup FROM survivors GROUP BY source
), btot AS (
  SELECT CAST((SUM(n_after_dedup) * 6) // 10 AS BIGINT) AS B
  FROM surv_counts
), alloc0 AS (
  SELECT b3.source, b3.w,
    round(CAST(b3.w AS DOUBLE) / CAST(mwt.W AS DOUBLE), 6) AS mix_weight,
    CAST((b3.w * btot.B) // mwt.W AS BIGINT) AS base,
    CAST((b3.w * btot.B) % mwt.W AS BIGINT) AS rem,
    btot.B AS B
  FROM base3 b3, mwt, btot
), alloc AS (
  SELECT source, mix_weight,
    base + CASE WHEN row_number() OVER (ORDER BY rem DESC, source ASC)
                   <= B - (SELECT SUM(base) FROM alloc0)
                THEN 1 ELSE 0 END AS quota
  FROM alloc0
), funnel AS (
  SELECT d.source, COUNT(*) AS n_in
  FROM documents d GROUP BY d.source
), stage1 AS (
  SELECT source, COUNT(*) AS n_after_lines,
         CAST(SUM(CASE WHEN pii_ok THEN 1 ELSE 0 END) AS BIGINT)
           AS n_after_pii
  FROM gated GROUP BY source
)
SELECT f.source, f.n_in, s1.n_after_lines, s1.n_after_pii,
  sc.n_after_dedup, a.mix_weight, a.quota,
  LEAST(a.quota, sc.n_after_dedup) AS n_selected
FROM funnel f
JOIN stage1 s1 ON f.source = s1.source
JOIN surv_counts sc ON f.source = sc.source
JOIN alloc a ON f.source = a.source
ORDER BY f.source
"""


def q_weighted_sample_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-k WEIGHTED sample without replacement (operators/dataset.py
    weighted_sample_exact_k, Efraimidis-Spirakis 2006): documents drawn
    proportionally to n_chars, deterministically — ln(u) on the md5
    micro-lattice, ranking key = one rounded division, per-partition
    top-k plan.  Complements q_uniform_sample_k (uniform) and
    q_weighted_sample (rate-based, size-approximate)."""
    from radient_spark.operators.dataset import weighted_sample_exact_k

    docs = load_tables(spark, sf_dir)["documents"]
    return (
        weighted_sample_exact_k(docs, "doc_id", F.col("n_chars"), k=100)
        .select("doc_id", "source", "n_chars", "es_key")
        .orderBy(F.col("es_key").desc(), F.col("doc_id").asc())
    )


_Q_ES_SAMPLE_SQL = """
WITH keyed AS (
  SELECT doc_id, source, n_chars,
    round(CAST(CAST(round(ln((((('0x' || substring(md5('42_' ||
        CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT % 10000) + 1)
        / 10000.0)) * 1e6, 0) AS BIGINT) AS DOUBLE)
      / CAST(n_chars AS DOUBLE), 6) AS es_key
  FROM documents
)
SELECT doc_id, source, n_chars, es_key
FROM keyed ORDER BY es_key DESC, doc_id ASC LIMIT 100
"""


def q_embedding_variance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-dimension embedding moments — the whitening/PCA precursor
    and the drift monitor's second moment: component mean and variance
    on the integer micro-lattice (values quantize to round(x*1e6)
    BIGINTs, moment sums are exact DECIMAL in any order, and mean /
    variance are one rounded IEEE division each over exact operands).
    Top-10 dimensions by variance: where the embedding's energy lives.

    Scale shape: posexplode -> map-side-combined (dim) aggregate —
    shuffle cardinality is the dimensionality, corpus-independent;
    DECIMAL(38) sums survive 1e9+ rows where BIGINT x micro^2 would
    overflow."""
    emb = load_tables(spark, sf_dir)["embeddings"]
    dec = "decimal(38,0)"
    dims = emb.select(F.posexplode("embedding").alias("dim", "x")).select(
        "dim",
        F.round(F.col("x").cast("double") * 1e6, 0).cast("long").alias("m"),
    )
    agg = dims.groupBy("dim").agg(
        F.count(F.lit(1)).cast(dec).alias("n"),
        F.sum(F.col("m").cast(dec)).alias("sx"),
        F.sum((F.col("m") * F.col("m")).cast(dec)).alias("sxx"),
    )
    mean = F.round(
        F.col("sx").cast("double") / F.col("n").cast("double") / 1e6, 6
    )
    var = F.round(
        (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")).cast("double")
        / (F.col("n") * F.col("n")).cast("double")
        / 1e12,
        6,
    )
    return (
        agg.select(
            "dim",
            F.col("n").cast("long").alias("n_vecs"),
            mean.alias("mean"),
            var.alias("variance"),
        )
        .orderBy(F.col("variance").desc(), F.col("dim").asc())
        .limit(10)
    )


_Q_EMB_VAR_SQL = """
WITH dims AS (
  SELECT generate_subscripts(embedding, 1) - 1 AS dim,
    CAST(round(unnest(embedding)::DOUBLE * 1e6, 0) AS BIGINT) AS m
  FROM embeddings
), agg AS (
  SELECT dim, CAST(COUNT(*) AS DECIMAL(38,0)) AS n,
    CAST(SUM(CAST(m AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS sx,
    CAST(SUM(CAST(m AS DECIMAL(38,0)) * m) AS DECIMAL(38,0)) AS sxx
  FROM dims GROUP BY dim
)
SELECT dim, CAST(n AS BIGINT) AS n_vecs,
  round(CAST(sx AS DOUBLE) / CAST(n AS DOUBLE) / 1e6, 6) AS mean,
  round(CAST(n * sxx - sx * sx AS DOUBLE)
        / CAST(n * n AS DOUBLE) / 1e12, 6) AS variance
FROM agg ORDER BY variance DESC, dim ASC LIMIT 10
"""


def q_embedding_covariance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-10 off-diagonal embedding covariances by magnitude — which
    dimension PAIRS move together (the PCA/whitening signal).  The
    Gram matrix comes from `operators/cluster.embedding_gram`:
    Arrow-batch int64 GEMM partials (micro-lattice exact) summed in
    DECIMAL — never the (row, dim_i, dim_j) explode, which is 4096x
    the shuffle volume at d=64.  The DuckDB oracle recomputes the
    identical integer sums from the explode formulation (affordable
    at test scale), so the GEMM path is value-verified end to end."""
    from radient_spark.operators.cluster import embedding_gram

    emb = load_tables(spark, sf_dir)["embeddings"]
    gram = embedding_gram(emb, "embedding")
    dec = "decimal(38,0)"
    sums = (
        emb.select(F.posexplode("embedding").alias("dim", "x"))
        .select(
            "dim",
            F.round(F.col("x").cast("double") * 1e6, 0)
            .cast("long")
            .alias("m"),
        )
        .groupBy("dim")
        .agg(F.sum(F.col("m").cast(dec)).alias("sx"))
    )
    si = sums.select(
        F.col("dim").alias("dim_i"), F.col("sx").alias("sx_i")
    )
    sj = sums.select(
        F.col("dim").alias("dim_j"), F.col("sx").alias("sx_j")
    )
    cov = F.round(
        (
            F.col("n").cast(dec) * F.col("sxy")
            - F.col("sx_i") * F.col("sx_j")
        ).cast("double")
        / (F.col("n").cast(dec) * F.col("n")).cast("double")
        / 1e12,
        6,
    )
    return (
        gram.filter(F.col("dim_i") < F.col("dim_j"))
        .join(F.broadcast(si), "dim_i")
        .join(F.broadcast(sj), "dim_j")
        .select("dim_i", "dim_j", "n", cov.alias("cov"))
        .orderBy(
            F.abs(F.col("cov")).desc(),
            F.col("dim_i").asc(),
            F.col("dim_j").asc(),
        )
        .limit(10)
    )


_Q_EMB_COV_SQL = """
WITH dims AS (
  SELECT vec_id, generate_subscripts(embedding, 1) - 1 AS dim,
    CAST(round(unnest(embedding)::DOUBLE * 1e6, 0) AS BIGINT) AS m
  FROM embeddings
), pairs AS (
  SELECT a.dim AS dim_i, b.dim AS dim_j,
    CAST(COUNT(*) AS DECIMAL(38,0)) AS n,
    CAST(SUM(CAST(a.m AS DECIMAL(38,0)) * b.m) AS DECIMAL(38,0)) AS sxy
  FROM dims a JOIN dims b
    ON a.vec_id = b.vec_id AND a.dim < b.dim
  GROUP BY a.dim, b.dim
), sums AS (
  SELECT dim, CAST(SUM(CAST(m AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS sx
  FROM dims GROUP BY dim
)
SELECT dim_i, dim_j, CAST(p.n AS BIGINT) AS n,
  round(CAST(p.n * p.sxy - si.sx * sj.sx AS DOUBLE)
        / CAST(p.n * p.n AS DOUBLE) / 1e12, 6) AS cov
FROM pairs p
JOIN sums si ON p.dim_i = si.dim
JOIN sums sj ON p.dim_j = sj.dim
ORDER BY abs(cov) DESC, dim_i ASC, dim_j ASC LIMIT 10
"""


def q_multipass_snm_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MULTI-PASS sorted-neighborhood dedup (operators/dedup.py
    multipass_snm_pairs — the full Hernandez & Stolfo method): pass 1
    sorts on the canonical text's 24-char prefix, pass 2 on the
    REVERSED-token canon's prefix (the 'different field order' key that
    catches records whose corruption defeats the first sort), unioned
    candidates verified by token-set Jaccard >= 0.5.  n_passes (how
    many keys proposed the pair) rides along as the verify-stage
    confidence prior."""
    from radient_spark.functions.text import normalize_text
    from radient_spark.operators.dedup import multipass_snm_pairs

    docs = load_tables(spark, sf_dir)["documents"]
    # ONE wide materialization of the regex-heavy canonicalization
    # (optimization r12, guide §1.2/§2.2): canon feeds the two
    # sorted-neighborhood rank passes (each runs a boundary
    # approxQuantile during construction) AND both token-array join
    # branches of the verify stage — four full evaluations of
    # normalize_text from a single-split scan before this. Widen BEFORE
    # the checkpoint (LogicalRDD carries no size stats for the widen
    # heuristic afterwards; same discipline as the dedup scorecard).
    canon = (
        _widen_narrow_scan(docs)
        .select("doc_id", normalize_text(F.col("text")).alias("canon"))
        .localCheckpoint(eager=True)
    )
    rev = F.array_join(
        F.reverse(F.split(F.trim("canon"), r"\s+")), " "
    )
    keyed = canon.select(
        "doc_id",
        F.substring("canon", 1, 24).alias("k_fwd"),
        F.substring(rev, 1, 24).alias("k_rev"),
    )
    pairs = multipass_snm_pairs(keyed, ["k_fwd", "k_rev"], "doc_id", window=5)
    toks = canon.select(
        "doc_id",
        F.array_distinct(F.split(F.trim("canon"), r"\s+")).alias("t"),
    )
    ta = toks.select(F.col("doc_id").alias("id_a"), F.col("t").alias("ta"))
    tb = toks.select(F.col("doc_id").alias("id_b"), F.col("t").alias("tb"))
    inter = F.size(F.array_intersect("ta", "tb"))
    union = F.size("ta") + F.size("tb") - inter
    return (
        pairs.join(ta, "id_a")
        .join(tb, "id_b")
        .withColumn("jaccard", F.round(inter / union, 6))
        .filter(F.col("jaccard") >= 0.5)
        .select("id_a", "id_b", "n_passes", "min_gap", "jaccard")
    )


_Q_MULTIPASS_SNM_TEMPLATE = """
WITH canon AS (
  SELECT doc_id, {CANON} AS canon FROM documents
), keyed AS (
  SELECT doc_id, substring(canon, 1, 24) AS k_fwd,
    substring(array_to_string(
      list_reverse(regexp_split_to_array(trim(canon), '\\s+')), ' '),
      1, 24) AS k_rev
  FROM canon
), r1 AS (
  SELECT doc_id, row_number() OVER (ORDER BY k_fwd, doc_id) AS rn
  FROM keyed
), r2 AS (
  SELECT doc_id, row_number() OVER (ORDER BY k_rev, doc_id) AS rn
  FROM keyed
), p1 AS (
  SELECT LEAST(a.doc_id, b.doc_id) AS id_a,
         GREATEST(a.doc_id, b.doc_id) AS id_b, b.rn - a.rn AS gap
  FROM r1 a JOIN r1 b ON b.rn - a.rn BETWEEN 1 AND 5
), p2 AS (
  SELECT LEAST(a.doc_id, b.doc_id) AS id_a,
         GREATEST(a.doc_id, b.doc_id) AS id_b, b.rn - a.rn AS gap
  FROM r2 a JOIN r2 b ON b.rn - a.rn BETWEEN 1 AND 5
), merged AS (
  SELECT id_a, id_b, CAST(COUNT(*) AS BIGINT) AS n_passes,
         CAST(MIN(gap) AS BIGINT) AS min_gap
  FROM (SELECT * FROM p1 UNION ALL SELECT * FROM p2)
  GROUP BY id_a, id_b
), toks AS (
  SELECT doc_id,
    list_distinct(regexp_split_to_array(trim(canon), '\\s+')) AS t
  FROM canon
), scored AS (
  SELECT m.id_a, m.id_b, m.n_passes, m.min_gap,
    ROUND(len(list_intersect(ta.t, tb.t))::DOUBLE
      / (len(ta.t) + len(tb.t) - len(list_intersect(ta.t, tb.t))), 6)
      AS jaccard
  FROM merged m JOIN toks ta ON ta.doc_id = m.id_a
  JOIN toks tb ON tb.doc_id = m.id_b
)
SELECT id_a, id_b, n_passes, min_gap, jaccard
FROM scored WHERE jaccard >= 0.5
"""


def _multipass_snm_sql() -> str:
    from radient_spark.functions.text import normalize_sql_expr

    return _Q_MULTIPASS_SNM_TEMPLATE.replace(
        "{CANON}", normalize_sql_expr("text")
    )


def q_kcore_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """3-core of the supplier co-supply graph (operators/graph.py
    kcore): iterative synchronized peeling — drop every supplier with
    fewer than 3 surviving co-supply partners until the fixed point.
    The density filter used to prune spam farms / isolated tendrils
    before community extraction; same projection-capped graph as
    q_triangle_count. Runs a fixed 8 peel rounds (idempotent at the
    fixed point; tests assert convergence well inside the budget), and
    the oracle unrolls the identical rounds."""
    from radient_spark.operators.graph import kcore

    return kcore(
        _co_supply_edges(spark, sf_dir), k=3, rounds=_KCORE_ROUNDS
    )


_KCORE_ROUNDS = 8
_KCORE_K = 3


def _kcore_sql(k: int = _KCORE_K, rounds: int = _KCORE_ROUNDS) -> str:
    """Unrolled synchronized-peeling oracle: round i recomputes degrees
    over e{i-1} and keeps edges whose both endpoints have degree >= k.
    Exactly the rounds the Spark operator runs, so the outputs agree
    whether or not the fixed point is reached inside the budget."""
    parts = [
        r"""WITH sp AS (
  SELECT DISTINCT l_suppkey, l_partkey FROM lineitem
), small AS (
  SELECT sp.* FROM sp JOIN (
    SELECT l_partkey FROM sp GROUP BY l_partkey HAVING COUNT(*) <= 20
  ) ok USING (l_partkey)
), e0 AS MATERIALIZED (
  SELECT DISTINCT a.l_suppkey AS a, b.l_suppkey AS b
  FROM small a JOIN small b
    ON a.l_partkey = b.l_partkey AND a.l_suppkey < b.l_suppkey
)"""
    ]
    # each e{i} is referenced three times by round i+1; without
    # MATERIALIZED DuckDB inlines the CTEs and the plan grows 3^rounds
    for i in range(1, rounds + 1):
        prev = f"e{i - 1}"
        parts.append(
            f""", d{i} AS MATERIALIZED (
  SELECT n, COUNT(*) AS d FROM (
    SELECT a AS n FROM {prev} UNION ALL SELECT b AS n FROM {prev}
  ) GROUP BY n
), a{i} AS (SELECT n FROM d{i} WHERE d >= {k}
), e{i} AS MATERIALIZED (
  SELECT {prev}.a, {prev}.b FROM {prev}
  JOIN a{i} x ON {prev}.a = x.n JOIN a{i} y ON {prev}.b = y.n
)"""
        )
    last = f"e{rounds}"
    parts.append(
        f"""
SELECT n AS node, CAST(d AS BIGINT) AS degree FROM (
  SELECT n, COUNT(*) AS d FROM (
    SELECT a AS n FROM {last} UNION ALL SELECT b AS n FROM {last}
  ) GROUP BY n
) WHERE d >= {k}"""
    )
    return "".join(parts)


def q_sparse_dot_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lexical sparse retrieval via an inverted index (operators/
    retrieval.py inverted_index_topk): tf x integer-idf postings,
    document-at-a-time dot products against a broadcast query batch,
    per-query top-5. Weights are tf * (1e6 div df) — exact integer
    idf lattice, so scores are bit-exact in any summation order (no
    logarithm evaluated at query time). Complements q_bm25_search
    (single query, float BM25) with the batched integer-exact DAAT
    shape."""
    from radient_spark.operators.retrieval import inverted_index_topk

    docs = load_tables(spark, sf_dir)["documents"]
    tf = (
        docs.filter(F.length(F.trim("text")) > 0)
        .select(
            "doc_id",
            F.explode(F.split(F.trim("text"), r"\s+")).alias("term"),
        )
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    postings = tf.join(dfreq, "term").select(
        "doc_id", "term", F.expr("tf * (1000000L div df)").alias("wt")
    )
    qpost = postings.filter(F.col("doc_id") < 8).select(
        F.col("doc_id").alias("q_id"), "term", F.col("wt").alias("qwt")
    )
    return inverted_index_topk(postings, qpost, k=5)


_Q_SPARSE_DOT_SQL = r"""
WITH toks AS (
  SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\s+')) AS term
  FROM documents WHERE length(trim(text)) > 0
), tf AS (
  SELECT doc_id, term, COUNT(*) AS tf FROM toks GROUP BY doc_id, term
), df AS (
  SELECT term, COUNT(*) AS df FROM tf GROUP BY term
), w AS (
  SELECT t.doc_id, t.term, t.tf * (1000000 // d.df) AS wt
  FROM tf t JOIN df d USING (term)
), q AS (
  SELECT doc_id AS q_id, term, wt AS qwt FROM w WHERE doc_id < 8
), dots AS (
  SELECT q.q_id, w.doc_id,
    CAST(SUM(CAST(w.wt AS DECIMAL(38,0)) * q.qwt) AS BIGINT) AS dot
  FROM w JOIN q USING (term) GROUP BY q.q_id, w.doc_id
)
SELECT q_id, doc_id, dot, CAST(rank AS INT) AS rank FROM (
  SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY dot DESC, doc_id)
    AS rank
  FROM dots
) WHERE rank <= 5
"""


def q_benford_prices(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford first-digit audit of lineitem extended prices
    (operators/quality.py benford_report) — the standard fabricated-
    data screen on a freshly ingested fact table. All-integer ppm
    arithmetic; expected frequencies are precomputed literals. (TPC-H
    prices are formula-generated, so the audit correctly reports a
    non-Benford profile — the point is the exact per-digit deviation
    table.)"""
    from radient_spark.operators.quality import benford_report

    li = load_tables(spark, sf_dir)["lineitem"]
    return benford_report(li, "l_extendedprice")


def _benford_sql() -> str:
    from radient_spark.operators.quality import BENFORD_PPM

    arr = ", ".join(str(p) for p in BENFORD_PPM)
    return f"""
WITH d AS (
  SELECT CAST(substr(CAST(CAST(FLOOR(l_extendedprice) AS BIGINT) AS VARCHAR),
              1, 1) AS INT) AS digit
  FROM lineitem WHERE l_extendedprice >= 1
), g AS (
  SELECT digit, COUNT(*) AS n FROM d GROUP BY digit
), t AS (SELECT SUM(n) AS total FROM g)
SELECT digit, CAST(n AS BIGINT) AS n,
  CAST((n * 1000000) // t.total AS BIGINT) AS observed_ppm,
  CAST(([{arr}])[digit] AS BIGINT) AS expected_ppm,
  CAST(abs((n * 1000000) // t.total - ([{arr}])[digit]) AS BIGINT)
    AS abs_err_ppm
FROM g, t
"""


def q_greedy_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy maximum-coverage selection of 4 documents (operators/
    dataset.py greedy_max_coverage): the (1-1/e)-approximate submodular
    pick used to seed diverse training subsets — each round takes the
    document adding the most uncovered distinct tokens. Oracle unrolls
    the identical 4 rounds as a CTE chain."""
    from radient_spark.operators.dataset import greedy_max_coverage

    docs = load_tables(spark, sf_dir)["documents"]
    return greedy_max_coverage(docs, k=_GREEDY_COV_K)


_GREEDY_COV_K = 4


def _greedy_cov_sql(k: int = _GREEDY_COV_K) -> str:
    parts = [
        r"""WITH toks AS MATERIALIZED (
  SELECT DISTINCT doc_id AS doc,
    unnest(regexp_split_to_array(trim(text), '\s+')) AS token
  FROM documents WHERE length(trim(text)) > 0
), p1 AS (
  SELECT doc, COUNT(*) AS gain FROM toks GROUP BY doc
  ORDER BY gain DESC, doc LIMIT 1
), c1 AS MATERIALIZED (
  SELECT DISTINCT token FROM toks WHERE doc = (SELECT doc FROM p1)
)"""
    ]
    for i in range(2, k + 1):
        parts.append(
            f""", p{i} AS (
  SELECT doc, COUNT(*) AS gain FROM toks
  WHERE token NOT IN (SELECT token FROM c{i - 1})
  GROUP BY doc ORDER BY gain DESC, doc LIMIT 1
), c{i} AS MATERIALIZED (
  SELECT token FROM c{i - 1}
  UNION
  SELECT token FROM toks WHERE doc = (SELECT doc FROM p{i})
)"""
        )
    selects = [
        f"""SELECT {i} AS round_no, doc AS doc_id, CAST(gain AS BIGINT) AS gain,
  (SELECT COUNT(*) FROM c{i}) AS covered_total FROM p{i}"""
        for i in range(1, k + 1)
    ]
    return "".join(parts) + "\n" + "\nUNION ALL\n".join(selects)


def q_snapshot_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-insensitive per-table fingerprints (operators/reconcile.py
    table_fingerprint) for cross-system snapshot reconciliation — the
    scalar pair (n_rows, checksum) both ends of a 100 TB copy compute
    independently and diff. The oracle IS the second system: DuckDB
    evaluates the identical md5-fold over the same canonical row
    strings."""
    from radient_spark.operators.reconcile import table_fingerprint

    t = load_tables(spark, sf_dir)
    specs = {
        "orders": (
            t["orders"],
            [
                F.col("o_orderkey"),
                F.col("o_custkey"),
                F.col("o_orderstatus"),
                F.col("o_orderpriority"),
                F.date_format("o_orderdate", "yyyy-MM-dd HH:mm:ss"),
            ],
        ),
        "customer": (
            t["customer"],
            [F.col("c_custkey"), F.col("c_nationkey"), F.col("c_mktsegment")],
        ),
        "nation": (
            t["nation"],
            [F.col("n_nationkey"), F.col("n_name"), F.col("n_regionkey")],
        ),
    }
    out = None
    for name, (df, cols) in specs.items():
        fp = table_fingerprint(df, cols).select(
            F.lit(name).alias("table_name"), "n_rows", "checksum"
        )
        out = fp if out is None else out.unionByName(fp)
    return out


def _snapshot_fp_sql() -> str:
    from radient_spark.operators.reconcile import fingerprint_sql

    specs = {
        "orders": [
            "o_orderkey",
            "o_custkey",
            "o_orderstatus",
            "o_orderpriority",
            "strftime(o_orderdate, '%Y-%m-%d %H:%M:%S')",
        ],
        "customer": ["c_custkey", "c_nationkey", "c_mktsegment"],
        "nation": ["n_nationkey", "n_name", "n_regionkey"],
    }
    selects = [
        f"SELECT '{name}' AS table_name, * FROM ({fingerprint_sql(name, cols)})"
        for name, cols in specs.items()
    ]
    return "\nUNION ALL\n".join(selects)


def _co_supply_edges(
    spark: SparkSession, sf_dir: str, cap: int = 20
) -> DataFrame:
    """Supplier co-supply edge list (src < dst), hub parts capped at
    ``cap`` suppliers — the shared projection for the graph query
    family (q_triangle_count / q_kcore_suppliers / LPA / WL). The
    HyperBall pair uses cap=8: the cap bounds projection density
    (edges <= parts * C(cap,2)), and sketch-propagation cost is
    edges x registers, so the sparser projection is the honest input
    for distance estimation (the dense one is near-diameter-1).

    Shape (optimization r12, guide §2.3/§2.4): ONE groupBy(l_partkey)
    with collect_set folds the (supplier, part) dedup, the part-degree
    count AND the per-part supplier roster into a single exchange; the
    pair set then explodes from each roster array (sorted, j > i, so
    src < dst with no self-join at all) and only the final pair
    distinct shuffles again. The old shape paid a (suppkey, partkey)
    distinct exchange + a part-degree exchange + a self-join; measured
    2.0 -> 1.2 s warm at sf0.1 with a bit-identical edge set. Hub
    safety at scale: map-side partial collect_set buffers are bounded
    by task input; a degenerate hub part concentrates its full roster
    on one reducer only transiently before the <= cap filter discards
    it — the same transient the old part_deg count row paid, plus the
    roster bytes, still far below an executor's task memory for any
    real part-supplier fanout (the pair EXPLOSION stays cap-bounded
    either way)."""
    li = load_tables(spark, sf_dir)["lineitem"]
    rosters = (
        li.groupBy("l_partkey")
        .agg(F.array_sort(F.collect_set("l_suppkey")).alias("ss"))
        .filter((F.size("ss") <= cap) & (F.size("ss") >= 2))
    )
    return (
        rosters.select(F.posexplode("ss").alias("__i", "src"), F.col("ss"))
        .select(
            "src",
            F.explode(
                F.slice("ss", F.col("__i") + 2, F.size("ss"))
            ).alias("dst"),
        )
        .distinct()
    )


def _co_supply_sql_prefix(cap: int) -> str:
    return _CO_SUPPLY_SQL_PREFIX.replace("COUNT(*) <= 20", f"COUNT(*) <= {cap}")


_CO_SUPPLY_SQL_PREFIX = r"""WITH sp AS (
  SELECT DISTINCT l_suppkey, l_partkey FROM lineitem
), small AS (
  SELECT sp.* FROM sp JOIN (
    SELECT l_partkey FROM sp GROUP BY l_partkey HAVING COUNT(*) <= 20
  ) ok USING (l_partkey)
), und AS MATERIALIZED (
  SELECT DISTINCT a.l_suppkey AS a, b.l_suppkey AS b
  FROM small a JOIN small b
    ON a.l_partkey = b.l_partkey AND a.l_suppkey < b.l_suppkey
), bidir AS MATERIALIZED (
  SELECT a AS u, b AS v FROM und UNION ALL SELECT b AS u, a AS v FROM und
)"""


def q_lpa_communities(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Community detection by synchronized mode-label propagation
    (operators/graph.py label_propagation) over the supplier co-supply
    graph: 4 deterministic sweeps, each node adopting its neighbors'
    most frequent label (ties to the smaller label). Communities are
    the curation lens between connected components (too coarse on
    dense projections) and k-core (a density filter, not a
    partition). Oracle unrolls the identical sweeps."""
    from radient_spark.operators.graph import label_propagation

    edges = _co_supply_edges(spark, sf_dir)
    labels = label_propagation(edges, rounds=_LPA_ROUNDS)
    return labels.groupBy(F.col("community")).agg(
        F.count(F.lit(1)).alias("n_nodes"),
        F.min("node").alias("min_node"),
    )


_LPA_ROUNDS = 4


def _lpa_sql(rounds: int = _LPA_ROUNDS) -> str:
    parts = [
        _CO_SUPPLY_SQL_PREFIX,
        """, l0 AS MATERIALIZED (
  SELECT DISTINCT u AS node, u AS lbl FROM bidir
)""",
    ]
    for i in range(1, rounds + 1):
        parts.append(
            f""", l{i} AS MATERIALIZED (
  SELECT node, lbl FROM (
    SELECT e.u AS node, l.lbl, COUNT(*) AS c,
      row_number() OVER (PARTITION BY e.u ORDER BY COUNT(*) DESC, l.lbl)
        AS rn
    FROM bidir e JOIN l{i - 1} l ON e.v = l.node
    GROUP BY e.u, l.lbl
  ) WHERE rn = 1
)"""
        )
    parts.append(
        f"""
SELECT lbl AS community, CAST(COUNT(*) AS BIGINT) AS n_nodes,
  MIN(node) AS min_node
FROM l{rounds} GROUP BY lbl"""
    )
    return "".join(parts)


def q_wl_structural_classes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weisfeiler-Lehman structural-duplicate classes (operators/
    graph.py wl_colors): after 2 color-refinement rounds, suppliers
    sharing a WL color have indistinguishable 2-hop co-supply
    neighborhoods — the dedup primitive for LINKED records, where
    row-level fields match but the question is whether the structure
    around them does. md5 + ordered string aggregation are portable,
    so the oracle replays the refinement exactly."""
    from radient_spark.operators.graph import wl_colors

    edges = _co_supply_edges(spark, sf_dir)
    colors = wl_colors(edges, rounds=_WL_ROUNDS)
    return (
        colors.groupBy("wl_color")
        .agg(
            F.count(F.lit(1)).alias("n_nodes"),
            F.min("node").alias("min_node"),
        )
        .filter(F.col("n_nodes") >= 2)
    )


_WL_ROUNDS = 2


def _wl_sql(rounds: int = _WL_ROUNDS) -> str:
    parts = [
        _CO_SUPPLY_SQL_PREFIX,
        """, c0 AS MATERIALIZED (
  SELECT u AS node, CAST(COUNT(*) AS VARCHAR) AS color
  FROM bidir GROUP BY u
)""",
    ]
    for i in range(1, rounds + 1):
        parts.append(
            f""", c{i} AS MATERIALIZED (
  SELECT c.node, substr(md5(c.color || '|' || n.ns), 1, 16) AS color
  FROM c{i - 1} c JOIN (
    SELECT e.u AS node, string_agg(l.color, ',' ORDER BY l.color) AS ns
    FROM bidir e JOIN c{i - 1} l ON e.v = l.node GROUP BY e.u
  ) n ON n.node = c.node
)"""
        )
    parts.append(
        f"""
SELECT color AS wl_color, CAST(COUNT(*) AS BIGINT) AS n_nodes,
  MIN(node) AS min_node
FROM c{rounds} GROUP BY color HAVING COUNT(*) >= 2"""
    )
    return "".join(parts)


def q_data_contract_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Declarative data-contract validation of the orders feed
    (operators/validate.py): all row-level rules (not-null, enum,
    range, regex) fuse into ONE conditional-aggregate scan; the unique
    rule runs as its own pass (countDistinct fused with other heavy
    aggregates would force Catalyst's Expand). One row per rule with
    exact violation counts — the ingest gate every downstream consumer
    reads first."""
    from radient_spark.operators.validate import validate

    orders = load_tables(spark, sf_dir)["orders"]
    rules = [
        {"name": "custkey_not_null", "type": "not_null", "column": "o_custkey"},
        {
            "name": "status_enum",
            "type": "accepted_values",
            "column": "o_orderstatus",
            "values": ["O", "F", "P"],
        },
        {
            "name": "price_range",
            "type": "range",
            "column": "o_totalprice",
            "lo": 1.0,
            "hi": 600000.0,
        },
        {
            "name": "priority_format",
            "type": "regex",
            "column": "o_orderpriority",
            "pattern": "^[1-5]-[A-Z]+$",
        },
        {"name": "orderkey_unique", "type": "unique", "column": "o_orderkey"},
    ]
    return validate(orders, rules).orderBy("rule_name")


_Q_CONTRACT_SQL = """
SELECT 'custkey_not_null' AS rule_name, 'not_null' AS rule_type,
  'o_custkey' AS column_name,
  CAST(SUM(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT)
    AS n_violations,
  CAST(COUNT(*) AS BIGINT) AS n_checked
FROM orders
UNION ALL
SELECT 'status_enum', 'accepted_values', 'o_orderstatus',
  CAST(SUM(CASE WHEN o_orderstatus IS NULL
                  OR o_orderstatus NOT IN ('O', 'F', 'P')
            THEN 1 ELSE 0 END) AS BIGINT),
  CAST(COUNT(*) AS BIGINT)
FROM orders
UNION ALL
SELECT 'price_range', 'range', 'o_totalprice',
  CAST(SUM(CASE WHEN o_totalprice IS NULL OR o_totalprice < 1.0
                  OR o_totalprice > 600000.0
            THEN 1 ELSE 0 END) AS BIGINT),
  CAST(COUNT(*) AS BIGINT)
FROM orders
UNION ALL
SELECT 'priority_format', 'regex', 'o_orderpriority',
  CAST(SUM(CASE WHEN o_orderpriority IS NULL
                  OR NOT regexp_matches(o_orderpriority, '^[1-5]-[A-Z]+$')
            THEN 1 ELSE 0 END) AS BIGINT),
  CAST(COUNT(*) AS BIGINT)
FROM orders
UNION ALL
SELECT 'orderkey_unique', 'unique', 'o_orderkey',
  CAST(COUNT(o_orderkey) - COUNT(DISTINCT o_orderkey) AS BIGINT),
  CAST(COUNT(*) AS BIGINT)
FROM orders
ORDER BY rule_name
"""


def q_temporal_dedup_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Burst (temporal) deduplication census: an event is a duplicate
    when the SAME (user, event_type) fired again within 10 minutes of
    the immediately preceding occurrence — retry storms, double
    clicks, at-least-once replays. The batch analogue of
    streaming.dedup_stream's keep-first contract, reported per event
    type. One key-partitioned window (lag over (user, type)); the gap
    test is exact microsecond INTERVAL arithmetic — portable on the
    TIMESTAMP_NTZ the feed carries, where epoch conversions would drag
    in a session timezone."""
    events = load_tables(spark, sf_dir)["events"]
    w = Window.partitionBy("user_id", "event_type").orderBy("ts", "event_id")
    flagged = events.withColumn(
        "prev_ts", F.lag(F.col("ts")).over(w)
    ).withColumn(
        "is_dup",
        F.when(
            F.col("prev_ts").isNotNull()
            & (F.col("ts") < F.col("prev_ts") + F.expr("INTERVAL 10 MINUTES")),
            F.lit(1),
        ).otherwise(F.lit(0)),
    )
    return flagged.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum("is_dup").cast("long").alias("n_dups"),
        (F.count(F.lit(1)) - F.sum("is_dup")).cast("long").alias("n_kept"),
    )


_Q_TEMPORAL_DEDUP_SQL = """
WITH flagged AS (
  SELECT event_type,
    CASE WHEN ts < lag(ts) OVER (
           PARTITION BY user_id, event_type ORDER BY ts, event_id
         ) + INTERVAL '10 minutes' THEN 1 ELSE 0 END AS is_dup
  FROM events
)
SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_events,
  CAST(SUM(is_dup) AS BIGINT) AS n_dups,
  CAST(COUNT(*) - SUM(is_dup) AS BIGINT) AS n_kept
FROM flagged GROUP BY event_type
"""


def q_pareto_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-brand Pareto frontier of parts: cheapest-AND-largest shortlist
    (minimize p_retailprice, maximize p_size) via the distributed 2-D
    skyline (operators/skyline.py) — per-(group, x) min-y summary,
    strict prefix-min window over SUMMARY rows only, join back. The
    oracle is the quadratic NOT EXISTS dominance definition, so the
    scale plan is checked against the textbook semantics."""
    from radient_spark.operators.skyline import skyline_2d

    part = load_tables(spark, sf_dir)["part"]
    sky = skyline_2d(
        part, "p_retailprice", "p_size", ["p_brand"], maximize_y=True
    )
    return sky.select("p_brand", "p_partkey", "p_retailprice", "p_size")


_Q_PARETO_SQL = """
SELECT a.p_brand, a.p_partkey, a.p_retailprice, a.p_size
FROM part a
WHERE NOT EXISTS (
  SELECT 1 FROM part b
  WHERE b.p_brand = a.p_brand
    AND b.p_retailprice <= a.p_retailprice AND b.p_size >= a.p_size
    AND (b.p_retailprice < a.p_retailprice OR b.p_size > a.p_size)
)
"""


def q_snapshot_diff_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Row-level snapshot reconciliation (operators/reconcile.py
    snapshot_diff): two deterministic views of orders — the "old"
    snapshot missing keys = 0 (mod 10), the "new" missing keys = 5 and
    restating every mod-7 price — full-outer-joined on the key with
    md5 payload comparison, reported as per-status counts. The
    drill-down companion to q_snapshot_fingerprints."""
    from radient_spark.operators.reconcile import snapshot_diff

    orders = load_tables(spark, sf_dir)["orders"]
    old = orders.filter(F.col("o_orderkey") % 10 != 0)
    new = orders.filter(F.col("o_orderkey") % 10 != 5).withColumn(
        "o_totalprice",
        F.when(
            F.col("o_orderkey") % 7 == 0, F.col("o_totalprice") + F.lit(1.0)
        ).otherwise(F.col("o_totalprice")),
    )
    payload = [F.col("o_orderstatus"), F.col("o_totalprice")]
    diff = snapshot_diff(old, new, ["o_orderkey"], payload)
    return diff.groupBy("status").agg(
        F.count(F.lit(1)).alias("n_keys"),
        F.min("o_orderkey").alias("min_key"),
        F.max("o_orderkey").alias("max_key"),
    )


_Q_SNAPDIFF_SQL = """
WITH old AS (
  SELECT o_orderkey AS k, o_orderstatus AS st, o_totalprice AS pr
  FROM orders WHERE o_orderkey % 10 != 0
), new AS (
  SELECT o_orderkey AS k, o_orderstatus AS st,
    CASE WHEN o_orderkey % 7 = 0 THEN o_totalprice + 1.0
         ELSE o_totalprice END AS pr
  FROM orders WHERE o_orderkey % 10 != 5
), tagged AS (
  SELECT COALESCE(o.k, n.k) AS k,
    CASE WHEN o.k IS NULL THEN 'added'
         WHEN n.k IS NULL THEN 'removed'
         WHEN o.st != n.st OR o.pr != n.pr THEN 'changed' END AS status
  FROM old o FULL OUTER JOIN new n ON o.k = n.k
)
SELECT status, CAST(COUNT(*) AS BIGINT) AS n_keys,
  MIN(k) AS min_key, MAX(k) AS max_key
FROM tagged WHERE status IS NOT NULL GROUP BY status
"""


def q_id_gap_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Surrogate-key gap census of the orders feed (operators/
    reconcile.py sequence_gaps): histogram of missing-run lengths in
    o_orderkey (TPC-H keys are sparse by construction, so the shape is
    rich). The Spark plan is the bucketed formulation — per-bucket
    windows + a summary-only boundary window; the oracle is the
    single-reducer lead() spec it must equal."""
    from radient_spark.operators.reconcile import sequence_gaps

    orders = load_tables(spark, sf_dir)["orders"]
    return sequence_gaps(orders, "o_orderkey")


_Q_ID_GAP_SQL = """
WITH p AS (
  SELECT o_orderkey AS k,
    lead(o_orderkey) OVER (ORDER BY o_orderkey) AS nk
  FROM (SELECT DISTINCT o_orderkey FROM orders)
)
SELECT nk - k - 1 AS gap_len, CAST(COUNT(*) AS BIGINT) AS n_gaps
FROM p WHERE nk > k + 1 GROUP BY gap_len
"""


def q_classifier_pr_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Precision/recall/F1 threshold sweep for the Catalyst-served
    quality classifier (same integer scoring as
    q_classifier_calibration, positives = lang == 'en'): 15 thresholds
    on an exact integer grid between the observed score min and max,
    all confusion counts in ONE conditional-aggregate pass over the
    scored table cross-joined with the broadcast 15-row grid (map-side
    combine collapses the 15x fan-out to 15 rows). Every ratio is a
    nonnegative integer floor division in ppm — the operating-point
    table you pick a production threshold from."""
    from radient_spark.operators.classify import linear_classifier_score

    dim = 64
    weights = [float((i * 2654435761) % 1001 - 500) for i in range(dim)]
    docs = (
        load_tables(spark, sf_dir)["documents"]
        .filter(F.length(F.trim("text")) > 0)
        .select("doc_id", "lang", "text")
    )
    scored = linear_classifier_score(
        docs, weights, bias=0.0, out_col="__raw", mean=False
    ).select(
        (F.col("lang") == "en").cast("long").alias("is_pos"),
        F.col("__raw").cast("long").alias("total_w"),
    )
    stats = scored.agg(
        F.min("total_w").alias("mn"), F.max("total_w").alias("mx")
    )
    grid = stats.select(
        F.explode(F.sequence(F.lit(0), F.lit(14))).alias("__i"),
        "mn",
        "mx",
    ).select(
        F.col("__i").cast("long").alias("thr_idx"),
        "mn",
        "mx",
    ).select(
        "thr_idx",
        F.expr("mn + ((mx - mn) * thr_idx) div 15").alias("threshold"),
    )
    agg = (
        scored.crossJoin(F.broadcast(grid))
        .groupBy("thr_idx", "threshold")
        .agg(
            F.sum(
                (F.col("total_w") >= F.col("threshold")).cast("long")
            ).alias("n_pred_pos"),
            F.sum(
                F.when(
                    F.col("total_w") >= F.col("threshold"), F.col("is_pos")
                ).otherwise(F.lit(0))
            ).cast("long").alias("tp"),
            F.sum("is_pos").cast("long").alias("n_pos"),
        )
    )
    scored_out = agg.select(
        "thr_idx",
        "threshold",
        "n_pred_pos",
        "tp",
        F.expr("tp * 1000000L div n_pred_pos").alias("precision_ppm"),
        F.when(
            F.col("n_pos") > 0, F.expr("tp * 1000000L div n_pos")
        ).alias("recall_ppm"),
    )
    f1 = F.expr(
        "CASE WHEN precision_ppm + coalesce(recall_ppm, 0L) > 0 "
        "THEN (2 * precision_ppm * coalesce(recall_ppm, 0L)) "
        "div (precision_ppm + coalesce(recall_ppm, 0L)) ELSE 0L END"
    )
    return scored_out.withColumn("f1_ppm", f1.cast("long"))


_Q_PR_CURVE_SQL = r"""
WITH slots AS (
  SELECT doc_id, lang,
    CAST(('0x' || substring(md5(unnest(
      regexp_split_to_array(trim(text), '\s+'))), 1, 8))::BIGINT % 64
      AS BIGINT) AS slot
  FROM documents WHERE length(trim(text)) > 0
), scored AS (
  SELECT doc_id, CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS is_pos,
    CAST(SUM((slot * 2654435761) % 1001 - 500) AS BIGINT) AS total_w
  FROM slots GROUP BY doc_id, lang
), stats AS (
  SELECT MIN(total_w) AS mn, MAX(total_w) AS mx FROM scored
), idx AS (
  SELECT unnest(generate_series(0, 14)) AS thr_idx, mn, mx FROM stats
), grid AS (
  SELECT thr_idx, mn + ((mx - mn) * thr_idx) // 15 AS threshold FROM idx
), agg AS (
  SELECT g.thr_idx, g.threshold,
    CAST(SUM(CASE WHEN s.total_w >= g.threshold THEN 1 ELSE 0 END)
      AS BIGINT) AS n_pred_pos,
    CAST(SUM(CASE WHEN s.total_w >= g.threshold THEN s.is_pos ELSE 0 END)
      AS BIGINT) AS tp,
    CAST(SUM(s.is_pos) AS BIGINT) AS n_pos
  FROM scored s, grid g GROUP BY g.thr_idx, g.threshold
)
SELECT thr_idx, threshold, n_pred_pos, tp,
  tp * 1000000 // n_pred_pos AS precision_ppm,
  CASE WHEN n_pos > 0 THEN tp * 1000000 // n_pos END AS recall_ppm,
  CASE WHEN tp * 1000000 // n_pred_pos
         + COALESCE(CASE WHEN n_pos > 0 THEN tp * 1000000 // n_pos END, 0) > 0
    THEN (2 * (tp * 1000000 // n_pred_pos)
          * COALESCE(CASE WHEN n_pos > 0 THEN tp * 1000000 // n_pos END, 0))
      // (tp * 1000000 // n_pred_pos
          + COALESCE(CASE WHEN n_pos > 0 THEN tp * 1000000 // n_pos END, 0))
    ELSE 0 END AS f1_ppm
FROM agg
"""


def q_grouped_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source fingerprints of the documents corpus (operators/
    reconcile.py grouped_fingerprint) — the binary-search layer of a
    100 TB reconciliation: compare per-source checksums first, run the
    key-level snapshot_diff only inside sources that disagree."""
    from radient_spark.operators.reconcile import grouped_fingerprint

    docs = load_tables(spark, sf_dir)["documents"]
    return grouped_fingerprint(
        docs, ["source"], [F.col("doc_id"), F.col("lang"), F.col("text")]
    )


_Q_GROUPED_FP_SQL = """
SELECT source, CAST(COUNT(*) AS BIGINT) AS n_rows,
  CAST(SUM(CAST(('0x' || substr(md5(
    coalesce(CAST(doc_id AS VARCHAR), chr(0) || 'null') || '|' ||
    coalesce(CAST(lang AS VARCHAR), chr(0) || 'null') || '|' ||
    coalesce(CAST(text AS VARCHAR), chr(0) || 'null')), 1, 15))
    AS BIGINT)) % 1152921504606846976 AS BIGINT) AS checksum
FROM documents GROUP BY source
"""


def q_containment_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric CONTAINMENT near-dup pairs: containment =
    |A intersect B| / min(|A|, |B|) — catches subset duplication
    (quote-and-extend, aggregation pages) that symmetric Jaccard
    misses: a doc fully contained in a 10x larger one has Jaccard
    ~0.1 but containment 1.0 (Broder's resemblance-vs-containment
    distinction). Same inverted-index posting join as
    q_ngram_jaccard_pairs — shared-token counts per candidate pair,
    sizes broadcast back — with the asymmetric denominator; exact
    integer-ratio division. Shares operators/dedup.token_pair_counts
    (pass max_df=N on zipfian corpora to bound the posting self-join)."""
    from radient_spark.operators.dedup import token_pair_counts

    docs = load_tables(spark, sf_dir)["documents"]
    toks = _widen_narrow_scan(
        docs.filter(F.length(F.trim("text")) > 0)
    ).select(
        "doc_id",
        "source",
        F.array_distinct(F.split(F.trim("text"), r"\s+")).alias("toks"),
    )
    counts = token_pair_counts(toks, id_col="doc_id", part_col="source")
    cont = F.col("shared") / F.least("na", "nb")
    return (
        counts.withColumn("containment", cont)
        .filter(F.col("containment") >= 0.8)
        .select("source", "id_a", "id_b", "containment")
    )


_Q_CONTAINMENT_SQL = r"""
WITH toks AS (
  SELECT doc_id, source,
    list_distinct(regexp_split_to_array(trim(text), '\s+')) AS t
  FROM documents WHERE length(trim(text)) > 0
)
SELECT a.source, a.doc_id AS id_a, b.doc_id AS id_b,
  CAST(len(list_distinct(list_intersect(a.t, b.t))) AS DOUBLE)
    / LEAST(len(a.t), len(b.t)) AS containment
FROM toks a JOIN toks b ON a.source = b.source AND a.doc_id < b.doc_id
WHERE CAST(len(list_distinct(list_intersect(a.t, b.t))) AS DOUBLE)
    / LEAST(len(a.t), len(b.t)) >= 0.8
"""


def q_rolling_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling 7-day distinct-user estimates from merged daily HLL
    sketches (operators/sketch.py hll_rolling_cardinality) — the N-day
    active-users dashboard computed the only way that scales: ONE scan
    builds per-day registers (days x 2^p rows regardless of event
    volume); every rolling point merges sketches, never rescans
    events. Exact rolling countDistinct joined alongside shows the
    sketch error; both columns oracle-replayed."""
    from radient_spark.operators.sketch import hll_rolling_cardinality

    ev = load_tables(spark, sf_dir)["events"]
    est = hll_rolling_cardinality(ev, "ts", "user_id", window_days=7, p=12)
    daily_users = (
        ev.select(
            F.date_trunc("day", F.col("ts")).alias("uday"), "user_id"
        ).distinct()
    )
    days = daily_users.select(F.col("uday").alias("day")).distinct()
    exact = (
        days.join(
            daily_users,
            (F.col("uday") <= F.col("day"))
            & (F.col("uday") > F.col("day") - F.expr("INTERVAL 7 DAYS")),
        )
        .groupBy("day")
        .agg(F.countDistinct("user_id").alias("exact_distinct"))
    )
    return est.join(exact, "day").select(
        F.date_format("day", "yyyy-MM-dd").alias("day"),
        "exact_distinct",
        "n_registers_set",
        "estimate",
    )


def _rolling_hll_sql() -> str:
    from radient_spark.operators.sketch import hll_rolling_sql

    return f"""
WITH est AS ({hll_rolling_sql("events", "ts", "user_id", 7, 12)}),
daily_users AS MATERIALIZED (
  SELECT DISTINCT date_trunc('day', ts) AS uday, user_id FROM events
),
days AS (SELECT DISTINCT uday AS day FROM daily_users),
exact AS (
  SELECT d.day, COUNT(DISTINCT u.user_id) AS exact_distinct
  FROM days d JOIN daily_users u
    ON u.uday <= d.day AND u.uday > d.day - INTERVAL 7 DAY
  GROUP BY d.day
)
SELECT CAST(e.day AS VARCHAR) AS day, x.exact_distinct,
  e.n_registers_set, e.estimate
FROM est e JOIN exact x ON e.day = x.day
"""


def q_bfs_reach_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blast-zone census: BFS layers (operators/graph.py bfs_layers)
    from the 3 highest-degree suppliers over the co-supply graph —
    how many suppliers sit within 1, 2, 3 hops of the hubs (the
    contamination-radius / influence-reach question). One synchronized
    frontier superstep per depth, Pregel-style; oracle unrolls the
    identical levels."""
    from radient_spark.operators.graph import bfs_layers

    # Persist the co-supply projection (optimization r12, guide §5):
    # the hub-seed degree ranking AND bfs_layers' adjacency roster both
    # consume it — unpersisted, each re-ran the lineitem roster
    # aggregation + pair explode. bfs_layers materializes every level
    # eagerly (per-level localCheckpoint), so the cache can be dropped
    # as soon as it returns.
    edges = _co_supply_edges(spark, sf_dir).persist()
    bidir = edges.select(F.col("src").alias("u"), F.col("dst").alias("v"))
    deg = (
        bidir.unionByName(
            edges.select(F.col("dst").alias("u"), F.col("src").alias("v"))
        )
        .groupBy("u")
        .agg(F.count(F.lit(1)).alias("d"))
    )
    seeds = (
        deg.orderBy(F.col("d").desc(), F.col("u").asc())
        .limit(3)
        .select(F.col("u").alias("node"))
    )
    layers = bfs_layers(edges, seeds, max_depth=_BFS_DEPTH)
    edges.unpersist()
    return layers.groupBy("depth").agg(F.count(F.lit(1)).alias("n_nodes"))


_BFS_DEPTH = 3


def _bfs_sql(depth: int = _BFS_DEPTH) -> str:
    parts = [
        _CO_SUPPLY_SQL_PREFIX,
        """, degt AS (
  SELECT u AS n, COUNT(*) AS d FROM bidir GROUP BY u
), seeds AS (
  SELECT n FROM degt ORDER BY d DESC, n LIMIT 3
), v0 AS MATERIALIZED (SELECT n, 0 AS depth FROM seeds
), f0 AS MATERIALIZED (SELECT n FROM v0)""",
    ]
    for i in range(1, depth + 1):
        parts.append(
            f""", f{i} AS MATERIALIZED (
  SELECT DISTINCT e.v AS n FROM bidir e JOIN f{i - 1} s ON e.u = s.n
  WHERE e.v NOT IN (SELECT n FROM v{i - 1})
), v{i} AS MATERIALIZED (
  SELECT * FROM v{i - 1} UNION ALL SELECT n, {i} AS depth FROM f{i}
)"""
        )
    parts.append(
        f"""
SELECT depth, CAST(COUNT(*) AS BIGINT) AS n_nodes
FROM v{depth} GROUP BY depth"""
    )
    return "".join(parts)


def q_hyperball_neighborhood(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Neighborhood function N(t) of the supplier co-supply graph by
    HyperBall (operators/graph.py hyperball, Boldi & Vigna 2011):
    per-node HLL ball counters iterated register-wise over edges —
    state is nodes x 2^p register rows regardless of ball sizes, the
    only way the average-distance question scales. N(t) sums per-node
    estimates through DECIMAL; the oracle replays registers, merge
    rounds, and the estimate arithmetic bit-for-bit."""
    from radient_spark.operators.graph import hyperball

    edges = _co_supply_edges(spark, sf_dir, cap=8)
    return hyperball(edges, rounds=_HYPERBALL_ROUNDS, p=7)


_HYPERBALL_ROUNDS = 3


def _hyperball_sql(rounds: int = _HYPERBALL_ROUNDS, p: int = 7) -> str:
    from radient_spark.operators.sketch import hll_alpha

    m = 1 << p
    numer = repr(hll_alpha(m) * m * m * float(1 << 50))
    rho_cap = 61 - p
    est_sql = f"""
  SELECT {{T}} AS t, CAST(COUNT(*) AS BIGINT) AS n_nodes,
    CAST(SUM(CAST(ROUND(CASE
      WHEN {numer} / CAST(s_set + ({m} - n_set) * (1::BIGINT << 50)
             AS DOUBLE) <= 2.5 * {m} AND ({m} - n_set) > 0
      THEN {float(m)!r} * ln({float(m)!r} / CAST({m} - n_set AS DOUBLE))
      ELSE {numer} / CAST(s_set + ({m} - n_set) * (1::BIGINT << 50)
             AS DOUBLE)
    END, 4) AS DECIMAL(18,4))) AS DOUBLE) AS n_reachable_pairs_est
  FROM (
    SELECT node, COUNT(*) AS n_set,
      SUM(CAST(2.0 ** (50 - rho) AS BIGINT)) AS s_set
    FROM r{{T}} GROUP BY node
  )"""
    parts = [
        _co_supply_sql_prefix(8),
        f""", r0 AS MATERIALIZED (
  SELECT node, h % {m} AS idx,
    CASE WHEN h // {m} = 0 THEN {rho_cap}
         ELSE {rho_cap} - length(to_base(h // {m}, 2)) END AS rho
  FROM (
    SELECT node,
      ('0x' || substring(md5(CAST(node AS VARCHAR)), 1, 15))::BIGINT AS h
    FROM (SELECT DISTINCT u AS node FROM bidir)
  )
)""",
    ]
    for i in range(1, rounds + 1):
        parts.append(
            f""", r{i} AS MATERIALIZED (
  SELECT node, idx, MAX(rho) AS rho FROM (
    SELECT node, idx, rho FROM r{i - 1}
    UNION ALL
    SELECT e.u AS node, r.idx, r.rho
    FROM bidir e JOIN r{i - 1} r ON r.node = e.v
  ) GROUP BY node, idx
)"""
        )
    selects = [est_sql.replace("{T}", str(t)) for t in range(rounds + 1)]
    return "".join(parts) + "\nSELECT * FROM (" + (
        "\nUNION ALL\n".join(selects)
    ) + "\n)"


def q_personalized_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Random-walk-with-restart proximity to customer #1 over the
    customer<->supplier trade graph (operators/graph.py
    personalized_pagerank_integer): all restart mass returns to the
    seed, so rank = closeness to that customer — the related-entities
    / recommendation primitive. 3 integer power-iteration rounds,
    top-20 by proximity (TakeOrderedAndProject truncation BEFORE the
    20-row ranking window); unrolled integer CTE oracle."""
    from radient_spark.operators.graph import personalized_pagerank_integer
    from radient_spark.operators.retrieval import rank_by

    t = load_tables(spark, sf_dir)
    # dedup folds into the roster collect_set — see q_pagerank_bipartite
    eb = (
        t["orders"]
        .join(t["lineitem"], F.col("o_orderkey") == F.col("l_orderkey"))
        .select(
            (F.col("o_custkey") * 2).alias("src"),
            (F.col("l_suppkey") * 2 + 1).alias("dst"),
        )
    )
    edges = eb.unionByName(
        eb.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    ranks = personalized_pagerank_integer(
        edges, seed_node=2, iters=3, dedup_edges=True
    )
    top = (
        ranks.filter(F.col("rank_units") > 0)
        .orderBy(F.col("rank_units").desc(), F.col("node").asc())
        .limit(20)
    )
    return rank_by(top, "rank_units", id_col="node").select(
        "node", "rank_units", F.col("rank").cast("int").alias("rank")
    )


_Q_PPR_SQL = """
WITH eb AS (
  SELECT DISTINCT o_custkey*2 AS src, l_suppkey*2+1 AS dst
  FROM orders JOIN lineitem ON o_orderkey = l_orderkey
), edges AS (
  SELECT src, dst FROM eb UNION ALL SELECT dst AS src, src AS dst FROM eb
), nodes AS (
  SELECT DISTINCT src AS node FROM edges
),
deg AS (SELECT src, COUNT(*) AS d FROM edges GROUP BY src),
r0 AS (SELECT node,
  CASE WHEN node = 2 THEN 1000000000000 ELSE 0 END AS r FROM nodes),
s1 AS (
  SELECT e.dst AS node, SUM(r0.r // dg.d) AS s
  FROM edges e JOIN r0 ON e.src = r0.node JOIN deg dg ON e.src = dg.src
  GROUP BY e.dst
), r1 AS (
  SELECT nd.node,
    CASE WHEN nd.node = 2 THEN 1000000000000 * 15 // 100 ELSE 0 END
      + (85 * COALESCE(s1.s, 0)) // 100 AS r
  FROM nodes nd LEFT JOIN s1 ON nd.node = s1.node
), s2 AS (
  SELECT e.dst AS node, SUM(r1.r // dg.d) AS s
  FROM edges e JOIN r1 ON e.src = r1.node JOIN deg dg ON e.src = dg.src
  GROUP BY e.dst
), r2 AS (
  SELECT nd.node,
    CASE WHEN nd.node = 2 THEN 1000000000000 * 15 // 100 ELSE 0 END
      + (85 * COALESCE(s2.s, 0)) // 100 AS r
  FROM nodes nd LEFT JOIN s2 ON nd.node = s2.node
), s3 AS (
  SELECT e.dst AS node, SUM(r2.r // dg.d) AS s
  FROM edges e JOIN r2 ON e.src = r2.node JOIN deg dg ON e.src = dg.src
  GROUP BY e.dst
), r3 AS (
  SELECT nd.node,
    CASE WHEN nd.node = 2 THEN 1000000000000 * 15 // 100 ELSE 0 END
      + (85 * COALESCE(s3.s, 0)) // 100 AS r
  FROM nodes nd LEFT JOIN s3 ON nd.node = s3.node
)
SELECT node, rank_units, CAST(rank AS INT) AS rank FROM (
  SELECT node, CAST(r AS BIGINT) AS rank_units,
    row_number() OVER (ORDER BY r DESC, node) AS rank
  FROM r3 WHERE r > 0
) WHERE rank <= 20
"""


def q_harmonic_centrality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 suppliers by HyperBall-estimated harmonic centrality
    (operators/graph.py hyperball_harmonic): each node reached at
    distance t contributes 1/t — the centrality a billion-node graph
    cannot get from per-node BFS. Ball estimates land on the 1e-4
    lattice and deltas scale by lcm(1..3), so the whole score is exact
    integer arithmetic; truncate-then-rank (TakeOrderedAndProject);
    the oracle replays registers, merges, and the lattice sum."""
    from radient_spark.operators.graph import hyperball_harmonic
    from radient_spark.operators.retrieval import rank_by

    edges = _co_supply_edges(spark, sf_dir, cap=8)
    harm = hyperball_harmonic(edges, rounds=3, p=7)
    top = harm.orderBy(
        F.col("harmonic_lattice").desc(), F.col("node").asc()
    ).limit(20)
    return rank_by(top, "harmonic_lattice", id_col="node").select(
        "node", "harmonic_lattice", F.col("rank").cast("int").alias("rank")
    )


def _harmonic_sql(rounds: int = 3, p: int = 7) -> str:
    import math

    from radient_spark.operators.sketch import hll_alpha

    m = 1 << p
    numer = repr(hll_alpha(m) * m * m * float(1 << 50))
    rho_cap = 61 - p
    lcm = math.lcm(*range(1, rounds + 1))
    parts = [
        _co_supply_sql_prefix(8),
        f""", r0 AS MATERIALIZED (
  SELECT node, h % {m} AS idx,
    CASE WHEN h // {m} = 0 THEN {rho_cap}
         ELSE {rho_cap} - length(to_base(h // {m}, 2)) END AS rho
  FROM (
    SELECT node,
      ('0x' || substring(md5(CAST(node AS VARCHAR)), 1, 15))::BIGINT AS h
    FROM (SELECT DISTINCT u AS node FROM bidir)
  )
)""",
    ]
    for i in range(1, rounds + 1):
        parts.append(
            f""", r{i} AS MATERIALIZED (
  SELECT node, idx, MAX(rho) AS rho FROM (
    SELECT node, idx, rho FROM r{i - 1}
    UNION ALL
    SELECT e.u AS node, r.idx, r.rho
    FROM bidir e JOIN r{i - 1} r ON r.node = e.v
  ) GROUP BY node, idx
)"""
        )
    for t in range(rounds + 1):
        parts.append(
            f""", est{t} AS MATERIALIZED (
  SELECT node, CAST(CAST(ROUND(CASE
      WHEN {numer} / CAST(s_set + ({m} - n_set) * (1::BIGINT << 50)
             AS DOUBLE) <= 2.5 * {m} AND ({m} - n_set) > 0
      THEN {float(m)!r} * ln({float(m)!r} / CAST({m} - n_set AS DOUBLE))
      ELSE {numer} / CAST(s_set + ({m} - n_set) * (1::BIGINT << 50)
             AS DOUBLE)
    END, 4) AS DECIMAL(18,4)) * 10000 AS BIGINT) AS e{t}
  FROM (
    SELECT node, COUNT(*) AS n_set,
      SUM(CAST(2.0 ** (50 - rho) AS BIGINT)) AS s_set
    FROM r{t} GROUP BY node
  )
)"""
        )
    joins = " ".join(
        f"JOIN est{t} USING (node)" for t in range(1, rounds + 1)
    )
    harm = " + ".join(
        f"(e{t} - e{t - 1}) * {lcm // t}" for t in range(1, rounds + 1)
    )
    parts.append(
        f"""
SELECT node, harmonic_lattice, CAST(rank AS INT) AS rank FROM (
  SELECT node, CAST({harm} AS BIGINT) AS harmonic_lattice,
    row_number() OVER (ORDER BY {harm} DESC, node) AS rank
  FROM est0 {joins}
) WHERE rank <= 20"""
    )
    return "".join(parts)


def q_bloom_runtime_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Runtime-filter join: revenue per nation for BUILDING-segment
    customers, with the fact scan pre-pruned by a Bloom filter built
    from the dimension keys (operators/dedup.py bloom_build/gate) —
    the dynamic-filter pattern modern optimizers inject for selective
    dim-fact joins: the fact side drops non-matching rows in a
    zero-shuffle map before the join; the exact broadcast join then
    removes Bloom false positives, so the aggregate is EXACT. The
    n_fact_total / n_fact_after_bloom audit columns show the pruning
    the filter bought (deterministic — md5 double hashing)."""
    from radient_spark.operators.dedup import bloom_build, bloom_gate

    M, K = 65536, 5
    t = load_tables(spark, sf_dir)
    dim = t["customer"].filter(F.col("c_mktsegment") == "BUILDING").select(
        "c_custkey", "c_nationkey"
    )
    dkeys = dim.select(F.col("c_custkey").cast("string").alias("__k"))
    bitmap = bloom_build(dkeys, "__k", M, K)
    fact = t["orders"].withColumn("__k", F.col("o_custkey").cast("string"))
    gated = bloom_gate(fact, bitmap, "__k", M, K)
    kept = gated.filter(F.col("maybe_dup"))
    # ONE probe evaluation total (optimization r12, guide §1.2/§2.3):
    # the md5 double-hash gate is the expensive per-fact-row work, and
    # the old two-branch shape (survivor-count aggregate + inner-join
    # aggregate) evaluated it twice. LEFT-joining the survivors instead
    # keeps Bloom false positives as a NULL-nation group, so a single
    # grouped pass yields the per-nation aggregate AND the survivor
    # count (window-sum over the nation-sized grouped table); exact
    # results are unchanged because c_custkey is unique (the left join
    # cannot duplicate fact rows) and false positives never matched the
    # inner join anyway. n_fact_total drops the probe entirely — a
    # column-pruned count-star scan.
    per_key = (
        kept.join(
            F.broadcast(dim), F.col("o_custkey") == F.col("c_custkey"), "left"
        )
        .join(
            F.broadcast(t["nation"]),
            F.col("c_nationkey") == F.col("n_nationkey"),
            "left",
        )
        .groupBy("n_name")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            dsum(F.col("o_totalprice"), "revenue"),
        )
    )
    w_all = Window.partitionBy()
    agg = per_key.withColumn(
        "n_fact_after_bloom", F.sum("n_orders").over(w_all)
    ).filter(F.col("n_name").isNotNull())
    total = t["orders"].agg(F.count(F.lit(1)).alias("n_fact_total"))
    return agg.crossJoin(F.broadcast(total)).select(
        "n_name", "n_orders", "revenue", "n_fact_after_bloom", "n_fact_total"
    )


_Q_BLOOM_RF_SQL = """
WITH dim AS (
  SELECT c_custkey, c_nationkey FROM customer WHERE c_mktsegment = 'BUILDING'
), cpos AS (
  SELECT DISTINCT (h1 + i * h2) % 65536 AS pos
  FROM (
    SELECT
      ('0x' || substring(md5(CAST(c_custkey AS VARCHAR)), 1, 15))::BIGINT
        % 65536 AS h1,
      (('0x' || substring(md5(CAST(c_custkey AS VARCHAR)), 17, 15))::BIGINT
        % 65536) | 1 AS h2
    FROM dim
  ), range(0, 5) t(i)
), probes AS (
  SELECT o_orderkey, o_custkey, o_totalprice, (h1 + i * h2) % 65536 AS pos
  FROM (
    SELECT o_orderkey, o_custkey, o_totalprice,
      ('0x' || substring(md5(CAST(o_custkey AS VARCHAR)), 1, 15))::BIGINT
        % 65536 AS h1,
      (('0x' || substring(md5(CAST(o_custkey AS VARCHAR)), 17, 15))::BIGINT
        % 65536) | 1 AS h2
    FROM orders
  ), range(0, 5) t(i)
), gated AS (
  SELECT o_orderkey, o_custkey, o_totalprice,
    bool_and(c.pos IS NOT NULL) AS maybe
  FROM probes p LEFT JOIN cpos c USING (pos)
  GROUP BY o_orderkey, o_custkey, o_totalprice
), kept AS (
  SELECT * FROM gated WHERE maybe
), stats AS (
  SELECT (SELECT COUNT(*) FROM orders) AS n_fact_total,
    CAST(COUNT(*) AS BIGINT) AS n_fact_after_bloom
  FROM kept
), agg AS (
  SELECT n.n_name, CAST(COUNT(*) AS BIGINT) AS n_orders,
    CAST(SUM(CAST(k.o_totalprice AS DECIMAL(18,6))) AS DOUBLE) AS revenue
  FROM kept k
  JOIN dim d ON k.o_custkey = d.c_custkey
  JOIN nation n ON d.c_nationkey = n.n_nationkey
  GROUP BY n.n_name
)
SELECT a.n_name, a.n_orders, a.revenue, s.n_fact_after_bloom, s.n_fact_total
FROM agg a, stats s
"""


def q_histogram_join_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-width histogram join-cardinality estimation — the textbook
    optimizer statistic: bucket both join keys by ``key div 32``,
    estimate |R JOIN S| as sum over buckets of (n_r * n_s) div width
    (within-bucket uniformity), and report it against the exact join
    count with the error in ppm. Complements the CMS-sketch estimator
    (q_join_size_estimates) with the histogram family optimizers
    actually ship; all arithmetic is nonnegative integer."""
    W = 32
    t = load_tables(spark, sf_dir)
    la = (
        t["lineitem"]
        .groupBy(F.expr(f"l_orderkey div {W}").alias("b"))
        .agg(F.count(F.lit(1)).alias("na"))
    )
    ob = (
        t["orders"]
        .groupBy(F.expr(f"o_orderkey div {W}").alias("b"))
        .agg(F.count(F.lit(1)).alias("nb"))
    )
    per_bucket = la.join(ob, "b").select(
        "b", F.expr(f"(na * nb) div {W}").alias("est_b")
    )
    est = per_bucket.agg(
        F.count(F.lit(1)).alias("n_buckets"),
        F.sum("est_b").cast("long").alias("est_join_size"),
    )
    exact = (
        t["lineitem"]
        .join(t["orders"], F.col("l_orderkey") == F.col("o_orderkey"))
        .agg(F.count(F.lit(1)).alias("exact_join_size"))
    )
    return (
        est.crossJoin(F.broadcast(exact))
        .withColumn(
            "err_ppm",
            F.expr(
                "abs(est_join_size - exact_join_size) * 1000000L"
                " div exact_join_size"
            ),
        )
    )


_Q_HIST_JOIN_SQL = """
WITH la AS (
  SELECT l_orderkey // 32 AS b, COUNT(*) AS na FROM lineitem GROUP BY 1
), ob AS (
  SELECT o_orderkey // 32 AS b, COUNT(*) AS nb FROM orders GROUP BY 1
), est AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_buckets,
    CAST(SUM((na * nb) // 32) AS BIGINT) AS est_join_size
  FROM la JOIN ob USING (b)
), exact AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS exact_join_size
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
)
SELECT n_buckets, est_join_size, exact_join_size,
  CAST(abs(est_join_size - exact_join_size) * 1000000 // exact_join_size
    AS BIGINT) AS err_ppm
FROM est, exact
"""


def q_ndv_join_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The third textbook join-cardinality estimator, completing the
    statistics family (CMS: q_join_size_estimates; histogram:
    q_histogram_join_estimate): |R JOIN S| ~ n_r * n_s / max(d_r, d_s)
    under containment-of-value-sets. NDVs here are exact countDistinct
    (one aggregate per side; swap in HLL for the sketch-budget
    variant), and all arithmetic is nonnegative integer with err_ppm
    against the exact join count."""
    t = load_tables(spark, sf_dir)
    r = t["lineitem"].agg(
        F.count(F.lit(1)).alias("n_r"),
        F.countDistinct("l_orderkey").alias("d_r"),
    )
    s = t["orders"].agg(
        F.count(F.lit(1)).alias("n_s"),
        F.countDistinct("o_orderkey").alias("d_s"),
    )
    exact = (
        t["lineitem"]
        .join(t["orders"], F.col("l_orderkey") == F.col("o_orderkey"))
        .agg(F.count(F.lit(1)).alias("exact_join_size"))
    )
    return (
        r.crossJoin(F.broadcast(s))
        .crossJoin(F.broadcast(exact))
        .withColumn(
            "est_join_size",
            F.expr("(n_r * n_s) div greatest(d_r, d_s)"),
        )
        .withColumn(
            "err_ppm",
            F.expr(
                "abs(est_join_size - exact_join_size) * 1000000L"
                " div exact_join_size"
            ),
        )
        .select(
            "n_r", "d_r", "n_s", "d_s",
            "est_join_size", "exact_join_size", "err_ppm",
        )
    )


_Q_NDV_JOIN_SQL = """
WITH r AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_r,
    CAST(COUNT(DISTINCT l_orderkey) AS BIGINT) AS d_r
  FROM lineitem
), s AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_s,
    CAST(COUNT(DISTINCT o_orderkey) AS BIGINT) AS d_s
  FROM orders
), exact AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS exact_join_size
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
)
SELECT n_r, d_r, n_s, d_s,
  CAST((n_r * n_s) // GREATEST(d_r, d_s) AS BIGINT) AS est_join_size,
  exact_join_size,
  CAST(abs((n_r * n_s) // GREATEST(d_r, d_s) - exact_join_size) * 1000000
    // exact_join_size AS BIGINT) AS err_ppm
FROM r, s, exact
"""


def q_equidepth_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-depth (quantile) histogram of lineitem extended prices —
    the optimizer statistic for skewed value columns where equi-width
    buckets collapse: 16 buckets of ~equal row count with exact
    (lo, hi, n) per bucket. Bucket assignment rides distributed_ntile
    (operators/dataset.py) — exact global NTILE with NO single-reducer
    sort; the oracle is the bare NTILE window spec the distributed
    plan must equal."""
    from radient_spark.operators.dataset import distributed_ntile

    li = load_tables(spark, sf_dir)["lineitem"].select(
        F.col("l_extendedprice").alias("v"),
        F.col("l_orderkey"),
        F.col("l_linenumber"),
    )
    bucketed = distributed_ntile(
        li,
        16,
        [F.col("v").asc(), F.col("l_orderkey").asc(),
         F.col("l_linenumber").asc()],
        range_col=F.col("v"),
        out_col="bucket",
    )
    return bucketed.groupBy("bucket").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.min("v").alias("lo"),
        F.max("v").alias("hi"),
    )


_Q_EQUIDEPTH_SQL = """
WITH b AS (
  SELECT l_extendedprice AS v,
    NTILE(16) OVER (
      ORDER BY l_extendedprice, l_orderkey, l_linenumber
    ) AS bucket
  FROM lineitem
)
SELECT bucket, CAST(COUNT(*) AS BIGINT) AS n_rows,
  MIN(v) AS lo, MAX(v) AS hi
FROM b GROUP BY bucket
"""


def q_cdc_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC log materialization (operators/merge.cdc_apply): a
    deterministic change log derived from orders — every order inserts
    (seq 1), every 3rd is re-stated under a replacement priority
    (seq 2), every 7th is deleted (seq 3) — is applied latest-wins per
    key with deletes dropped, then the surviving snapshot rolls up per
    priority.  ONE key shuffle (max_by over a version struct, no window
    sort, no join) materializes the snapshot — the consumer half of a
    Debezium-style pipeline at log scale."""
    from radient_spark.operators.merge import cdc_apply

    orders = load_tables(spark, sf_dir)["orders"]
    base = orders.select(
        F.col("o_orderkey").alias("k"),
        F.lit(1).alias("seq"),
        F.lit("upsert").alias("op"),
        F.col("o_orderpriority").alias("prio"),
        F.col("o_totalprice").alias("price"),
    )
    restated = (
        orders.filter(F.col("o_orderkey") % 3 == 0)
        .select(
            F.col("o_orderkey").alias("k"),
            F.lit(2).alias("seq"),
            F.lit("upsert").alias("op"),
            F.lit("9-REPLAYED").alias("prio"),
            F.col("o_totalprice").alias("price"),
        )
    )
    deleted = (
        orders.filter(F.col("o_orderkey") % 7 == 0)
        .select(
            F.col("o_orderkey").alias("k"),
            F.lit(3).alias("seq"),
            F.lit("delete").alias("op"),
            F.lit(None).cast("string").alias("prio"),
            F.lit(None).cast("double").alias("price"),
        )
    )
    log = base.unionByName(restated).unionByName(deleted)
    snap = cdc_apply(log, key_cols=["k"], seq_cols=["seq"], op_col="op")
    return (
        snap.groupBy(F.col("prio").alias("priority"))
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum("n_versions").alias("n_versions"),
            dsum(F.col("price"), "revenue"),
        )
        .orderBy("priority")
    )


_Q_CDC_APPLY_SQL = """
WITH log AS (
  SELECT o_orderkey AS k, 1 AS seq, 'upsert' AS op,
         o_orderpriority AS prio, o_totalprice AS price FROM orders
  UNION ALL
  SELECT o_orderkey, 2, 'upsert', '9-REPLAYED', o_totalprice
  FROM orders WHERE o_orderkey % 3 = 0
  UNION ALL
  SELECT o_orderkey, 3, 'delete', NULL, NULL
  FROM orders WHERE o_orderkey % 7 = 0
), latest AS (
  SELECT k, op, prio, price,
    COUNT(*) OVER (PARTITION BY k) AS n_versions,
    ROW_NUMBER() OVER (PARTITION BY k ORDER BY seq DESC) AS rn
  FROM log
)
SELECT prio AS priority, CAST(COUNT(*) AS BIGINT) AS n_orders,
  CAST(SUM(n_versions) AS BIGINT) AS n_versions,
  CAST(SUM(CAST(price AS DECIMAL(18,6))) AS DOUBLE) AS revenue
FROM latest WHERE rn = 1 AND op <> 'delete'
GROUP BY prio ORDER BY priority
"""


def q_resource_allocation_links(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Link prediction over the supplier co-supply graph: the Resource
    Allocation index (Zhou-Lu-Zhang 2009) RA(a,b) = sum over common
    neighbors z of 1/deg(z), here over the supplier-part bipartite
    graph (common neighbors = parts both supply), in exact integer
    arithmetic (1e6 div deg, summed).  RA is the degree-penalized
    common-neighbors score that beats raw counts on hub-heavy graphs —
    the "suppliers likely to co-supply next" recommender.

    Spark-first: inverted-index posting self-join on the part (same
    bounded shape as token_pair_counts — per-part supplier lists are
    small, never a hub explosion), integer score aggregation,
    TakeOrderedAndProject top-20."""
    li = load_tables(spark, sf_dir)["lineitem"]
    posting = li.select(
        F.col("l_partkey").alias("part"), F.col("l_suppkey").alias("supp")
    ).distinct()
    deg = posting.groupBy("part").agg(F.count(F.lit(1)).alias("deg"))
    a = posting.select("part", F.col("supp").alias("s_a"))
    b = posting.select(F.col("part").alias("part_b"), F.col("supp").alias("s_b"))
    pairs = (
        a.join(
            b,
            (F.col("part") == F.col("part_b"))
            & (F.col("s_a") < F.col("s_b")),
        )
        .join(deg, "part")
        .groupBy("s_a", "s_b")
        .agg(
            F.count(F.lit(1)).alias("n_common"),
            F.sum(F.expr("1000000 div deg")).alias("ra_score"),
        )
    )
    return pairs.orderBy(
        F.desc("ra_score"), F.asc("s_a"), F.asc("s_b")
    ).limit(20)


_Q_RA_LINKS_SQL = """
WITH posting AS (
  SELECT DISTINCT l_partkey AS part, l_suppkey AS supp FROM lineitem
), deg AS (
  SELECT part, COUNT(*) AS deg FROM posting GROUP BY part
)
SELECT a.supp AS s_a, b.supp AS s_b,
  CAST(COUNT(*) AS BIGINT) AS n_common,
  CAST(SUM(1000000 // d.deg) AS BIGINT) AS ra_score
FROM posting a
JOIN posting b ON a.part = b.part AND a.supp < b.supp
JOIN deg d ON d.part = a.part
GROUP BY a.supp, b.supp
ORDER BY ra_score DESC, s_a ASC, s_b ASC
LIMIT 20
"""


def q_max_concurrent_shipments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval-concurrency sweep line: each lineitem is "in transit"
    over [shipdate, shipdate + transit] (inclusive; transit is a
    deterministic 1-14 day function of the line's keys — the testdata
    carries no receiptdate); per supplier, the peak number of
    simultaneous in-transit shipments — the classic max-overlap census
    (warehouse capacity / fleet sizing), computed the only way that
    scales: +1/-1 boundary events and a running sum per supplier,
    NEVER the O(n^2) interval self-join.

    Exit events fire the day AFTER the interval ends and sort BEFORE
    entries on the same date (delta ascending), which is exactly
    inclusive-interval semantics.  Windows are supplier-partitioned
    (bounded per-group, the documented contract); final top-20 is a
    TakeOrderedAndProject."""
    li = load_tables(spark, sf_dir)["lineitem"].withColumn(
        "dur", F.expr("(l_orderkey + l_linenumber) % 14 + 1")
    )
    starts = li.select(
        F.col("l_suppkey").alias("supp"),
        F.col("l_shipdate").alias("dt"),
        F.lit(1).alias("delta"),
        F.col("l_orderkey").alias("okey"),
        F.col("l_linenumber").alias("lnum"),
    )
    ends = li.select(
        F.col("l_suppkey").alias("supp"),
        F.expr("date_add(l_shipdate, cast(dur + 1 AS INT))").alias("dt"),
        F.lit(-1).alias("delta"),
        F.col("l_orderkey").alias("okey"),
        F.col("l_linenumber").alias("lnum"),
    )
    w = (
        Window.partitionBy("supp")
        .orderBy("dt", "delta", "okey", "lnum")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    swept = starts.unionByName(ends).withColumn(
        "load", F.sum("delta").over(w)
    )
    peaks = swept.groupBy("supp").agg(
        F.max("load").alias("peak_concurrent"),
        (F.count(F.lit(1)) / 2).cast("long").alias("n_shipments"),
    )
    return peaks.orderBy(
        F.desc("peak_concurrent"), F.asc("supp")
    ).limit(20)


_Q_MAX_CONCURRENT_SQL = """
WITH ev AS (
  SELECT l_suppkey AS supp, l_shipdate AS dt, 1 AS delta,
         l_orderkey AS okey, l_linenumber AS lnum FROM lineitem
  UNION ALL
  SELECT l_suppkey,
         l_shipdate + (((l_orderkey + l_linenumber) % 14 + 2)
                       * INTERVAL 1 DAY),
         -1, l_orderkey, l_linenumber FROM lineitem
), swept AS (
  SELECT supp, SUM(delta) OVER (
    PARTITION BY supp ORDER BY dt, delta, okey, lnum
    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
  ) AS load
  FROM ev
)
SELECT supp, CAST(MAX(load) AS BIGINT) AS peak_concurrent,
  CAST(COUNT(*) / 2 AS BIGINT) AS n_shipments
FROM swept GROUP BY supp
ORDER BY peak_concurrent DESC, supp ASC LIMIT 20
"""


def q_seasonal_naive_error(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonal-naive forecast audit: predict each hour's event count
    with the count 24 hours earlier and report per-type MAPE — the
    baseline every forecasting pipeline must beat, and the seasonality
    detector (low MAPE = strong daily cycle).  The lag is an EQUI-JOIN
    on hour_ts - 24h, not a window lag: calendar gaps (missing hours)
    would silently misalign a row-lag, and the join is gap-exact at
    any scale.  All-integer ppm arithmetic (counts positive)."""
    ev = load_tables(spark, sf_dir)["events"]
    hourly = ev.groupBy(
        F.col("event_type"),
        F.date_trunc("hour", F.col("ts")).alias("h"),
    ).agg(F.count(F.lit(1)).alias("c"))
    prev = hourly.select(
        "event_type",
        (F.col("h") + F.expr("INTERVAL 24 HOURS")).alias("h"),
        F.col("c").alias("c24"),
    )
    joined = hourly.join(prev, ["event_type", "h"]).withColumn(
        "ape_ppm",
        F.expr("abs(c - c24) * 1000000 div c24"),
    )
    return (
        joined.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_points"),
            F.expr("sum(ape_ppm) div count(1)").alias("mape_ppm"),
            F.max("ape_ppm").alias("max_ape_ppm"),
        )
        .orderBy("event_type")
    )


_Q_SEASONAL_NAIVE_SQL = """
WITH hourly AS (
  SELECT event_type, date_trunc('hour', ts) AS h, COUNT(*) AS c
  FROM events GROUP BY event_type, date_trunc('hour', ts)
), j AS (
  SELECT a.event_type, abs(a.c - b.c) * 1000000 // b.c AS ape_ppm
  FROM hourly a
  JOIN hourly b ON a.event_type = b.event_type
                AND a.h = b.h + INTERVAL 24 HOURS
)
SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_points,
  CAST(SUM(ape_ppm) // COUNT(*) AS BIGINT) AS mape_ppm,
  CAST(MAX(ape_ppm) AS BIGINT) AS max_ape_ppm
FROM j GROUP BY event_type ORDER BY event_type
"""


def q_blocking_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blocking-strategy evaluation (record-linkage QA): for the
    16-char-prefix blocking key, per source — pair completeness (what
    fraction of TRUE near-dup pairs, token Jaccard >= 0.6, share a
    block) and reduction ratio (what fraction of the n*(n-1)/2
    comparison space the blocking avoids).  The two numbers every
    blocking choice trades between (Christen 2012); run it before
    committing a key at corpus scale.  All-integer ppm arithmetic;
    truth pairs ride the shared token_pair_counts verify core."""
    from radient_spark.operators.dedup import token_pair_counts

    docs = load_tables(spark, sf_dir)["documents"].filter(
        F.length(F.trim("text")) > 0
    )
    toks = _widen_narrow_scan(docs).select(
        "doc_id",
        "source",
        F.array_distinct(F.split(F.trim("text"), r"\s+")).alias("toks"),
    )
    truth = (
        token_pair_counts(toks, id_col="doc_id", part_col="source")
        .filter(
            F.col("shared") * 5
            >= (F.col("na") + F.col("nb") - F.col("shared")) * 3
        )
        .select("source", "id_a", "id_b")
    )
    blocked = docs.select(
        "doc_id", "source", F.substring(F.trim("text"), 1, 16).alias("bk")
    )
    cand = (
        blocked.alias("x")
        .join(
            blocked.alias("y"),
            (F.col("x.source") == F.col("y.source"))
            & (F.col("x.bk") == F.col("y.bk"))
            & (F.col("x.doc_id") < F.col("y.doc_id")),
        )
        .select(
            F.col("x.source").alias("source"),
            F.col("x.doc_id").alias("id_a"),
            F.col("y.doc_id").alias("id_b"),
        )
    )
    hits = truth.join(cand, ["source", "id_a", "id_b"], "left_semi")
    per_source = (
        docs.groupBy("source")
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .withColumn(
            "total_pairs",
            F.expr("n_docs * (n_docs - 1) div 2"),
        )
    )
    agg = lambda df, name: df.groupBy("source").agg(  # noqa: E731
        F.count(F.lit(1)).alias(name)
    )
    report = (
        per_source.join(agg(truth, "n_true"), "source", "left")
        .join(agg(cand, "n_cand"), "source", "left")
        .join(agg(hits, "n_hit"), "source", "left")
        .fillna(0, ["n_true", "n_cand", "n_hit"])
    )
    return report.select(
        "source",
        "n_docs",
        "n_true",
        "n_cand",
        "n_hit",
        F.when(
            F.col("n_true") > 0,
            F.expr("n_hit * 1000000 div n_true"),
        ).alias("completeness_ppm"),
        (
            F.lit(1_000_000)
            - F.expr("n_cand * 1000000 div total_pairs")
        ).alias("reduction_ratio_ppm"),
    ).orderBy("source")


_Q_BLOCKING_QUALITY_SQL = r"""
WITH docs AS (
  SELECT doc_id, source, trim(text) AS t
  FROM documents WHERE length(trim(text)) > 0
), toks AS (
  SELECT doc_id, source, list_distinct(regexp_split_to_array(t, '\s+')) AS tk
  FROM docs
), truth AS (
  SELECT a.source, a.doc_id AS id_a, b.doc_id AS id_b
  FROM toks a JOIN toks b ON a.source = b.source AND a.doc_id < b.doc_id
  WHERE len(list_distinct(list_intersect(a.tk, b.tk))) * 5
        >= len(list_distinct(a.tk || b.tk)) * 3
), blocked AS (
  SELECT doc_id, source, substr(t, 1, 16) AS bk FROM docs
), cand AS (
  SELECT x.source, x.doc_id AS id_a, y.doc_id AS id_b
  FROM blocked x JOIN blocked y
    ON x.source = y.source AND x.bk = y.bk AND x.doc_id < y.doc_id
), hits AS (
  SELECT t.* FROM truth t
  WHERE EXISTS (SELECT 1 FROM cand c
    WHERE c.source = t.source AND c.id_a = t.id_a AND c.id_b = t.id_b)
), per_source AS (
  SELECT source, COUNT(*) AS n_docs,
    COUNT(*) * (COUNT(*) - 1) // 2 AS total_pairs
  FROM docs GROUP BY source
)
SELECT p.source, CAST(p.n_docs AS BIGINT) AS n_docs,
  CAST(COALESCE(t.n, 0) AS BIGINT) AS n_true,
  CAST(COALESCE(c.n, 0) AS BIGINT) AS n_cand,
  CAST(COALESCE(h.n, 0) AS BIGINT) AS n_hit,
  CASE WHEN COALESCE(t.n, 0) > 0
       THEN CAST(COALESCE(h.n, 0) * 1000000 // t.n AS BIGINT)
  END AS completeness_ppm,
  CAST(1000000 - COALESCE(c.n, 0) * 1000000 // p.total_pairs AS BIGINT)
    AS reduction_ratio_ppm
FROM per_source p
LEFT JOIN (SELECT source, COUNT(*) AS n FROM truth GROUP BY source) t
  USING (source)
LEFT JOIN (SELECT source, COUNT(*) AS n FROM cand GROUP BY source) c
  USING (source)
LEFT JOIN (SELECT source, COUNT(*) AS n FROM hits GROUP BY source) h
  USING (source)
ORDER BY p.source
"""


def q_prefix_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """n-gram Jaccard near-dup pairs via PPJoin PREFIX FILTERING
    (operators/dedup.prefix_filter_candidates) — the classic
    set-similarity-join pruning for zipfian vocabularies, where
    token_pair_counts' default posting join goes quadratic on
    stopwords and max_df merely caps the blowup: order each doc's
    tokens by global rarity, self-join only the (1-t)*n+1 rarest per
    doc, length-prune, then verify candidates EXACTLY on the full
    token arrays.

    The oracle is the UNFILTERED all-pairs ground truth at the same
    threshold — a hash match proves the prefix filter is complete (no
    qualifying pair escapes the candidate set) and the exact verify is
    sound (no sub-threshold pair survives).  Threshold 3/5 stays
    rational on both sides: the qualifying test is the integer
    cross-multiplication 5*shared >= 3*(na+nb-shared), never a float
    compare; the reported jaccard is one double division of identical
    integers.
    """
    from radient_spark.operators.dedup import (
        prefix_filter_candidates,
        token_pair_counts,
    )

    docs = load_tables(spark, sf_dir)["documents"]
    toks = _widen_narrow_scan(
        docs.filter(F.length(F.trim("text")) > 0)
    ).select(
        "doc_id",
        "source",
        F.array_distinct(F.split(F.trim("text"), r"\s+")).alias("toks"),
    )
    cand = prefix_filter_candidates(
        toks, id_col="doc_id", tokens_col="toks", t_num=3, t_den=5,
        part_col="source",
    )
    counts = token_pair_counts(
        toks, id_col="doc_id", part_col="source", candidates=cand
    )
    return (
        counts.filter(
            F.lit(5) * F.col("shared")
            >= F.lit(3) * (F.col("na") + F.col("nb") - F.col("shared"))
        )
        .select(
            "source",
            "id_a",
            "id_b",
            "shared",
            "na",
            "nb",
            (
                F.col("shared").cast("double")
                / (F.col("na") + F.col("nb") - F.col("shared"))
            ).alias("jaccard"),
        )
    )


_Q_PREFIX_JACCARD_SQL = r"""
WITH toks AS (
  SELECT doc_id, source,
    list_distinct(regexp_split_to_array(trim(text), '\s+')) AS t
  FROM documents WHERE length(trim(text)) > 0
)
SELECT a.source, a.doc_id AS id_a, b.doc_id AS id_b,
  CAST(len(list_intersect(a.t, b.t)) AS INT) AS shared,
  CAST(len(a.t) AS INT) AS na, CAST(len(b.t) AS INT) AS nb,
  CAST(len(list_intersect(a.t, b.t)) AS DOUBLE)
    / (len(a.t) + len(b.t) - len(list_intersect(a.t, b.t))) AS jaccard
FROM toks a JOIN toks b ON a.source = b.source AND a.doc_id < b.doc_id
WHERE 5 * len(list_intersect(a.t, b.t))
      >= 3 * (len(a.t) + len(b.t) - len(list_intersect(a.t, b.t)))
"""


def q_theilsen_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust per-event-type trend: the Theil-Sen estimator (median of
    all pairwise slopes of the DAILY totals) plus the Mann-Kendall
    monotonic-trend statistic S and tau — the outlier-immune
    complement to q_trend_regression's OLS, whose slope one corrupted
    day can drag arbitrarily (Theil-Sen has a 29% breakdown point).

    Exactness: daily totals are integer cents at integer day offsets;
    each pairwise slope is ONE double division of identical integers,
    so both engines produce bit-identical slope multisets; the
    estimator is the LOWER MEDIAN — an order statistic, deterministic
    under ties because the value at a rank of a sorted multiset does
    not depend on tie order.  S is a pure integer sum of signs; tau is
    one rounded division.

    Scale shape: the heavy input collapses in the daily pre-aggregation
    (one shuffle, output rows = groups x days); the pairwise self-join
    is quadratic ONLY in the bounded time horizon (days), never in the
    event count — 10^12 events over 3 years is still just ~600k slope
    rows per group.  Median rank via one per-group window.
    """
    ev = load_tables(spark, sf_dir)["events"]
    day = F.datediff(
        F.col("ts").cast("date"), F.lit("2024-01-01").cast("date")
    ).cast("long")
    cents = F.round(F.col("value") * 100, 0).cast("long")
    daily = ev.groupBy(
        "event_type", day.alias("x")
    ).agg(F.sum(cents).alias("y"))
    a = daily.select(
        "event_type", F.col("x").alias("xa"), F.col("y").alias("ya")
    )
    b = daily.select(
        F.col("event_type").alias("et_b"),
        F.col("x").alias("xb"),
        F.col("y").alias("yb"),
    )
    pairs = a.join(
        b,
        (F.col("event_type") == F.col("et_b")) & (F.col("xa") < F.col("xb")),
    ).select(
        "event_type",
        (
            (F.col("yb") - F.col("ya")).cast("double")
            / (F.col("xb") - F.col("xa"))
        ).alias("slope"),
        F.when(F.col("yb") > F.col("ya"), 1)
        .when(F.col("yb") < F.col("ya"), -1)
        .otherwise(0)
        .cast("long")
        .alias("sgn"),
    )
    w = Window.partitionBy("event_type").orderBy("slope")
    ranked = pairs.withColumn("rn", F.row_number().over(w)).withColumn(
        "m", F.count(F.lit(1)).over(Window.partitionBy("event_type"))
    )
    med = ranked.filter(F.expr("rn = (m + 1) div 2")).select(
        "event_type", F.round("slope", 6).alias("theilsen_slope")
    )
    stats = pairs.groupBy("event_type").agg(
        F.sum("sgn").alias("mk_s"), F.count(F.lit(1)).alias("n_pairs")
    )
    days = daily.groupBy("event_type").agg(F.count(F.lit(1)).alias("n_days"))
    return (
        days.join(stats, "event_type")
        .join(med, "event_type")
        .select(
            "event_type",
            "n_days",
            "theilsen_slope",
            "mk_s",
            F.round(
                F.col("mk_s").cast("double") / F.col("n_pairs").cast("double"),
                6,
            ).alias("mk_tau"),
        )
        .orderBy("event_type")
    )


_Q_THEILSEN_SQL = """
WITH daily AS (
  SELECT event_type,
    CAST(date_diff('day', DATE '2024-01-01', CAST(ts AS DATE)) AS BIGINT)
      AS x,
    CAST(SUM(CAST(ROUND(value * 100, 0) AS BIGINT)) AS BIGINT) AS y
  FROM events GROUP BY 1, 2
), pairs AS (
  SELECT a.event_type,
    CAST(b.y - a.y AS DOUBLE) / (b.x - a.x) AS slope,
    CASE WHEN b.y > a.y THEN 1 WHEN b.y < a.y THEN -1 ELSE 0 END AS sgn
  FROM daily a JOIN daily b
    ON a.event_type = b.event_type AND a.x < b.x
), ranked AS (
  SELECT event_type, slope,
    row_number() OVER (PARTITION BY event_type ORDER BY slope) AS rn,
    COUNT(*) OVER (PARTITION BY event_type) AS m
  FROM pairs
), med AS (
  SELECT event_type, ROUND(slope, 6) AS theilsen_slope
  FROM ranked WHERE rn = (m + 1) // 2
), stats AS (
  SELECT event_type, CAST(SUM(sgn) AS BIGINT) AS mk_s,
    COUNT(*) AS n_pairs
  FROM pairs GROUP BY event_type
), days AS (
  SELECT event_type, COUNT(*) AS n_days FROM daily GROUP BY event_type
)
SELECT d.event_type, CAST(d.n_days AS BIGINT) AS n_days,
  m.theilsen_slope, s.mk_s,
  ROUND(CAST(s.mk_s AS DOUBLE) / s.n_pairs, 6) AS mk_tau
FROM days d JOIN stats s USING (event_type) JOIN med m USING (event_type)
ORDER BY d.event_type
"""


def q_shard_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-export shard manifest: every document lands in one of 16
    shards by a portable md5 hash of its key — stateless and
    append-consistent like hash_split (q_train_val_split), so re-runs,
    engines, and partitionings agree on every assignment — and the
    per-shard manifest row a dataset writer publishes next to the
    files: doc count, token total, distinct sources, doc_id span, and
    an ORDER-INDEPENDENT fingerprint (bit_xor over the members' 60-bit
    md5 keys, commutative, so any engine writing the same shard emits
    the same fingerprint regardless of row order or partitioning —
    the cross-engine shard-integrity check).

    Scale shape: one scan, one 16-group aggregate (map-side partial);
    the distinct-source count rides Expand over 16 groups. At export
    time the same shard column feeds write.partitionBy — manifest and
    layout derive from one expression.
    """
    from radient_spark.functions import text as X
    from radient_spark.operators.dedup import str_hash, str_hash120

    docs = load_tables(spark, sf_dir)["documents"]
    key = F.concat_ws("_", F.lit("shard"), F.col("doc_id"))
    h60, _ = str_hash120(key)
    return (
        docs.withColumn("shard_id", (str_hash(key) % 16).cast("int"))
        .withColumn("__h60", h60)
        .groupBy("shard_id")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(X.token_count(F.col("text")).cast("long")).alias(
                "n_tokens"
            ),
            F.countDistinct("source").alias("n_sources"),
            F.min("doc_id").alias("min_doc_id"),
            F.max("doc_id").alias("max_doc_id"),
            F.expr("bit_xor(__h60)").alias("fingerprint"),
        )
        .orderBy("shard_id")
    )


_Q_SHARD_MANIFEST_SQL = r"""
WITH keyed AS (
  SELECT *,
    CAST(('0x' || substring(md5(concat_ws('_', 'shard', doc_id)), 1, 8))
         ::BIGINT % 16 AS INT) AS shard_id,
    ('0x' || substring(md5(concat_ws('_', 'shard', doc_id)), 1, 15))
      ::BIGINT AS h60
  FROM documents
)
SELECT shard_id, COUNT(*) AS n_docs,
  CAST(SUM(CASE WHEN length(trim(text)) = 0 THEN 0
           ELSE len(regexp_split_to_array(trim(text), '\s+')) END)
       AS BIGINT) AS n_tokens,
  CAST(COUNT(DISTINCT source) AS BIGINT) AS n_sources,
  MIN(doc_id) AS min_doc_id, MAX(doc_id) AS max_doc_id,
  BIT_XOR(h60) AS fingerprint
FROM keyed GROUP BY shard_id ORDER BY shard_id
"""


def q_psi_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population Stability Index per event_type between the first and
    second half of the feed — THE standard deployed-model drift gate
    (PSI < 0.1 stable / 0.1-0.25 shifting / > 0.25 act), completing the
    drift family: chi2 tests token-category drift
    (q_lang_drift_chi2), embedding_drift tests representation drift,
    PSI tests the VALUE distribution a score/feature feeds.

    The base/current split is a fixed cutover timestamp at the feed's
    midpoint (the events feed spans 2024-01-01..01-30; cutover
    2024-01-16) — a true temporal reference-vs-current window, not a
    per-month day split, so cross-month drift stays visible if the
    feed grows.

    Determinism contract (the DSIR pattern): bins are fixed $50-wide
    integer cent buckets (cents div 5000 — no float boundary can flake
    a row's bin), both halves Laplace-smoothed over the union bin set;
    each bin's ln is ONE log of a ratio of exactly-representable
    integer products, rounded to 6; the (p - q) factor is a difference
    of divisions of the same exact integers (bit-identical doubles on
    both engines); per-bin terms round to 8 decimals and sum as
    DECIMAL(28,8), so the total is aggregation-order-independent.

    Scale shape: one scan -> (event_type, half, bin) counts; everything
    after operates on the bin table (groups x bins rows, bounded by the
    value domain).
    """
    ev = load_tables(spark, sf_dir)["events"]
    half = F.when(
        F.col("ts") < F.lit("2024-01-16").cast("timestamp"), F.lit("base")
    ).otherwise(F.lit("curr"))
    cents = F.round(F.col("value") * 100, 0).cast("long")
    binned = ev.select(
        "event_type", half.alias("half"),
        (cents - (cents % 5000)).alias("bin"),
    )
    counts = binned.groupBy("event_type", "bin").agg(
        F.sum(F.when(F.col("half") == "base", 1).otherwise(0)).alias("cb"),
        F.sum(F.when(F.col("half") == "curr", 1).otherwise(0)).alias("cc"),
    )
    w = Window.partitionBy("event_type")
    t = (
        counts.withColumn("tb", F.sum("cb").over(w))
        .withColumn("tc", F.sum("cc").over(w))
        .withColumn("nb", F.count(F.lit(1)).over(w))
    )
    p = (F.col("cb") + 1).cast("double") / (F.col("tb") + F.col("nb")).cast(
        "double"
    )
    q = (F.col("cc") + 1).cast("double") / (F.col("tc") + F.col("nb")).cast(
        "double"
    )
    ln_ratio = F.round(
        F.log(
            ((F.col("cb") + 1) * (F.col("tc") + F.col("nb"))).cast("double")
            / ((F.col("cc") + 1) * (F.col("tb") + F.col("nb"))).cast("double")
        ),
        6,
    )
    term = F.round((p - q) * ln_ratio, 8).cast("decimal(28,8)")
    return (
        t.groupBy("event_type")
        .agg(
            F.max("tb").alias("n_base"),
            F.max("tc").alias("n_curr"),
            F.max("nb").cast("long").alias("n_bins"),
            F.sum(term).cast("double").alias("psi"),
        )
        .withColumn(
            "verdict",
            F.when(F.col("psi") < 0.1, F.lit("stable"))
            .when(F.col("psi") < 0.25, F.lit("shifting"))
            .otherwise(F.lit("act")),
        )
        .orderBy("event_type")
    )


_Q_PSI_SQL = """
WITH binned AS (
  SELECT event_type,
    CASE WHEN ts < TIMESTAMP '2024-01-16' THEN 'base' ELSE 'curr' END AS half,
    CAST(ROUND(value * 100, 0) AS BIGINT)
      - (CAST(ROUND(value * 100, 0) AS BIGINT) % 5000) AS bin
  FROM events
), counts AS (
  SELECT event_type, bin,
    CAST(SUM(CASE WHEN half = 'base' THEN 1 ELSE 0 END) AS BIGINT) AS cb,
    CAST(SUM(CASE WHEN half = 'curr' THEN 1 ELSE 0 END) AS BIGINT) AS cc
  FROM binned GROUP BY event_type, bin
), t AS (
  SELECT *,
    SUM(cb) OVER (PARTITION BY event_type) AS tb,
    SUM(cc) OVER (PARTITION BY event_type) AS tc,
    COUNT(*) OVER (PARTITION BY event_type) AS nb
  FROM counts
), terms AS (
  SELECT event_type, tb, tc, nb,
    CAST(ROUND(
      (CAST(cb + 1 AS DOUBLE) / CAST(tb + nb AS DOUBLE)
       - CAST(cc + 1 AS DOUBLE) / CAST(tc + nb AS DOUBLE))
      * ROUND(LN(CAST((cb + 1) * (tc + nb) AS DOUBLE)
                 / CAST((cc + 1) * (tb + nb) AS DOUBLE)), 6),
      8) AS DECIMAL(28,8)) AS term
  FROM t
)
SELECT event_type,
  CAST(MAX(tb) AS BIGINT) AS n_base, CAST(MAX(tc) AS BIGINT) AS n_curr,
  CAST(MAX(nb) AS BIGINT) AS n_bins,
  CAST(SUM(term) AS DOUBLE) AS psi,
  CASE WHEN CAST(SUM(term) AS DOUBLE) < 0.1 THEN 'stable'
       WHEN CAST(SUM(term) AS DOUBLE) < 0.25 THEN 'shifting'
       ELSE 'act' END AS verdict
FROM terms GROUP BY event_type ORDER BY event_type
"""


# ---------------------------------------------------------------------------
# Registry

QUERIES: dict[str, tuple[Callable[[SparkSession, str], DataFrame], str | None]] = {
    "q01_pricing_summary": (q01_pricing_summary, _Q01_SQL),
    "q03_shipping_priority": (q03_shipping_priority, _Q03_SQL),
    "q05_regional_revenue": (q05_regional_revenue, _Q05_SQL),
    "q_customers_inactive_1995": (q_customers_inactive_1995, _Q_INACTIVE_SQL),
    "q_repeat_customers": (q_repeat_customers, _Q_REPEAT_SQL),
    "q_top3_orders_per_customer": (q_top3_orders_per_customer, _Q_TOP3_SQL),
    "q_rollup_returns": (q_rollup_returns, _Q_ROLLUP_SQL),
    "q_monthly_revenue_momentum": (q_monthly_revenue_momentum, _Q_MOM_SQL),
    "q_price_histogram": (q_price_histogram, _Q_HIST_SQL),
    "q_events_hourly": (q_events_hourly, _Q_EVENTS_HOURLY_SQL),
    "q_user_sessions": (q_user_sessions, _Q_SESSIONS_SQL),
    "q_asof_purchase_click": (q_asof_purchase_click, _Q_ASOF_SQL),
    "q_orders_above_segment_avg": (q_orders_above_segment_avg, _Q_ABOVE_AVG_SQL),
    "q_vec_topk_cosine": (q_vec_topk_cosine, _Q_VEC_TOPK_SQL),
    "q_vec_nearest_neighbor": (q_vec_nearest_neighbor, _Q_VEC_NN_SQL),
    "q_vec_similar_pairs": (q_vec_similar_pairs, _Q_VEC_PAIRS_SQL),
    "q_vec_knn_blocked": (q_vec_knn_blocked, _Q_VEC_KNN_BLOCKED_SQL),
    "q_doc_stats_by_source": (q_doc_stats_by_source, _Q_DOC_STATS_SQL),
    "q_token_frequencies": (q_token_frequencies, _Q_TOKEN_FREQ_SQL),
    "q_lang_stats": (q_lang_stats, _Q_LANG_SQL),
    "q_exact_dedup_report": (q_exact_dedup_report, _Q_DEDUP_REPORT_SQL),
    "q_minhash_signatures": (q_minhash_signatures, _minhash_sql(8)),
    "q_hashing_vectorizer_slots": (q_hashing_vectorizer_slots, _Q_HASHVEC_SQL),
    "q_ngram_jaccard_pairs": (q_ngram_jaccard_pairs, _Q_NGRAM_JACCARD_SQL),
    "q_sparse_tfidf_terms": (q_sparse_tfidf_terms, _Q_SPARSE_TFIDF_SQL),
    "q_train_val_split": (q_train_val_split, _Q_SPLIT_SQL),
    "q_quality_filter_report": (q_quality_filter_report, _Q_QUALITY_FILTER_SQL),
    "q_pii_scrub_stats": (q_pii_scrub_stats, _Q_PII_SQL),
    "q_token_packing": (q_token_packing, _Q_PACKING_SQL),
    "q_cube_priority_status": (q_cube_priority_status, _Q_CUBE_SQL),
    "q_semi_high_value_customers": (q_semi_high_value_customers, _Q_SEMI_SQL),
    "q_priority_string_stats": (q_priority_string_stats, _Q_PRIORITY_STR_SQL),
    "q_json_props_stats": (q_json_props_stats, _Q_JSON_SQL),
    "q_events_weekday": (q_events_weekday, _Q_WEEKDAY_SQL),
    "q_doc_quality_scores": (q_doc_quality_scores, _Q_QUALITY_SQL),
    "q_langid_confusion": (q_langid_confusion, _langid_sql()),
    "q_fastrp_supplier_embeddings": (q_fastrp_supplier_embeddings, _Q_FASTRP_SQL),
    "q_media_pipeline": (q_media_pipeline, None),
    "q_mel_clip_features": (q_mel_clip_features, _mel_clip_sql()),
    "q_ann_search": (q_ann_search, _ann_lattice_sql()),
    "q_ann_search_exact": (q_ann_search_exact, _Q_IVF_EXACT_SQL),
    "q_ivf_search": (q_ivf_search, _ivf_search_sql()),
    "q_ivf_search_exact": (q_ivf_search_exact, _Q_IVF_EXACT_SQL),
    "q_running_customer_balance": (q_running_customer_balance, _Q_RUNNING_SQL),
    "q_churned_customers": (q_churned_customers, _Q_CHURN_SQL),
    "q_purchase_error_window": (q_purchase_error_window, _Q_RANGE_JOIN_SQL),
    "q_segment_status_pivot": (q_segment_status_pivot, _Q_PIVOT_SQL),
    "q_yearly_revenue_full_outer": (q_yearly_revenue_full_outer, _Q_FULL_OUTER_SQL),
    "q_part_price_span": (q_part_price_span, _Q_SPAN_SQL),
    "q18_large_quantity_orders": (q18_large_quantity_orders, _Q18_SQL),
    "q16_brand_supplier_counts": (q16_brand_supplier_counts, _Q16_SQL),
    "q22_wealthy_inactive": (q22_wealthy_inactive, _Q22_SQL),
    "q02_top_supplier_per_part": (q02_top_supplier_per_part, _Q02_SQL),
    "q07_nation_volume": (q07_nation_volume, _Q07_SQL),
    "q08_market_share": (q08_market_share, _Q08_SQL),
    "q14_promo_revenue_pct": (q14_promo_revenue_pct, _Q14_SQL),
    "q_fingerprint_similarity": (q_fingerprint_similarity, _fingerprint_sql()),
    "q_dup_groups": (q_dup_groups, _cc_groups_sql(_minhash_dup_pairs_sql())),
    "q_fuzzy_dedup_keep_report": (
        q_fuzzy_dedup_keep_report,
        _fuzzy_keep_sql(_minhash_dup_pairs_sql()),
    ),
    "q_corpus_filtered_search": (q_corpus_filtered_search, _Q_CORPUS_SEARCH_SQL),
    "q_embedding_dup_groups": (q_embedding_dup_groups, _cc_groups_sql(_vec_pairs_sql(0.45))),
    "q_bpe_token_stats": (q_bpe_token_stats, _Q_BPE_SQL),
    "q_approx_cardinalities": (q_approx_cardinalities, _Q_APPROX_CARD_SQL),
    "q_rolling_fingerprints": (q_rolling_fingerprints, _Q_ROLLING_SQL),
    "q_simhash_fingerprints": (q_simhash_fingerprints, _Q_SIMHASH_SQL),
    "q_minhash_dup_pairs": (q_minhash_dup_pairs, _minhash_dup_pairs_sql()),
    "q_lsh_dedup_flags": (q_lsh_dedup_flags, _lsh_flags_sql()),
    "q_srp_dedup_flags": (q_srp_dedup_flags, _srp_flags_sql()),
    "q04_priority_late_ship": (q04_priority_late_ship, _Q04_SQL),
    "q06_forecast_revenue": (q06_forecast_revenue, _Q06_SQL),
    "q09_product_profit": (q09_product_profit, _Q09_SQL),
    "q10_returned_items": (q10_returned_items, _Q10_SQL),
    "q11_important_part_value": (q11_important_part_value, _Q11_SQL),
    "q12_priority_class_by_flag": (q12_priority_class_by_flag, _Q12_SQL),
    "q13_customer_order_counts": (q13_customer_order_counts, _Q13_SQL),
    "q15_top_supplier": (q15_top_supplier, _Q15_SQL),
    "q17_small_quantity_revenue": (q17_small_quantity_revenue, _Q17_SQL),
    "q19_disjunctive_revenue": (q19_disjunctive_revenue, _Q19_SQL),
    "q20_dominant_supplier": (q20_dominant_supplier, _Q20_SQL),
    "q21_waiting_supplier": (q21_waiting_supplier, _Q21_SQL),
    "q_decontamination_report": (q_decontamination_report, _Q_DECONTAM_SQL),
    "q_temperature_mix": (q_temperature_mix, _Q_TEMPERATURE_SQL),
    "q_repeated_ngram_report": (q_repeated_ngram_report, _Q_REPEATED_NGRAM_SQL),
    "q_perplexity_buckets": (q_perplexity_buckets, _Q_PERPLEXITY_SQL),
    "q_sq8_topk": (q_sq8_topk, _Q_SQ8_SQL),
    "q_dsir_logweights": (q_dsir_logweights, _Q_DSIR_SQL),
    "q_pq_topk": (q_pq_topk, _pq_sql(16, 16, 1, 42, 80, 10)),
    "q_curation_pipeline": (q_curation_pipeline, _Q_CURATION_SQL),
    "q_incremental_ingest_dedup": (
        q_incremental_ingest_dedup,
        _Q_INCREMENTAL_SQL,
    ),
    "q_document_chunks": (q_document_chunks, _Q_CHUNKS_SQL),
    "q_kmeans_embedding_clusters": (
        q_kmeans_embedding_clusters,
        _kmeans_report_sql(10, 2, 42),
    ),
    "q_semdedup_pairs": (q_semdedup_pairs, _semdedup_sql(10, 1, 42)),
    "q_cluster_balanced_sample": (
        q_cluster_balanced_sample,
        _cluster_sample_sql(10, 1, 42, 20),
    ),
    "q_quality_classifier_scores": (
        q_quality_classifier_scores,
        _Q_CLASSIFIER_SQL,
    ),
    "q_merge_upsert_report": (q_merge_upsert_report, _Q_MERGE_SQL),
    "q_zorder_buckets": (q_zorder_buckets, _zorder_sql(10, 14)),
    "q_hard_negatives": (q_hard_negatives, _Q_HARD_NEG_SQL),
    "q_pagerank_bipartite": (q_pagerank_bipartite, _Q_PAGERANK_SQL),
    "q_paragraph_dedup_report": (q_paragraph_dedup_report, _Q_PARA_DEDUP_SQL),
    "q_token_budget_cut": (q_token_budget_cut, _Q_BUDGET_CUT_SQL),
    "q_bm25_search": (q_bm25_search, _Q_BM25_SQL),
    "q_hybrid_search_rrf": (q_hybrid_search_rrf, _Q_HYBRID_SQL),
    "q_matryoshka_topk": (q_matryoshka_topk, _Q_MATRYOSHKA_SQL),
    "q_binary_hamming_topk": (q_binary_hamming_topk, _binary_hamming_sql()),
    "q_curation_pipeline_v2": (q_curation_pipeline_v2, _Q_CURATION_V2_SQL),
    "q_gopher_rules_report": (q_gopher_rules_report, _Q_GOPHER_SQL),
    "q_bigram_logppl": (q_bigram_logppl, _Q_BIGRAM_PPL_SQL),
    "q_stratified_sample": (q_stratified_sample, _Q_STRATIFIED_SQL),
    "q_session_funnel": (q_session_funnel, _Q_FUNNEL_SQL),
    "q_embedding_drift": (q_embedding_drift, _Q_DRIFT_SQL),
    "q_epoch_interleave": (q_epoch_interleave, _Q_EPOCH_SQL),
    "q_mmr_rerank": (q_mmr_rerank, _Q_MMR_SQL),
    "q_bloom_dedup_gate": (q_bloom_dedup_gate, _Q_BLOOM_GATE_SQL),
    "q_cohort_retention": (q_cohort_retention, _Q_COHORT_SQL),
    "q_ngram_diversity": (q_ngram_diversity, _Q_NGRAM_DIVERSITY_SQL),
    "q_value_percentiles": (q_value_percentiles, _Q_VALUE_PCTL_SQL),
    "q_table_profile": (q_table_profile, _Q_TABLE_PROFILE_SQL),
    "q_skew_report": (q_skew_report, _Q_SKEW_SQL),
    "q_hll_cardinalities": (q_hll_cardinalities, _hll_audit_sql()),
    "q_cms_heavy_hitters": (q_cms_heavy_hitters, _Q_CMS_SQL),
    "q_integrity_report": (q_integrity_report, _integrity_sql()),
    "q_cross_source_overlap": (q_cross_source_overlap, _Q_CROSS_SOURCE_SQL),
    "q_rolling_anomalies": (q_rolling_anomalies, _Q_ANOMALY_SQL),
    "q_oov_report": (q_oov_report, _Q_OOV_SQL),
    "q_hll_by_source": (q_hll_by_source, _hll_by_source_sql()),
    "q_normalization_audit": (q_normalization_audit, _normalization_sql()),
    "q_correlation_matrix": (q_correlation_matrix, _correlation_sql()),
    "q_ivfpq_search": (q_ivfpq_search, _ivfpq_sql()),
    "q_snm_dedup_pairs": (q_snm_dedup_pairs, _snm_sql()),
    "q_event_paths": (q_event_paths, _Q_EVENT_PATHS_SQL),
    "q_simhash_near_pairs": (q_simhash_near_pairs, _Q_SIMHASH_PAIRS_SQL),
    "q_hll_set_algebra": (q_hll_set_algebra, _hll_set_algebra_sql()),
    "q_weighted_sample": (q_weighted_sample, _Q_WEIGHTED_SAMPLE_SQL),
    "q_timeseries_gapfill": (q_timeseries_gapfill, _Q_GAPFILL_SQL),
    "q_sql_api_nation_margin": (q_sql_api_nation_margin, _Q_SQL_API_SQL),
    "q_sql_api_vector_topk": (q_sql_api_vector_topk, _Q_IVF_EXACT_SQL),
    "q_cms_by_lang": (q_cms_by_lang, _Q_CMS_LANG_SQL),
    "q_event_transitions": (q_event_transitions, _Q_TRANSITIONS_SQL),
    "q_curation_pipeline_v3": (q_curation_pipeline_v3, _curation_v3_sql()),
    "q_triangle_count": (q_triangle_count, _Q_TRIANGLE_SQL),
    "q_native_session_windows": (q_native_session_windows, _Q_NATIVE_SESSION_SQL),
    "q_weekly_p95_trend": (q_weekly_p95_trend, _Q_WEEKLY_P95_SQL),
    "q_mad_outliers": (q_mad_outliers, _Q_MAD_SQL),
    "q_negative_samples": (q_negative_samples, _Q_NEG_SAMPLES_SQL),
    "q_lang_drift_chi2": (q_lang_drift_chi2, _Q_LANG_DRIFT_SQL),
    "q_quantile_transform": (q_quantile_transform, _Q_QUANTILE_TRANSFORM_SQL),
    "q_token_pmi": (q_token_pmi, _Q_TOKEN_PMI_SQL),
    "q_trend_regression": (q_trend_regression, _Q_TREND_SQL),
    "q_edit_distance_pairs": (q_edit_distance_pairs, _edit_distance_sql()),
    "q_attribution_first_touch": (q_attribution_first_touch, _Q_ATTRIBUTION_SQL),
    "q_bloom_calibration": (q_bloom_calibration, _bloom_calibration_sql()),
    "q_histogram_quantiles": (q_histogram_quantiles, _Q_HIST_QUANTILES_SQL),
    "q_star_dup_groups": (q_star_dup_groups, _cc_groups_sql(_minhash_dup_pairs_sql())),
    "q_scd2_status_history": (q_scd2_status_history, _Q_SCD2_SQL),
    "q_delete_cascade_audit": (q_delete_cascade_audit, _Q_CASCADE_SQL),
    "q_semantic_decontamination": (q_semantic_decontamination, _Q_SEMANTIC_DECON_SQL),
    "q_minhash_calibration": (q_minhash_calibration, _minhash_calibration_sql()),
    "q_bpe_merges": (q_bpe_merges, _bpe_sql()),
    "q_bpe_vocab_stats": (q_bpe_vocab_stats, _bpe_vocab_sql()),
    "q_entity_resolution": (q_entity_resolution, _entity_resolution_sql()),
    "q_token_budget_allocation": (q_token_budget_allocation, _Q_WATER_FILL_SQL),
    "q_winsorized_means": (q_winsorized_means, _Q_WINSOR_SQL),
    "q_cluster_silhouette": (q_cluster_silhouette, _silhouette_sql()),
    "q_join_size_estimates": (q_join_size_estimates, _join_size_sql()),
    "q_keyword_extraction": (q_keyword_extraction, _Q_KEYWORDS_SQL),
    "q_attribution_linear": (q_attribution_linear, _Q_ATTRIBUTION_LINEAR_SQL),
    "q_curation_pipeline_v4": (q_curation_pipeline_v4, _curation_v4_sql()),
    "q_clustering_coefficients": (q_clustering_coefficients, _Q_CLUSTERING_COEF_SQL),
    "q_time_to_convert": (q_time_to_convert, _Q_TIME_TO_CONVERT_SQL),
    "q_ngram_novelty": (q_ngram_novelty, _Q_NOVELTY_SQL),
    "q_zipf_exponent": (q_zipf_exponent, _Q_ZIPF_SQL),
    "q_embedding_srp_pairs": (q_embedding_srp_pairs, _srp_pairs_sql()),
    "q_dedup_strategy_comparison": (q_dedup_strategy_comparison, _dedup_comparison_sql()),
    "q_source_freshness": (q_source_freshness, _Q_FRESHNESS_SQL),
    "q_session_bounce_rate": (q_session_bounce_rate, _Q_BOUNCE_SQL),
    "q_repeat_purchase_interval": (q_repeat_purchase_interval, _Q_REPEAT_PURCHASE_SQL),
    # round 5
    "q_uniform_sample_k": (q_uniform_sample_k, _Q_UNIFORM_SAMPLE_SQL),
    "q_partition_plan": (q_partition_plan, _Q_PARTITION_PLAN_SQL),
    "q_heaps_law": (q_heaps_law, _Q_HEAPS_SQL),
    "q_pii_luhn_audit": (q_pii_luhn_audit, _Q_LUHN_SQL),
    "q_c4_line_filter_report": (q_c4_line_filter_report, _Q_C4_SQL),
    # incremental merge must equal the FULL recompute: same oracle SQL
    # as q_scd2_status_history
    "q_scd2_incremental_merge": (q_scd2_incremental_merge, _Q_SCD2_SQL),
    "q_golden_record": (q_golden_record, _Q_GOLDEN_SQL),
    "q_retrieval_metrics": (q_retrieval_metrics, _Q_RETRIEVAL_METRICS_SQL),
    "q_domain_mixture": (q_domain_mixture, _Q_DOMAIN_MIX_SQL),
    "q_frequent_part_pairs": (q_frequent_part_pairs, _Q_FREQ_PAIRS_SQL),
    "q_classifier_calibration": (q_classifier_calibration, _Q_CALIBRATION_SQL),
    "q_ewma_spikes": (q_ewma_spikes, _Q_EWMA_SQL),
    "q_k_anonymity_audit": (q_k_anonymity_audit, _Q_K_ANON_SQL),
    # delta-join refresh must equal the full-view recompute (the oracle)
    "q_incremental_join_view": (q_incremental_join_view, _Q_INCR_JOIN_SQL),
    "q_approx_groupby_certificate": (
        q_approx_groupby_certificate,
        _Q_AQP_SQL,
    ),
    "q_curation_pipeline_v5": (q_curation_pipeline_v5, _curation_v5_sql()),
    "q_weighted_sample_k": (q_weighted_sample_k, _Q_ES_SAMPLE_SQL),
    "q_embedding_variance": (q_embedding_variance, _Q_EMB_VAR_SQL),
    "q_embedding_covariance": (q_embedding_covariance, _Q_EMB_COV_SQL),
    "q_multipass_snm_pairs": (q_multipass_snm_pairs, _multipass_snm_sql()),
    "q_srp_multiprobe_pairs": (q_srp_multiprobe_pairs, _srp_multiprobe_sql()),
    "q_kcore_suppliers": (q_kcore_suppliers, _kcore_sql()),
    "q_sparse_dot_topk": (q_sparse_dot_topk, _Q_SPARSE_DOT_SQL),
    "q_benford_prices": (q_benford_prices, _benford_sql()),
    "q_greedy_coverage": (q_greedy_coverage, _greedy_cov_sql()),
    "q_snapshot_fingerprints": (q_snapshot_fingerprints, _snapshot_fp_sql()),
    "q_lpa_communities": (q_lpa_communities, _lpa_sql()),
    "q_wl_structural_classes": (q_wl_structural_classes, _wl_sql()),
    "q_data_contract_report": (q_data_contract_report, _Q_CONTRACT_SQL),
    "q_temporal_dedup_report": (q_temporal_dedup_report, _Q_TEMPORAL_DEDUP_SQL),
    "q_pareto_parts": (q_pareto_parts, _Q_PARETO_SQL),
    "q_snapshot_diff_report": (q_snapshot_diff_report, _Q_SNAPDIFF_SQL),
    "q_id_gap_audit": (q_id_gap_audit, _Q_ID_GAP_SQL),
    "q_classifier_pr_curve": (q_classifier_pr_curve, _Q_PR_CURVE_SQL),
    "q_grouped_fingerprints": (q_grouped_fingerprints, _Q_GROUPED_FP_SQL),
    "q_containment_pairs": (q_containment_pairs, _Q_CONTAINMENT_SQL),
    "q_rolling_distinct_users": (q_rolling_distinct_users, _rolling_hll_sql()),
    "q_bfs_reach_census": (q_bfs_reach_census, _bfs_sql()),
    "q_hyperball_neighborhood": (q_hyperball_neighborhood, _hyperball_sql()),
    "q_personalized_pagerank": (q_personalized_pagerank, _Q_PPR_SQL),
    "q_harmonic_centrality": (q_harmonic_centrality, _harmonic_sql()),
    "q_bloom_runtime_filter": (q_bloom_runtime_filter, _Q_BLOOM_RF_SQL),
    "q_histogram_join_estimate": (
        q_histogram_join_estimate,
        _Q_HIST_JOIN_SQL,
    ),
    "q_ndv_join_estimate": (q_ndv_join_estimate, _Q_NDV_JOIN_SQL),
    "q_equidepth_histogram": (q_equidepth_histogram, _Q_EQUIDEPTH_SQL),
    # round 6
    "q_cdc_apply": (q_cdc_apply, _Q_CDC_APPLY_SQL),
    "q_resource_allocation_links": (
        q_resource_allocation_links,
        _Q_RA_LINKS_SQL,
    ),
    "q_max_concurrent_shipments": (
        q_max_concurrent_shipments,
        _Q_MAX_CONCURRENT_SQL,
    ),
    "q_seasonal_naive_error": (q_seasonal_naive_error, _Q_SEASONAL_NAIVE_SQL),
    "q_blocking_quality": (q_blocking_quality, _Q_BLOCKING_QUALITY_SQL),
    "q_prefix_jaccard_pairs": (q_prefix_jaccard_pairs, _Q_PREFIX_JACCARD_SQL),
    "q_theilsen_trend": (q_theilsen_trend, _Q_THEILSEN_SQL),
    "q_shard_manifest": (q_shard_manifest, _Q_SHARD_MANIFEST_SQL),
    "q_psi_drift": (q_psi_drift, _Q_PSI_SQL),
    # round 9
    "q_l_diversity_audit": (q_l_diversity_audit, _Q_L_DIVERSITY_SQL),
    "q_tokenizer_fertility": (q_tokenizer_fertility, _Q_TOKENIZER_FERTILITY_SQL),
    "q_dataset_card": (q_dataset_card, _Q_DATASET_CARD_SQL),
    "q_winnowing_fingerprints": (q_winnowing_fingerprints, _Q_WINNOWING_SQL),
    "q_winnowing_dup_pairs": (q_winnowing_dup_pairs, _winnowing_pairs_sql()),
}

# The correctness driver oracle-checks exactly the FIRST 50 keys of ``queries()``
# in insertion order.  Every registry query has been driver-checked green
# as of round 9 (COVERAGE_LEDGER.md), so from round 10 on the window is
# maintenance: sentinels + this round's changed-code re-checks + the
# stalest green entries, keeping the whole registry's latest-check age
# bounded.  The exact window is also a pytest artifact
# (tests/test_driver_protocol.py, `-m driver_protocol`).
_DRIVER_PRIORITY = [
    # Round 12 window, REBUILT after the optimization phase (exactly
    # 50 = the driver's sample size; pinned at sf0.01 by
    # tests/test_driver_protocol.py). The optimization sessions changed
    # operator code behind 41 oracle-backed queries (graph roster
    # iteration + lazy-checkpoint sweeps, CC evaluation order, bloom
    # codegen probes, SRP norm precompute, SNM canon materialization,
    # BPE/greedy/lattice loop discipline, PQ/kmeans/classifier
    # literals, co-supply projection) — changed-code re-checks
    # front-load the window per the established rotation policy, after
    # the 5 sentinels + the q_media_pipeline rows-only refresh. Every
    # entry below was hash-verified at sf0.01 this session (full
    # 235-query replay on arrival + per-change re-checks).
    # sentinels (cross-round continuity, all green r11)
    "q01_pricing_summary",
    "q_ann_search_exact",
    "q_dup_groups",
    "q_scd2_incremental_merge",
    "q_retrieval_metrics",
    # rows-only refresh (the one remaining no_oracle; checksum golden)
    "q_media_pipeline",
    # changed-code re-checks: graph family (changes 5/6/9)
    "q_pagerank_bipartite",
    "q_personalized_pagerank",
    "q_lpa_communities",
    "q_wl_structural_classes",
    "q_bfs_reach_census",
    "q_hyperball_neighborhood",
    "q_harmonic_centrality",
    "q_kcore_suppliers",
    "q_triangle_count",
    "q_clustering_coefficients",
    "q_psi_drift",
    "q_snapshot_fingerprints",
    # connected components + composed pipelines (change 9)
    "q_star_dup_groups",
    "q_entity_resolution",
    "q_fuzzy_dedup_keep_report",
    "q_embedding_dup_groups",
    "q_corpus_filtered_search",
    # itemsets / BPE / greedy loops (changes 7/9)
    "q_frequent_part_pairs",
    "q_bpe_merges",
    "q_bpe_vocab_stats",
    "q_greedy_coverage",
    # ANN / quantizers / clustering (changes 8/9)
    "q_ann_search",
    "q_ivf_search",
    "q_ivfpq_search",
    "q_pq_topk",
    "q_sq8_topk",
    "q_kmeans_embedding_clusters",
    "q_semdedup_pairs",
    "q_cluster_silhouette",
    # classifier literals (change 8)
    "q_classifier_calibration",
    "q_classifier_pr_curve",
    "q_quality_classifier_scores",
    # sketches / bloom family (changes 8/11)
    "q_join_size_estimates",
    "q_bloom_runtime_filter",
    "q_bloom_calibration",
    "q_bloom_dedup_gate",
    "q_decontamination_report",
    "q_incremental_ingest_dedup",
    # SNM / SRP pair families (changes 10/12)
    "q_multipass_snm_pairs",
    "q_embedding_srp_pairs",
    "q_srp_multiprobe_pairs",
    # stalest-green fills (r5 remainder, ledger order)
    "q_minhash_dup_pairs",
    "q_ndv_join_estimate",
    "q_pareto_parts",
]

QUERIES = {
    **{k: QUERIES[k] for k in _DRIVER_PRIORITY},
    **{k: v for k, v in QUERIES.items() if k not in _DRIVER_PRIORITY},
}


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {name: fn for name, (fn, _) in QUERIES.items()}


def oracle_sql() -> dict[str, str]:
    return {name: sql for name, (_, sql) in QUERIES.items() if sql is not None}
