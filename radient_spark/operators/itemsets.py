"""Frequent-itemset mining (market-basket association rules): the
distributed Apriori first stages — frequent items, frequent pairs, and
support/confidence/lift rule stats.

Spark-first shape: item supports aggregate first, a semi-join drops
infrequent items (Apriori downward closure), and THEN one
groupBy(basket) collects each basket's sorted item roster — dedup and
roster from a single exchange — with ordered pairs exploding from the
roster array (j > i), so there is no basket self-join at all.  The
per-basket fan-out is (frequent items per basket)^2 and a roster row
holds only frequent items, which is what bounds hub baskets at scale.
Rule metrics are exact integer ratios with one rounded IEEE division
each, so DuckDB oracles hash-match.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from radient_spark.lineage import truncate


def frequent_pairs(
    df: DataFrame,
    basket_col: str,
    item_col: str,
    min_support: int = 2,
) -> DataFrame:
    """Frequent item PAIRS with association-rule stats.

    Pipeline: per-basket sorted item roster -> ordered pairs exploded
    from each roster -> pair support filter -> item-support metrics
    joins:

      support_a/support_b : item supports (baskets containing it)
      pair_support        : baskets containing both
      confidence          : pair/support_a  (P(b | a), a < b ordering)
      lift                : pair * n_baskets / (support_a * support_b)

    Scale shape (optimization r12/r13, guide §2.3/§2.4/§3.2): item
    supports aggregate FIRST (count of distinct baskets per item, a
    two-phase map-side-combined aggregation of the raw rows), and a
    semi-join against the frequent-item table prunes every infrequent
    item BEFORE the roster build — Apriori's downward-closure prune.
    The prune cannot change the result (pair_support <=
    min(support_a, support_b), so any pair surviving the pair_support
    >= min_support filter has both items frequent), but it bounds the
    per-basket fan-out by (FREQUENT items per basket)^2 instead of
    (all items per basket)^2 and keeps a hub basket's collect_set
    roster row frequent-items-sized — the difference between a bounded
    and an unbounded explode on a 100 TB corpus with hub baskets full
    of long-tail items (round-12 verdict item).  After the prune, ONE
    groupBy(basket) with a sorted collect_set folds the (basket, item)
    dedup AND the per-basket roster into a single exchange; ordered
    pairs explode from each roster array (j > i, so item_a < item_b
    with no basket self-join at all).  The planner broadcasts the
    frequent-item side of the semi-join when it is small (the common
    case — min_support prunes the long tail) and falls back to a
    shuffled semi-join when it is not.  Metrics joins are
    item-count-sized.  Returns one row per qualifying
    (item_a, item_b), item_a < item_b.
    """
    if min_support < 1:
        raise ValueError("min_support must be >= 1")
    bi = df.select(
        F.col(basket_col).alias("basket"), F.col(item_col).alias("item")
    )
    # ONE aggregation job computes per-item supports AND the basket
    # universe: rollup's grand-total row carries the distinct-basket
    # count (pre-prune — baskets whose items are all infrequent still
    # count toward lift's n_baskets, exactly as the old unpruned-roster
    # count did). Baskets are counted through a struct so a null basket
    # counts as a distinct value, matching the old groupBy(basket)
    # semantics; count_distinct alone would skip it. The item-count-
    # sized result is materialized ONCE because it feeds the semi-join
    # build side AND both metrics joins (three differently-projected
    # subtrees — without truncation the full-input support aggregation
    # would execute three times).
    stats = truncate(
        bi.rollup("item").agg(
            F.count_distinct(F.struct("basket")).alias("support"),
            F.grouping("item").alias("__g"),
        ),
        eager=True,
    )
    # an empty input has no grand-total row: zero baskets, no pairs
    total = stats.filter(F.col("__g") == 1).first()
    n_baskets = total["support"] if total is not None else 0
    frequent = stats.filter(
        (F.col("__g") == 0) & (F.col("support") >= min_support)
    ).select("item", "support")
    # Apriori downward-closure prune BEFORE the roster collect_set.
    pruned = bi.join(frequent.select("item"), "item", "left_semi")
    # collect_set folds the per-basket (basket, item) dedup into the
    # same exchange that builds the roster (optimization r12); its
    # subtree appears under both the pair explode and nothing else, so
    # no persist is needed.
    rosters = pruned.groupBy("basket").agg(
        F.array_sort(F.collect_set("item")).alias("__its")
    )
    pairs = (
        rosters.select(F.posexplode("__its").alias("__i", "item_a"), "__its")
        .select(
            "item_a",
            F.explode(
                F.slice("__its", F.col("__i") + 2, F.size("__its"))
            ).alias("item_b"),
        )
        .groupBy("item_a", "item_b")
        .agg(F.count(F.lit(1)).alias("pair_support"))
        .filter(F.col("pair_support") >= min_support)
    )
    # Metrics reattach from the frequent table (identical rows to the
    # unpruned support table for every surviving pair — both items of a
    # qualifying pair are frequent by downward closure).
    sa = frequent.select(
        F.col("item").alias("item_a"), F.col("support").alias("support_a")
    )
    sb = frequent.select(
        F.col("item").alias("item_b"), F.col("support").alias("support_b")
    )
    return (
        pairs.join(sa, "item_a")
        .join(sb, "item_b")
        .select(
            "item_a",
            "item_b",
            "support_a",
            "support_b",
            "pair_support",
            F.round(
                F.col("pair_support").cast("double")
                / F.col("support_a").cast("double"),
                6,
            ).alias("confidence"),
            F.round(
                (F.col("pair_support") * F.lit(n_baskets)).cast("double")
                / (F.col("support_a") * F.col("support_b")).cast("double"),
                6,
            ).alias("lift"),
        )
    )
