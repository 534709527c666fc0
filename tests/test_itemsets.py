from __future__ import annotations

from itertools import combinations

import pytest

from radient_spark.operators.itemsets import frequent_pairs

# (basket, item) rows with duplicates, a hub basket, and a singleton.
ROWS = [
    (1, "a"), (1, "b"), (1, "c"), (1, "a"),  # dup (1, a)
    (2, "a"), (2, "b"),
    (3, "a"), (3, "c"), (3, "d"),
    (4, "b"), (4, "c"), (4, "a"), (4, "d"), (4, "e"),  # hub basket
    (5, "e"),  # singleton basket
    (6, "d"), (6, "a"),
]


def _brute_force(rows, min_support):
    baskets: dict[int, set[str]] = {}
    for b, i in rows:
        baskets.setdefault(b, set()).add(i)
    n_baskets = len(baskets)
    support: dict[str, int] = {}
    pair_support: dict[tuple[str, str], int] = {}
    for items in baskets.values():
        for i in items:
            support[i] = support.get(i, 0) + 1
        for a, b in combinations(sorted(items), 2):
            pair_support[(a, b)] = pair_support.get((a, b), 0) + 1
    out = {}
    for (a, b), ps in pair_support.items():
        if ps >= min_support:
            out[(a, b)] = (
                support[a],
                support[b],
                ps,
                round(ps / support[a], 6),
                round(ps * n_baskets / (support[a] * support[b]), 6),
            )
    return out


@pytest.mark.parametrize("min_support", [1, 2, 3])
def test_frequent_pairs_matches_brute_force(spark, min_support):
    df = spark.createDataFrame(ROWS, ["basket", "item"])
    got = {
        (r.item_a, r.item_b): (
            r.support_a,
            r.support_b,
            r.pair_support,
            r.confidence,
            r.lift,
        )
        for r in frequent_pairs(
            df, "basket", "item", min_support=min_support
        ).collect()
    }
    assert got == _brute_force(ROWS, min_support)


def test_frequent_pairs_ordering_and_no_self_pairs(spark):
    df = spark.createDataFrame(ROWS, ["basket", "item"])
    rows = frequent_pairs(df, "basket", "item", min_support=1).collect()
    assert rows, "expected at least one qualifying pair"
    for r in rows:
        assert r.item_a < r.item_b


def test_frequent_pairs_rejects_bad_min_support(spark):
    df = spark.createDataFrame(ROWS, ["basket", "item"])
    with pytest.raises(ValueError):
        frequent_pairs(df, "basket", "item", min_support=0)


def _plan_nodes(node):
    """Pre-order walk of a JVM (Catalyst) plan tree."""
    yield node
    kids = node.children()
    for i in range(kids.size()):
        yield from _plan_nodes(kids.apply(i))


def test_frequent_pairs_prunes_before_roster(spark):
    """Round-13 fan-out guard: infrequent items are semi-join-pruned
    BEFORE the roster collect_set (Apriori downward closure), so a hub
    basket of long-tail items cannot explode quadratically and a roster
    row holds only frequent items."""
    df = spark.createDataFrame(ROWS, ["basket", "item"])
    plan = (
        frequent_pairs(df, "basket", "item", min_support=2)
        ._jdf.queryExecution()
        .optimizedPlan()
    )
    rosters = [
        n
        for n in _plan_nodes(plan)
        if n.nodeName() == "Aggregate"
        and "collect_set" in n.aggregateExpressions().toString()
    ]
    assert len(rosters) == 1, plan.toString()
    # the prune feeds the roster: the semi-join sits in its subtree
    assert any(
        n.nodeName() == "Join" and n.joinType().toString() == "LeftSemi"
        for n in _plan_nodes(rosters[0])
    ), plan.toString()


def test_frequent_pairs_empty_input(spark):
    """No baskets -> an empty, typed result (not a driver TypeError)."""
    ddl = "basket long, item string"
    got = frequent_pairs(spark.createDataFrame([], ddl), "basket", "item")
    want = frequent_pairs(spark.createDataFrame(ROWS, ddl), "basket", "item")
    assert got.schema == want.schema
    assert got.count() == 0
