"""Decontamination + temperature sampling (operators/dataset.py).

The registry queries are oracle-checked in tests/test_oracle.py; these
pin the operator semantics on controlled inputs and the plan shapes that
matter at scale (broadcast eval side, no corpus shuffle for sampling).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from radient_spark import plans
from radient_spark.catalog import load_tables
from radient_spark.operators.dataset import (
    SPLIT_BUCKETS,
    decontaminate,
    temperature_sample,
    temperature_thresholds,
)


def _corpus(spark):
    return spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog"),
            (2, "pack my box with five dozen liquor jugs"),
            (3, "entirely disjoint vocabulary sentence here indeed"),
        ],
        "doc_id long, text string",
    )


def test_decontaminate_flags_ngram_overlap(spark):
    train = _corpus(spark)
    ev = spark.createDataFrame(
        # shares the 4-gram "quick brown fox jumps" with doc 1 only
        [(100, "a quick brown fox jumps again")],
        "doc_id long, text string",
    )
    out = {
        r["doc_id"]: r["n_hit_grams"]
        for r in decontaminate(train, ev, "text", "doc_id", n=4).collect()
    }
    assert out[1] > 0 and out[2] == 0 and out[3] == 0


def test_decontaminate_clean_eval_set_flags_nothing(spark):
    train = _corpus(spark)
    ev = spark.createDataFrame(
        [(100, "completely unrelated words everywhere around")],
        "doc_id long, text string",
    )
    out = decontaminate(train, ev, "text", "doc_id", n=4)
    assert out.filter(F.col("n_hit_grams") > 0).count() == 0
    # annotation is a left join: every train row survives
    assert out.count() == 3


def test_decontaminate_broadcasts_eval_side(spark, sf_dir):
    docs = load_tables(spark, sf_dir)["documents"]
    ev = docs.filter(F.col("doc_id") % 10 == 0)
    tr = docs.filter(F.col("doc_id") % 10 != 0)
    out = decontaminate(tr, ev, "text", "doc_id", n=4)
    assert plans.uses_broadcast_join(out), plans.formatted_plan(out)


def test_temperature_thresholds_smallest_stratum_kept_whole(spark, sf_dir):
    docs = load_tables(spark, sf_dir)["documents"]
    thr = temperature_thresholds(docs, "lang").collect()
    n_min = min(r["n_before"] for r in thr)
    for r in thr:
        if r["n_before"] == n_min:
            assert r["keep_threshold"] == SPLIT_BUCKETS
        else:
            assert 0 < r["keep_threshold"] <= SPLIT_BUCKETS


def test_temperature_sample_deterministic_and_bounded(spark, sf_dir):
    docs = load_tables(spark, sf_dir)["documents"]
    a = sorted(
        r["doc_id"]
        for r in temperature_sample(docs, "lang", "doc_id", seed=42)
        .select("doc_id")
        .collect()
    )
    b = sorted(
        r["doc_id"]
        for r in temperature_sample(docs, "lang", "doc_id", seed=42)
        .select("doc_id")
        .collect()
    )
    assert a == b and 0 < len(a) <= docs.count()


def test_temperature_sample_equalizes_toward_sqrt(spark, sf_dir):
    # expected kept size is ~ sqrt(n_min * n_s): the ratio between the
    # largest and smallest strata must shrink after sampling
    docs = load_tables(spark, sf_dir)["documents"]
    before = {
        r["lang"]: r["count"]
        for r in docs.groupBy("lang").count().collect()
    }
    after = {
        r["lang"]: r["count"]
        for r in temperature_sample(docs, "lang", "doc_id")
        .groupBy("lang")
        .count()
        .collect()
    }
    if max(before.values()) > min(before.values()):
        ratio_before = max(before.values()) / min(before.values())
        ratio_after = max(after.values()) / max(1, min(after.values()))
        assert ratio_after <= ratio_before


def test_perplexity_buckets_orders_fluent_docs_first(spark):
    from radient_spark.operators.dataset import (
        perplexity_buckets,
        unigram_surprisal_vocab,
    )

    rows = [
        (1, "the the the the", "en"),
        (2, "the the the rare1", "en"),
        (3, "rare2 rare3 rare4 rare5", "en"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text", "lang"])
    vocab = unigram_surprisal_vocab(df, "text")
    out = {
        r["doc_id"]: r
        for r in perplexity_buckets(df, vocab, "text", "doc_id", "lang").collect()
    }
    # common-token docs score lower (more "fluent" under the unigram LM)
    assert out[1]["logppl"] < out[2]["logppl"] < out[3]["logppl"]
    assert [out[i]["ppl_bucket"] for i in (1, 2, 3)] == [1, 2, 3]
    import math
    assert abs(out[3]["logppl"] - math.log(12)) < 1e-5


def test_perplexity_oov_tokens_score_zero(spark):
    from radient_spark.operators.dataset import (
        perplexity_buckets,
        unigram_surprisal_vocab,
    )

    ref = spark.createDataFrame([(1, "a b c d", "en")], ["doc_id", "text", "lang"])
    vocab = unigram_surprisal_vocab(ref, "text")
    target = spark.createDataFrame(
        [(9, "zz yy xx ww", "en")], ["doc_id", "text", "lang"]
    )
    out = perplexity_buckets(target, vocab, "text", "doc_id", "lang").collect()
    assert out[0]["logppl"] == 0.0


def test_dsir_weights_rank_target_domain_docs_higher(spark):
    from radient_spark.operators.dataset import dsir_logweights

    rows = [
        (1, "physics energy quantum field theory", "sci"),
        (2, "quantum field energy physics experiments", "sci"),
        (3, "recipe butter sugar flour oven", "food"),
        (4, "oven sugar butter recipe baking", "food"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text", "domain"])
    out = {
        r["doc_id"]: r["logweight"]
        for r in dsir_logweights(
            df, F.col("domain") == "sci", "text", "doc_id", buckets=1000
        ).collect()
    }
    assert min(out[1], out[2]) > max(out[3], out[4])


def test_distributed_ntile_equals_window_ntile(spark):
    """distributed_ntile must reproduce NTILE(n) bucket-for-bucket,
    including the uneven-bucket arithmetic (N % n != 0), N < n, and
    tied range values — without a global single-partition window."""
    from pyspark.sql import Window

    from radient_spark.operators.dataset import distributed_ntile

    import random

    rng = random.Random(7)
    for n, n_buckets in [(97, 10), (100, 10), (5, 10), (64, 3), (1, 4)]:
        rows = [(i, rng.choice([1.0, 2.5, 3.25, 7.5])) for i in range(n)]
        df = spark.createDataFrame(rows, ["id", "w"]).repartition(8)
        got = {
            r["id"]: r["b"]
            for r in distributed_ntile(
                df,
                n_buckets,
                [F.col("w").desc(), F.col("id").asc()],
                range_col=-F.col("w"),
                out_col="b",
                num_partitions=4,
            ).collect()
        }
        w = Window.orderBy(F.col("w").desc(), F.col("id").asc())
        want = {
            r["id"]: r["b"]
            for r in df.withColumn("b", F.ntile(n_buckets).over(w)).collect()
        }
        assert got == want, f"mismatch at n={n}, buckets={n_buckets}"


def test_dsir_plan_has_no_global_window_sort(spark):
    """The decile assignment must not funnel the table through a single
    reducer: every Window in the plan is partitioned (no 'Window [...]'
    with an empty partition spec over the whole weight table)."""
    from radient_spark.operators.dataset import dsir_logweights

    rows = [(i, f"tok{i % 7} tok{i % 3} common", "sci" if i % 2 else "food")
            for i in range(40)]
    df = spark.createDataFrame(rows, ["doc_id", "text", "domain"])
    out = dsir_logweights(df, F.col("domain") == "sci", "text", "doc_id")
    plan = out._jdf.queryExecution().executedPlan().toString()
    for line in plan.splitlines():
        if "Window" in line and "windowspecdefinition" in line:
            assert "partitionBy" not in line or "__dnt_pid" in line
        # ntile over an unpartitioned window renders as
        # 'Window [ntile(...) ... specifiedwindowframe...]' with no
        # partition expressions before the ORDER BY clause
        assert "ntile(" not in line


def test_chunk_documents_windows_cover_all_tokens(spark):
    from radient_spark.operators.dataset import chunk_documents

    text = " ".join(f"t{i}" for i in range(150))
    df = spark.createDataFrame([(1, text), (2, "short doc"), (3, "")],
                               ["doc_id", "text"])
    out = chunk_documents(df, window=64, stride=48).collect()
    by_doc: dict[int, list] = {}
    for r in out:
        by_doc.setdefault(r["doc_id"], []).append(r)
    # 150 tokens -> starts 0, 48, 96 -> lengths 64, 64, 54
    c1 = sorted(by_doc[1], key=lambda r: r["chunk_idx"])
    assert [r["n_chunk_tokens"] for r in c1] == [64, 64, 54]
    assert c1[0]["chunk_text"].split()[0] == "t0"
    assert c1[2]["chunk_text"].split()[-1] == "t149"
    # stride overlap: chunk 1 starts at token 48
    assert c1[1]["chunk_text"].split()[0] == "t48"
    # short doc -> one whole-doc chunk; empty doc -> none
    assert len(by_doc[2]) == 1 and by_doc[2][0]["n_chunk_tokens"] == 2
    assert 3 not in by_doc


def test_chunk_documents_validates_params(spark):
    import pytest as _pytest
    from radient_spark.operators.dataset import chunk_documents

    df = spark.createDataFrame([(1, "a b")], ["doc_id", "text"])
    with _pytest.raises(ValueError, match=">= 1"):
        chunk_documents(df, window=0)


def test_distributed_cumsum_equals_window(spark):
    from pyspark.sql import Window

    from radient_spark.operators.dataset import distributed_cumsum

    rows = [(i, (i * 37) % 11, (i % 7) + 1) for i in range(200)]
    df = spark.createDataFrame(rows, "id long, key long, v long").repartition(8)
    got = {
        r["id"]: r["cum"]
        for r in distributed_cumsum(
            df,
            order_cols=[F.col("key").asc(), F.col("id").asc()],
            range_col=F.col("key"),
            value_col="v",
            out_col="cum",
            num_partitions=6,
        ).collect()
    }
    w = (
        Window.orderBy(F.col("key").asc(), F.col("id").asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    exp = {
        r["id"]: r["cum"]
        for r in df.withColumn("cum", F.sum("v").over(w)).collect()
    }
    assert got == exp


def test_distributed_cumsum_empty(spark):
    from radient_spark.operators.dataset import distributed_cumsum

    df = spark.createDataFrame([], "id long, v long")
    out = distributed_cumsum(
        df, order_cols=[F.col("id")], range_col=F.col("id"), value_col="v"
    )
    assert out.count() == 0


def test_exact_group_quantiles_matches_naive(spark):
    """Distributed order statistics == naive sorted-list indexing at
    rank ceil(q*n), including tiny groups and q near the edges."""
    import math as _m
    from radient_spark.operators.dataset import exact_group_quantiles

    rows = [("a", float(v)) for v in [5, 1, 9, 3, 3, 7, 2]] + [
        ("b", float(v)) for v in [10, 20]
    ] + [("c", 4.0)]
    df = spark.createDataFrame(rows, ["g", "v"]).repartition(4)
    qs = [0.01, 0.5, 0.9, 1.0]
    got = {
        (r["g"], r["q"]): r["value"]
        for r in exact_group_quantiles(df, "g", "v", qs).collect()
    }
    data = {"a": sorted([5, 1, 9, 3, 3, 7, 2]), "b": [10, 20], "c": [4]}
    for g, vals in data.items():
        for q in qs:
            want = float(vals[max(1, _m.ceil(q * len(vals))) - 1])
            assert got[(g, q)] == want, (g, q, got[(g, q)], want)

    # NULL values are dropped before ranking, in one range and in four;
    # a group with no non-null value has no row
    nulls = spark.createDataFrame(
        [("a", None), ("a", 1.0), ("a", 2.0), ("a", 3.0)]
        + [("b", None), ("b", None), ("b", 5.0), ("c", None)],
        "g string, v double",
    )
    for parts in (1, 4):
        got = {
            (r["g"], r["q"]): r["value"]
            for r in exact_group_quantiles(
                nulls, "g", "v", [0.5, 0.99], num_partitions=parts
            ).collect()
        }
        assert got == {
            ("a", 0.5): 2.0,
            ("a", 0.99): 3.0,
            ("b", 0.5): 5.0,
            ("b", 0.99): 5.0,
        }, parts


def test_weighted_sample_biases_toward_heavy_rows(spark):
    """Exact-k, deterministic, and weight-biased: the average weight of
    the selected rows must exceed the population average, and repeated
    runs select the identical set."""
    from radient_spark.operators.dataset import weighted_sample

    rows = [(i, 1 + (i % 10) * 100) for i in range(500)]
    df = spark.createDataFrame(rows, ["id", "w"])
    s1 = [r["id"] for r in weighted_sample(df, "w", "id", k=50).collect()]
    s2 = [r["id"] for r in weighted_sample(df, "w", "id", k=50).collect()]
    assert s1 == s2 and len(s1) == 50
    avg_sel = sum(dict(rows)[i] for i in s1) / 50
    avg_all = sum(w for _, w in rows) / 500
    assert avg_sel > avg_all * 1.3


def test_water_fill_allocation_exact_budget_and_edges(spark):
    """sum(allocated) == budget exactly; small sources keep everything;
    budget >= total means nobody is capped; budget below n*min still
    splits deterministically."""
    from pyspark.sql import functions as F

    from radient_spark.operators.dataset import water_fill_allocation

    rows = [("a", 100), ("b", 500), ("c", 1000), ("d", 70)]

    def run(budget):
        df = spark.createDataFrame(rows, ["src", "cnt"]).withColumn(
            "__wf_budget", F.lit(budget)
        )
        out = {
            r.src: r for r in water_fill_allocation(df, "src", "cnt").collect()
        }
        return out

    out = run(1000)
    assert sum(r.allocated for r in out.values()) == 1000
    assert not out["d"].capped and out["d"].allocated == 70
    assert not out["a"].capped and out["a"].allocated == 100
    assert out["b"].capped and out["c"].capped
    # water level: 1000 - 170 = 830 over 2 capped -> 415 each
    assert {out["b"].allocated, out["c"].allocated} == {415}

    out = run(10_000)  # budget >= total: everyone keeps everything
    assert all(not r.capped for r in out.values())
    assert sum(r.allocated for r in out.values()) == 1670

    out = run(7)  # below n*min: lam = 1, remainder 3 by key order
    assert sum(r.allocated for r in out.values()) == 7
    assert [out[s].allocated for s in "abcd"] == [2, 2, 2, 1]


def test_distributed_ntile_grouped_equals_window_ntile(spark):
    """distributed_ntile_grouped must reproduce
    NTILE(n) OVER (PARTITION BY stratum ORDER BY ...) bucket-for-bucket
    — uneven buckets, N < n strata, tied range values — without a
    per-stratum single-reducer window."""
    import random

    from pyspark.sql import Window

    from radient_spark.operators.dataset import distributed_ntile_grouped

    rng = random.Random(11)
    rows = [
        (i, rng.choice(["en", "de", "fr", "tiny"][: 3 if i < 290 else 4]),
         rng.choice([1.0, 2.5, 3.25, 7.5]))
        for i in range(293)
    ]
    df = spark.createDataFrame(rows, ["id", "lang", "w"]).repartition(8)
    got = {
        r["id"]: r["b"]
        for r in distributed_ntile_grouped(
            df,
            10,
            "lang",
            [F.col("w").asc(), F.col("id").asc()],
            range_col=F.col("w"),
            out_col="b",
            num_partitions=4,
        ).collect()
    }
    w = Window.partitionBy("lang").orderBy(F.col("w").asc(), F.col("id").asc())
    want = {
        r["id"]: r["b"]
        for r in df.withColumn("b", F.ntile(10).over(w)).collect()
    }
    assert got == want


def test_perplexity_plan_has_no_perstratum_window_sort(spark, sf_dir):
    """Round-5 scale fix: perplexity_buckets must not contain an ntile
    window — bucket assignment rides the distributed range-bucket
    engine (windows partitioned by (stratum, range id) only)."""
    from radient_spark.catalog import load_tables
    from radient_spark.operators.dataset import (
        perplexity_buckets,
        unigram_surprisal_vocab,
    )

    spark.catalog.clearCache()
    docs = load_tables(spark, sf_dir)["documents"]
    vocab = unigram_surprisal_vocab(docs, "text")
    plan = (
        perplexity_buckets(docs, vocab, "text", "doc_id", "lang")
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "ntile" not in plan.lower()


def test_uniform_sample_exact_k_properties(spark):
    from radient_spark.operators.dataset import uniform_sample_exact_k

    df = spark.range(0, 1000).withColumnRenamed("id", "rid").repartition(8)
    got = uniform_sample_exact_k(df, "rid", k=50, seed=1).collect()
    assert len(got) == 50
    again = uniform_sample_exact_k(df, "rid", k=50, seed=1).collect()
    assert sorted(r["rid"] for r in got) == sorted(r["rid"] for r in again)
    other = uniform_sample_exact_k(df, "rid", k=50, seed=2).collect()
    assert sorted(r["rid"] for r in got) != sorted(r["rid"] for r in other)
    # k > n degenerates to the full table
    assert uniform_sample_exact_k(df, "rid", k=5000, seed=1).count() == 1000
    # physical plan is per-partition top-k, not a global sort shuffle
    spark.catalog.clearCache()
    plan = (
        uniform_sample_exact_k(df, "rid", k=50, seed=1)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "TakeOrderedAndProject" in plan


def test_partition_plan_arithmetic(spark):
    from radient_spark.operators.dataset import partition_plan

    rows = [("a", 100), ("a", 300), ("b", 50)]
    df = spark.createDataFrame(rows, ["g", "sz"])
    got = {
        r["g"]: r
        for r in partition_plan(df, "g", F.col("sz"), target_bytes=128).collect()
    }
    assert got["a"]["n_files"] == 4 and got["a"]["rows_per_file"] == 1
    assert got["b"]["n_files"] == 1 and got["b"]["rows_per_file"] == 1
    assert got["a"]["skew_ratio"] == 1.5  # 300 / mean(200)


def test_domain_mixture_weights_direction_and_sum(spark):
    """MW must down-weight high-loss domains, up-weight low-loss ones,
    keep a mid domain near uniform, and normalize to ~1.  Also check
    against a literal python re-implementation of the integer update."""
    from radient_spark.operators.dataset import domain_mixture_weights

    rows = [("bad", 900_000), ("mid", 500_000), ("good", 100_000)]
    df = spark.createDataFrame(rows, "d string, loss long")
    got = {
        r["d"]: r["mix_weight"]
        for r in domain_mixture_weights(
            df, "d", F.col("loss"), rounds=3
        ).collect()
    }
    assert got["good"] > got["mid"] > got["bad"]
    assert abs(sum(got.values()) - 1.0) < 1e-5

    # python mirror of the exact integer recurrence
    w = {d: 1_000_000 for d, _ in rows}
    loss = dict(rows)
    for _ in range(3):
        sw = sum(w.values())
        swl = sum(w[d] * loss[d] for d in w)
        mean = swl // sw
        w = {
            d: (w[d] * (2_000_000 - ((loss[d] - mean + 2_000_000) // 2)))
            // 1_000_000
            for d in w
        }
    tw = sum(w.values())
    for d in w:
        assert got[d] == round(w[d] / tw, 6), d


def test_curation_v5_quota_properties(spark, sf_dir):
    """v5 funnel invariants: quotas sum exactly to the 60% budget
    (largest remainder), each stage monotonically shrinks, and
    selected <= quota and <= survivors."""
    from radient_spark.queries import QUERIES

    rows = QUERIES["q_curation_pipeline_v5"][0](spark, sf_dir).collect()
    assert rows
    n_surv = sum(r["n_after_dedup"] for r in rows)
    assert sum(r["quota"] for r in rows) == (n_surv * 6) // 10
    for r in rows:
        assert r["n_in"] >= r["n_after_lines"] >= r["n_after_pii"] >= r["n_after_dedup"]
        assert r["n_selected"] == min(r["quota"], r["n_after_dedup"])


def test_greedy_max_coverage_picks_and_totals(spark):
    from radient_spark.operators.dataset import greedy_max_coverage

    docs = spark.createDataFrame(
        [
            (1, "a b c d"),        # 4 distinct
            (2, "a b c d e"),      # 5 distinct -> picked first
            (3, "x y"),            # disjoint 2 -> picked second
            (4, "a e x"),          # fully covered after rounds 1+2 except none
            (5, "q"),              # 1 new -> picked third
        ],
        "doc_id long, text string",
    )
    rows = greedy_max_coverage(docs, k=4).collect()
    picks = [(r["round_no"], r["doc_id"], r["gain"], r["covered_total"]) for r in rows]
    # round 3 tie between doc 5 (q) and nothing else with gain 1; doc 4
    # contributes 0 new after a,e,x? a,e covered; x covered by doc 3 -> 0.
    assert picks[0] == (1, 2, 5, 5)
    assert picks[1] == (2, 3, 2, 7)
    assert picks[2] == (3, 5, 1, 8)
    # round 4: docs 1,4 add nothing; greedy still returns the max (gain 0
    # docs vanish from the anti-joined posting table) -> early stop.
    assert len(picks) == 3


def test_greedy_max_coverage_tiebreak_min_doc_id(spark):
    from radient_spark.operators.dataset import greedy_max_coverage

    docs = spark.createDataFrame(
        [(7, "a b"), (3, "c d"), (9, "e f")], "doc_id long, text string"
    )
    rows = greedy_max_coverage(docs, k=1).collect()
    assert rows[0]["doc_id"] == 3


def test_distributed_rank_and_ntile_null_range_keys(spark):
    """Round-6 (ADVICE): rows with a NULL range key must land in a
    sentinel bucket and rank FIRST (Spark's NULLS FIRST ascending), not
    crash the offset sort or silently drop out of the offsets join."""
    from radient_spark.operators.dataset import (
        distributed_cumsum,
        distributed_ntile_grouped,
        distributed_rank,
    )

    rows = [(1, None, 10), (2, 5.0, 20), (3, 1.0, 30), (4, None, 40)]
    df = spark.createDataFrame(rows, "id long, key double, v long")

    ranked = distributed_rank(
        df, [F.asc_nulls_first("key"), F.asc("id")], F.col("key"),
        num_partitions=4,
    )
    got = {r["id"]: r["rank"] for r in ranked.collect()}
    assert len(got) == 4  # nothing dropped
    assert sorted(got.values()) == [1, 2, 3, 4]
    assert {got[1], got[4]} == {1, 2}  # NULL keys rank first
    assert got[3] == 3 and got[2] == 4

    nt = distributed_ntile_grouped(
        df.withColumn("s", F.lit("a")), 2, "s",
        [F.asc_nulls_first("key"), F.asc("id")], F.col("key"),
        num_partitions=4, out_col="bucket",
    )
    buckets = {r["id"]: r["bucket"] for r in nt.collect()}
    assert len(buckets) == 4
    assert sorted(buckets.values()) == [1, 1, 2, 2]

    cs = distributed_cumsum(
        df, [F.asc_nulls_first("key"), F.asc("id")], F.col("key"), "v",
        out_col="cum", num_partitions=4,
    )
    cums = {r["id"]: r["cum"] for r in cs.collect()}
    assert len(cums) == 4
    # ranking order 1,4,3,2 -> cumsums 10,50,80,100
    assert cums == {1: 10, 4: 50, 3: 80, 2: 100}


def test_histogram_order_statistic_equals_exact_engine(spark):
    """The histogram fast path and the raw-row order-statistic engine
    must agree rank for rank on lattice data — including tie-heavy
    groups and a 1-row group (rank clamps to 1)."""
    from radient_spark.operators.dataset import (
        exact_group_quantiles,
        histogram_order_statistic,
    )

    rows = [("g%d" % (i % 3), float((i * i * 7) % 13) / 2) for i in range(199)]
    rows.append(("solo", 42.5))
    df = spark.createDataFrame(rows, "g string, v double").repartition(8)
    hist = df.groupBy("g", "v").agg(F.count(F.lit(1)).alias("c"))
    got = {
        (r["g"],): (r["p50"], r["p90"], r["p99"])
        for r in histogram_order_statistic(
            hist, "g", "v", qs=[0.5, 0.9, 0.99], out_cols=["p50", "p90", "p99"]
        ).collect()
    }
    exp: dict = {}
    for r in exact_group_quantiles(df, "g", "v", [0.5, 0.9, 0.99]).collect():
        exp.setdefault((r["g"],), {})[r["q"]] = r["value"]
    assert set(got) == set(exp)
    for k in exp:
        assert got[k] == (exp[k][0.5], exp[k][0.9], exp[k][0.99]), (k, got[k], exp[k])


def test_histogram_order_statistic_drops_null_buckets(spark):
    """Round-9 null contract: histogram rows with a NULL value are
    dropped before ranking, so n and every rank count non-null values
    only — a NULL bucket must not shift ranks (Spark's default window
    ordering is NULLS FIRST; the oracle ranks NULLS LAST, so either
    orientation would silently diverge if nulls entered the window)."""
    from radient_spark.operators.dataset import histogram_order_statistic

    hist = spark.createDataFrame(
        [("g", 1.0, 4), ("g", 2.0, 4), ("g", None, 100), ("h", 7.0, 1)],
        "g string, v double, c long",
    )
    got = {
        r["g"]: r["p50"]
        for r in histogram_order_statistic(
            hist, "g", "v", count_col="c", qs=[0.5], out_cols=["p50"]
        ).collect()
    }
    # g: 8 non-null values [1*4, 2*4] -> rank ceil(4) = 4 -> value 1.0;
    # with the null bucket counted, n=108 and rank 54 would land on 2.0
    assert got == {"g": 1.0, "h": 7.0}


def test_prefix_filter_candidates_complete_vs_all_pairs(spark):
    """Prefix-filter completeness on adversarial sizes: every pair with
    jaccard >= 3/5 must appear in the candidate set, including sets
    whose size sits exactly on the ceil(t*n) boundary (n=5, t=3/5)."""
    from radient_spark.operators.dedup import (
        prefix_filter_candidates,
        token_pair_counts,
    )

    docs = [
        (1, ["a", "b", "c", "d", "e"]),
        (2, ["a", "b", "c", "d", "f"]),   # J(1,2)=4/6=0.67 >= 0.6
        (3, ["a", "b", "c", "d", "e"]),   # J(1,3)=1.0
        (4, ["x", "y", "z"]),
        (5, ["x", "y", "w"]),             # J(4,5)=0.5 < 0.6
        (6, ["p", "q"]),
        (7, ["p", "q"]),                  # J(6,7)=1.0
    ]
    toks = spark.createDataFrame(docs, "doc_id long, toks array<string>")
    cand = {
        (r["id_a"], r["id_b"])
        for r in prefix_filter_candidates(
            toks, id_col="doc_id", tokens_col="toks", t_num=3, t_den=5
        ).collect()
    }
    truth = {
        (r["id_a"], r["id_b"])
        for r in token_pair_counts(toks, id_col="doc_id", part_col=None)
        .filter(
            F.lit(5) * F.col("shared")
            >= F.lit(3) * (F.col("na") + F.col("nb") - F.col("shared"))
        )
        .collect()
    }
    assert truth <= cand, truth - cand
    assert (4, 5) not in truth


def test_prefix_filter_complete_on_random_zipf_corpus(spark):
    """Round-9 randomized completeness check, independent of both
    engines: 200 seeded docs with zipfian token draws (heavy stopword
    head — exactly the regime the prefix filter targets), ground truth
    computed in pure Python set arithmetic. Every pair with Jaccard >=
    3/5 must appear in the candidate set; sizes 1..12 sweep the
    ceil(t*n) lattice boundaries the rational threshold exists for."""
    import random

    from radient_spark.operators.dedup import prefix_filter_candidates

    rng = random.Random(7)
    vocab = [f"t{i}" for i in range(50)]
    docs = []
    for i in range(200):
        n = rng.randint(1, 12)
        toks = sorted(
            {vocab[min(49, int(rng.expovariate(0.15)))] for _ in range(n)}
        )
        docs.append((i, toks or ["t0"]))
    toks_df = spark.createDataFrame(docs, "doc_id long, toks array<string>")
    cand = {
        (r["id_a"], r["id_b"])
        for r in prefix_filter_candidates(
            toks_df, id_col="doc_id", tokens_col="toks", t_num=3, t_den=5
        ).collect()
    }
    truth = set()
    for i, (ia, ta) in enumerate(docs):
        sa = set(ta)
        for ib, tb in docs[i + 1:]:
            sb = set(tb)
            inter = len(sa & sb)
            if 5 * inter >= 3 * len(sa | sb):
                truth.add((min(ia, ib), max(ia, ib)))
    assert truth, "seeded corpus must contain true near-dup pairs"
    missing = truth - cand
    assert not missing, f"prefix filter dropped {len(missing)} true pairs: {sorted(missing)[:5]}"
