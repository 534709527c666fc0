"""Edge-case behavior of the operator family: empty inputs, degenerate
parameters, single-row tables — the inputs a pipeline hits at 3am."""

from __future__ import annotations

import datetime
import math

import pytest
from pyspark.sql import functions as F

from radient_spark.operators import dedup as D
from radient_spark.operators import vectorize
from radient_spark.operators.asof import asof_join
from radient_spark.operators.topk import knn_join, similarity_self_join, topk


def _empty_docs(spark):
    return spark.createDataFrame([], "doc_id long, text string")


def test_minhash_on_empty_and_blank(spark):
    df = spark.createDataFrame([(1, ""), (2, "   "), (3, "real text here")],
                               "doc_id long, text string")
    rows = {r["doc_id"]: r["sig"] for r in D.with_minhash(
        df, num_hashes=4, out_col="sig").collect()}
    # blank docs get the sentinel signature, never colliding with content
    assert rows[1] == rows[2] == [D.MINHASH_P] * 4
    assert rows[3] != rows[1]

    out = D.with_minhash(_empty_docs(spark), num_hashes=4, out_col="sig")
    assert out.count() == 0


def test_lsh_pairs_empty(spark):
    sigs = D.with_minhash(_empty_docs(spark), num_hashes=8, out_col="sig")
    assert D.lsh_pairs_from_signatures(sigs, sig_col="sig", bands=4).count() == 0


_EDGE_DOCS = [
    (1, ""),
    (2, "   "),
    (3, "solo"),
    (4, "two words"),
    (5, "  runs   of\t\twhite \n space   here  "),
    (6, "café naïve 東京 タワー 🙂 ñandú"),
    (7, "a b c d e f g"),
    (8, "a b c d e f g"),
]


def test_minhash_and_buckets_match_duckdb_oracle_on_edge_docs(spark):
    """The one-parse MinHash and band-key expressions against the DuckDB
    oracle's shape (queries._minhash_sql): empty and blank documents,
    fewer than k tokens, runs of whitespace and non-ASCII text."""
    import duckdb
    import pyarrow as pa

    from radient_spark.queries import _minhash_sql

    con = duckdb.connect()
    con.register("documents", pa.table({
        "doc_id": [d for d, _ in _EDGE_DOCS], "text": [t for _, t in _EDGE_DOCS],
    }))
    want = dict(con.sql(_minhash_sql(8)).fetchall())
    assert set(want) == {3, 4, 5, 6, 7, 8}  # the oracle drops blank docs

    df = spark.createDataFrame(_EDGE_DOCS, "doc_id long, text string")
    sigs = D.with_minhash(df, num_hashes=8, out_col="sig")
    assert sigs.schema["sig"].dataType.simpleString() == "array<bigint>"
    got = {r["doc_id"]: r["sig"] for r in sigs.collect()}
    assert got[1] == got[2] == [D.MINHASH_P] * 8
    assert {d: "_".join(map(str, s)) for d, s in got.items() if d in want} == want

    nonblank = sigs.filter(F.col("doc_id") > 2)
    buckets = D.lsh_buckets(nonblank, sig_col="sig", bands=4, num_hashes=8)
    assert buckets.schema.simpleString() == (
        "struct<doc_id:bigint,band_idx:int,band_key:string>"
    )
    assert sorted(tuple(r) for r in buckets.collect()) == sorted(
        (d, i, "_".join(s.split("_")[2 * i:2 * i + 2]))
        for d, s in want.items() for i in range(4)
    )


def test_lsh_builders_quote_signature_column_names(spark):
    """A sig_col holding a space and a backtick is quoted into the parsed
    band-key text and names the same column."""
    df = spark.createDataFrame(_EDGE_DOCS[2:], "doc_id long, text string")
    sigs = D.with_minhash(df, num_hashes=8, out_col="sig")
    odd = "my `sig` col"
    renamed = sigs.withColumnRenamed("sig", odd)

    def rows(frame):
        return sorted(tuple(r) for r in frame.collect())

    assert rows(D.lsh_buckets(renamed, sig_col=odd, bands=4)) == rows(
        D.lsh_buckets(sigs, sig_col="sig", bands=4)
    )
    pairs = rows(D.lsh_pairs_from_signatures(renamed, sig_col=odd, bands=4))
    assert pairs == rows(D.lsh_pairs_from_signatures(sigs, sig_col="sig", bands=4))
    assert (7, 8) in pairs


def test_topk_k_exceeds_rows(spark):
    df = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [0.0, 1.0])], "id long, vec array<float>"
    )
    got = topk(df, "vec", [1.0, 0.0], k=10, tiebreak="id").collect()
    assert len(got) == 2  # capped at table size
    assert got[0]["id"] == 1 and got[0]["score"] == 1.0


def test_knn_join_single_partition_corpus(spark):
    corpus = spark.createDataFrame(
        [(i, [float(i), 1.0]) for i in range(5)], "id long, vec array<float>"
    ).coalesce(1)
    queries = spark.createDataFrame(
        [(100, [3.0, 1.0])], "qid long, vec array<float>"
    )
    got = knn_join(corpus, queries, corpus_vec="vec", query_vec="vec", k=3).collect()
    assert len(got) == 3
    assert got[0]["id"] == 3  # exact match ranks first


def test_similarity_join_no_pairs_above_threshold(spark):
    df = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [0.0, 1.0])], "id long, vec array<float>"
    )
    assert similarity_self_join(df, "vec", "id", threshold=0.9).count() == 0


def test_asof_join_empty_right(spark):
    left = spark.createDataFrame(
        [(1, 10, "2024-01-01 10:00:00")], "user_id long, pid long, pts string"
    ).withColumn("pts", F.col("pts").cast("timestamp"))
    right = spark.createDataFrame(
        [], "user_id long, ts timestamp, v double"
    )
    out = asof_join(left, right, on="user_id", left_ts="pts", right_ts="ts").collect()
    assert len(out) == 1 and out[0]["v"] is None  # left semantics hold


def test_hashing_vectorizer_dim_one(spark):
    df = spark.createDataFrame([(1, "a b c")], "id long, text string")
    vec = vectorize.hashing_vectorizer(df, dim=1).collect()[0]["vector"]
    assert vec == [3.0]  # every token lands in the single slot


def test_fastrp_two_node_graph(spark):
    edges = spark.createDataFrame([(0, 1)], "src long, dst long")
    rows = vectorize.fastrp_embeddings(edges, dim=4, weights=(1.0,)).collect()
    assert {r["node"] for r in rows} == {0, 1}
    assert all(len(r["vector"]) == 4 for r in rows)


def test_connected_groups_chain(spark):
    # a 4-node chain must collapse to one group with min-id label
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4)], "id_a long, id_b long"
    )
    labels = {r["id"]: r["group_id"] for r in D.connected_duplicate_groups(pairs).collect()}
    assert labels == {1: 1, 2: 1, 3: 1, 4: 1}

def test_lsh_banding_validation(spark):
    sigs = D.with_minhash(_empty_docs(spark), num_hashes=8, out_col="sig")
    with pytest.raises(ValueError, match="divide"):
        D.lsh_pairs_from_signatures(sigs, sig_col="sig", bands=3, num_hashes=8)
    with pytest.raises(ValueError, match="divide"):
        D.lsh_pairs_from_signatures(sigs, sig_col="sig", bands=16, num_hashes=8)
    with pytest.raises(ValueError, match="divide"):
        D.lsh_candidate_pairs(_empty_docs(spark), num_hashes=8, bands=5)


def test_salted_join_rejects_outer(spark):
    from radient_spark.operators import skew

    df = spark.createDataFrame([(1, 1.0)], "k long, x double")
    dim = spark.createDataFrame([(1, "a")], "k long, name string")
    with pytest.raises(ValueError, match="inner"):
        skew.salted_join(df, dim, "k", how="right")
    with pytest.raises(ValueError, match="inner"):
        skew.salted_join(df, dim, "k", how="full")


def test_asof_join_null_payload_not_backfilled(spark):
    # The latest prior right row has a NULL payload value: the join must
    # return that NULL, not a stale value from an older right row, and all
    # payload columns must come from the SAME right row.
    left = spark.createDataFrame(
        [(1, "2024-01-01 10:00:00")], "user_id long, pts string"
    ).withColumn("pts", F.col("pts").cast("timestamp"))
    right = spark.createDataFrame(
        [
            (1, "2024-01-01 08:00:00", 5.0, "old"),
            (1, "2024-01-01 09:00:00", None, "new"),
        ],
        "user_id long, ts string, v double, tag string",
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    out = asof_join(
        left, right, on="user_id", left_ts="pts", right_ts="ts"
    ).collect()
    assert len(out) == 1
    assert out[0]["v"] is None  # row-level fill: NULL stays NULL
    assert out[0]["tag"] == "new"  # both payloads from the matched row


def test_knn_join_boundary_ties_keep_smallest_ids(spark):
    # Many corpus rows tie exactly at the k-th score: the per-batch pruning
    # must keep the tied rows with the SMALLEST ids (the global window's
    # criterion), regardless of argpartition's arbitrary tie placement.
    n = 50
    corpus = spark.createDataFrame(
        [(i, [1.0, 0.0]) for i in range(n)], "id long, vec array<float>"
    ).coalesce(1)
    queries = spark.createDataFrame(
        [(7, [1.0, 0.0])], "qid long, vec array<float>"
    )
    got = knn_join(corpus, queries, corpus_vec="vec", query_vec="vec", k=5).collect()
    assert sorted(r["id"] for r in got) == [0, 1, 2, 3, 4]

def test_similarity_self_join_block_gemm_exact_and_distributed(spark):
    # Block-pair formulation must equal the naive quadratic result and
    # run as a grouped-pandas plan: no driver-side collect of the corpus,
    # no broadcast variable of the matrix.
    import itertools
    import math
    import random

    rng = random.Random(7)
    rows = [(i, [rng.uniform(-1, 1) for _ in range(8)]) for i in range(60)]
    df = spark.createDataFrame(rows, "id long, vec array<float>").repartition(5)
    got = {
        (r["id_a"], r["id_b"]): r["score"]
        for r in similarity_self_join(
            df, "vec", "id", threshold=0.3, blocks=4
        ).collect()
    }
    # numpy-free brute force in float64 over the float32-truncated inputs
    vecs = {
        r["id"]: [float(x) for x in r["vec"]]
        for r in df.select("id", "vec").collect()
    }
    expected = {}
    for a, b in itertools.combinations(sorted(vecs), 2):
        va, vb = vecs[a], vecs[b]
        dot = sum(x * y for x, y in zip(va, vb))
        na = math.sqrt(sum(x * x for x in va))
        nb = math.sqrt(sum(x * x for x in vb))
        s = round(dot / (na * nb), 4)
        if s >= 0.3:
            expected[(a, b)] = s
    assert set(got) == set(expected)
    for k in expected:
        assert abs(got[k] - expected[k]) < 2e-4, (k, got[k], expected[k])
    plan = similarity_self_join(df, "vec", "id", threshold=0.3, blocks=4)._jdf.queryExecution().executedPlan().toString()
    assert "FlatMapGroupsInPandas" in plan

def test_knn_join_blocked_equals_broadcast(spark):
    import random

    rng = random.Random(11)
    corpus = spark.createDataFrame(
        [(i, [rng.uniform(-1, 1) for _ in range(8)]) for i in range(80)],
        "id long, vec array<float>",
    ).repartition(4)
    queries = spark.createDataFrame(
        [(100 + i, [rng.uniform(-1, 1) for _ in range(8)]) for i in range(10)],
        "qid long, vec array<float>",
    ).repartition(3)
    from radient_spark.operators.topk import knn_join_blocked

    a = sorted(
        (r["qid"], r["id"], r["score"])
        for r in knn_join(corpus, queries, k=5).collect()
    )
    b = sorted(
        (r["qid"], r["id"], r["score"])
        for r in knn_join_blocked(
            corpus, queries, k=5, corpus_blocks=3, query_blocks=2
        ).collect()
    )
    assert a == b


def test_knn_join_blocked_score_band_matches_bruteforce(spark):
    import random

    rng = random.Random(23)
    corpus = spark.createDataFrame(
        [(i, [rng.uniform(-1, 1) for _ in range(8)]) for i in range(60)],
        "id long, vec array<float>",
    ).repartition(4)
    queries = spark.createDataFrame(
        [(100 + i, [rng.uniform(-1, 1) for _ in range(8)]) for i in range(6)],
        "qid long, vec array<float>",
    )
    from radient_spark.operators.topk import knn_join_blocked

    lo, hi, k = 0.1, 0.8, 4
    got = sorted(
        (r["qid"], r["id"], r["score"])
        for r in knn_join_blocked(
            corpus, queries, k=k, corpus_blocks=3, query_blocks=2,
            score_band=(lo, hi),
        ).collect()
    )
    cvec = {r["id"]: r["vec"] for r in corpus.collect()}
    qvec = {r["qid"]: r["vec"] for r in queries.collect()}
    expected = []
    for qid, qv in qvec.items():
        scored = []
        for cid, cv in cvec.items():
            dot = sum(a * b for a, b in zip(qv, cv))
            na = math.sqrt(sum(x * x for x in qv))
            nb = math.sqrt(sum(x * x for x in cv))
            s = round(dot / (na * nb), 4)
            if lo <= s < hi:
                scored.append((-s, cid))
        for negs, cid in sorted(scored)[:k]:
            expected.append((qid, cid, -negs))
    assert got == sorted(expected)
    # every returned score is inside the band
    assert all(lo <= s < hi for _, _, s in got)


def test_repeated_ngram_coverage_empty_and_blank(spark):
    df = spark.createDataFrame(
        [(1, ""), (2, "   "), (3, "one two")], "doc_id long, text string"
    )
    out = {r["doc_id"]: r for r in D.repeated_ngram_coverage(df).collect()}
    assert out[1]["n_tokens"] == 0 and out[1]["coverage"] == 0.0
    assert out[2]["n_tokens"] == 0 and out[2]["coverage"] == 0.0
    assert out[3]["covered_tokens"] == 0
    empty = D.repeated_ngram_coverage(_empty_docs(spark))
    assert empty.count() == 0


def test_perplexity_on_single_doc_corpus(spark):
    from radient_spark.operators.dataset import (
        perplexity_buckets,
        unigram_surprisal_vocab,
    )

    df = spark.createDataFrame([(1, "a a a", "en")], ["doc_id", "text", "lang"])
    vocab = unigram_surprisal_vocab(df)
    out = perplexity_buckets(df, vocab).collect()
    # every token is the whole corpus: surprisal ln(3/3)=0
    assert len(out) == 1 and out[0]["logppl"] == 0.0 and out[0]["ppl_bucket"] == 1


def test_dsir_all_rows_target(spark):
    from radient_spark.operators.dataset import dsir_logweights

    df = spark.createDataFrame(
        [(1, "a b", "x"), (2, "c d", "x")], ["doc_id", "text", "dom"]
    )
    out = dsir_logweights(df, F.lit(True), buckets=100).collect()
    # target == raw: smoothed totals match exactly, every weight is 0
    assert all(r["logweight"] == 0.0 for r in out)


def test_sq8_single_row_corpus(spark):
    from radient_spark.operators.quantize import sq8_minmax, sq8_topk

    df = spark.createDataFrame([(1, [0.5, -0.5])], ["vec_id", "embedding"])
    df = df.withColumn("embedding", F.col("embedding").cast("array<float>"))
    stats = sq8_minmax(df)
    # single row: every dim degenerate (mn == mx) -> codes 0, score 0
    rows = sq8_topk(df, stats, [1.0, 1.0], k=5).collect()
    assert len(rows) == 1 and rows[0]["qscore"] == 0.0


def test_pq_fit_requires_divisible_dim(spark):
    from radient_spark.operators.quantize import pq_fit

    df = spark.createDataFrame([(1, [0.1, 0.2, 0.3])], ["vec_id", "embedding"])
    df = df.withColumn("embedding", F.col("embedding").cast("array<float>"))
    with pytest.raises(ValueError, match="not divisible"):
        pq_fit(df, m=2, k=1)


def test_incremental_dedup_first_ingest_all_new(spark):
    # empty corpus: the whole batch is net-new
    from radient_spark.queries import QUERIES
    corpus = _empty_docs(spark).withColumn("__h", F.md5("text"))
    batch = spark.createDataFrame(
        [(1, "a", "s"), (2, "b", "s")], "doc_id long, text string, source string"
    ).withColumn("__h", F.md5("text"))
    fresh = batch.join(corpus.select("__h"), "__h", "left_anti")
    assert fresh.count() == 2


def test_paragraph_dedup_keeps_first_occurrence_and_reassembles(spark):
    # doc 1 and doc 2 share chunk "a b"; doc 2's copy must be dropped,
    # doc 2 keeps only its unique tail chunk; doc 3 is all-duplicate.
    df = spark.createDataFrame(
        [
            (1, "a b c d"),
            (2, "a b x y"),
            (3, "a b"),
            (4, "   "),
        ],
        "doc_id long, text string",
    )
    out = {
        r["id"]: r
        for r in D.paragraph_dedup(df, "text", "doc_id", chunk_tokens=2).collect()
    }
    assert 4 not in out  # blank docs yield no chunks
    assert out[1]["n_chunks"] == 2 and out[1]["n_kept"] == 2
    assert out[1]["clean_text"] == "a b c d"
    assert out[2]["n_chunks"] == 2 and out[2]["n_kept"] == 1
    assert out[2]["clean_text"] == "x y"
    assert out[3]["n_chunks"] == 1 and out[3]["n_kept"] == 0
    assert out[3]["clean_text"] == ""


def test_paragraph_dedup_partial_tail_chunk(spark):
    df = spark.createDataFrame([(1, "p q r s t")], "doc_id long, text string")
    r = D.paragraph_dedup(df, "text", "doc_id", chunk_tokens=2).collect()[0]
    # 5 tokens -> chunks "p q", "r s", "t"
    assert r["n_chunks"] == 3 and r["n_kept"] == 3
    assert r["clean_text"] == "p q r s t"


def test_bloom_empty_corpus_flags_nothing(spark):
    from radient_spark.operators.dedup import bloom_build, bloom_gate

    empty = spark.createDataFrame([], "text string")
    batch = spark.createDataFrame([("a",), ("b",)], ["text"])
    bitmap = bloom_build(empty, "text", 1024, 3)
    out = bloom_gate(batch, bitmap, "text", 1024, 3).collect()
    assert all(not r["maybe_dup"] for r in out)


def test_hll_empty_and_single(spark):
    from radient_spark.operators.sketch import hll_cardinality

    empty = spark.createDataFrame([], "k string")
    r = hll_cardinality(empty, "k", p=8).collect()[0]
    assert r["n_registers_set"] == 0 and r["estimate"] == 0.0
    one = spark.createDataFrame([("x",)], ["k"])
    r1 = hll_cardinality(one, "k", p=8).collect()[0]
    assert r1["n_registers_set"] == 1 and 0.5 < r1["estimate"] < 1.5


def test_exact_group_quantiles_empty(spark):
    from radient_spark.operators.dataset import exact_group_quantiles

    empty = spark.createDataFrame([], "g string, v double")
    assert exact_group_quantiles(empty, "g", "v", [0.5]).count() == 0


def test_snm_window_exceeds_rows(spark):
    from radient_spark.operators.dedup import sorted_neighborhood_pairs

    df = spark.createDataFrame([(1, "a"), (2, "b")], ["id", "k"])
    got = {
        (r["id_a"], r["id_b"])
        for r in sorted_neighborhood_pairs(df, "k", "id", window=10).collect()
    }
    assert got == {(1, 2)}


def test_simhash_pairs_validation_and_empty(spark):
    import pytest as _pt
    from radient_spark.operators.dedup import simhash_near_pairs

    df = spark.createDataFrame([], "doc_id long, simhash long")
    assert simhash_near_pairs(df, "doc_id", "simhash").count() == 0
    with _pt.raises(ValueError, match="pigeonhole"):
        simhash_near_pairs(df, "doc_id", "simhash", bands=3, max_hamming=3)


def test_weighted_sample_k_exceeds_rows(spark):
    from radient_spark.operators.dataset import weighted_sample

    df = spark.createDataFrame([(1, 10), (2, 20)], ["id", "w"])
    assert weighted_sample(df, "w", "id", k=50).count() == 2


def test_profile_table_all_null_column(spark):
    from radient_spark.operators.dataset import profile_table

    df = spark.createDataFrame(
        [(1, None), (2, None)], "id long, v double"
    )
    rows = {r["col_name"]: r for r in profile_table(df).collect()}
    assert rows["v"]["n_nulls"] == 2 and rows["v"]["n_distinct"] == 0
    assert rows["v"]["min_num"] is None


def test_round5_graph_ops_on_degenerate_inputs(spark):
    """Empty edge lists and self-loop-only graphs must not error and
    must return the documented domains (nodes-with-real-edges for the
    peeling/label family; seeds survive BFS with depth 0)."""
    from radient_spark.operators.graph import (
        bfs_layers,
        hyperball,
        hyperball_harmonic,
        kcore,
        label_propagation,
        local_clustering,
        triangle_count,
        wl_colors,
    )

    empty = spark.createDataFrame([], "src long, dst long")
    assert kcore(empty, k=2, rounds=2).count() == 0
    assert label_propagation(empty, rounds=2).count() == 0
    assert wl_colors(empty, rounds=2).count() == 0
    seeds = spark.createDataFrame([(1,)], "node long")
    assert bfs_layers(empty, seeds, 2).collect() == [(1, 0)]
    loops = spark.createDataFrame([(1, 1)], "src long, dst long")
    assert kcore(loops, k=1, rounds=2).count() == 0
    # self-loops are dropped, so a self-loop-only graph has no nodes:
    # HyperBall still reports every t, with no nodes and a NULL estimate
    for g in (empty, loops):
        assert sorted(tuple(r) for r in hyperball(g, rounds=2).collect()) == [
            (0, 0, None), (1, 0, None), (2, 0, None)
        ]
        assert hyperball_harmonic(g, rounds=2).collect() == []
        assert tuple(triangle_count(g).collect()[0]) == (0, 0, 0)
        assert local_clustering(g).collect() == []


def test_round5_tabular_ops_on_degenerate_inputs(spark):
    from radient_spark.operators.reconcile import sequence_gaps
    from radient_spark.operators.skyline import skyline_2d

    one = spark.createDataFrame([(5,)], "id long")
    assert sequence_gaps(one, "id").count() == 0
    empty = spark.createDataFrame([], "x long, y long")
    assert skyline_2d(empty, "x", "y").count() == 0


def test_histogram_order_statistic_all_null_group(spark):
    """A group whose histogram is entirely NULL-valued vanishes from the
    report (no non-null values -> no ranks), rather than emitting a
    NULL-ranked row; other groups are unaffected."""
    from radient_spark.operators.dataset import histogram_order_statistic

    hist = spark.createDataFrame(
        [("dead", None, 5), ("live", 3.0, 2)], "g string, v double, c long"
    )
    got = {
        r["g"]: r["p50"]
        for r in histogram_order_statistic(
            hist, "g", "v", count_col="c", qs=[0.5], out_cols=["p50"]
        ).collect()
    }
    assert got == {"live": 3.0}


def test_l_diversity_single_value_classes(spark):
    """Classes whose sensitive attribute is constant violate every
    l >= 2 — the degenerate worst case the audit exists to catch."""
    from radient_spark.queries import q_l_diversity_audit  # noqa: F401
    from pyspark.sql import functions as F

    orders = spark.createDataFrame(
        [(1, "URGENT")] * 5 + [(2, "LOW"), (2, "HIGH")],
        "o_custkey long, o_orderpriority string",
    )
    cust = spark.createDataFrame(
        [(1, 10, "AUTO"), (2, 20, "AUTO")],
        "c_custkey long, c_nationkey long, c_mktsegment string",
    )
    micro = orders.join(
        F.broadcast(cust), orders.o_custkey == cust.c_custkey
    )
    classes = micro.groupBy("c_nationkey", "c_mktsegment").agg(
        F.count(F.lit(1)).alias("class_size"),
        F.countDistinct("o_orderpriority").alias("diversity"),
    )
    rows = {
        (r["c_nationkey"],): r["diversity"] for r in classes.collect()
    }
    assert rows == {(10,): 1, (20,): 2}


def test_dataset_card_empty_and_dup_sources(spark, tmp_path):
    """Dataset card on a corpus with an all-empty source and an
    all-duplicate source: zero tokens / dup_ppm arithmetic must hold
    (no division blowups; integer ppm exact)."""
    import os

    from radient_spark.queries import QUERIES

    docs = spark.createDataFrame(
        [
            (1, "", "en", "empty_src", 0),
            (2, " ", "en", "empty_src", 1),
            (3, "same text", "en", "dup_src", 9),
            (4, "same text", "en", "dup_src", 9),
            (5, "same text", "en", "dup_src", 9),
        ],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    sf = str(tmp_path / "sfcard")
    os.makedirs(sf, exist_ok=True)
    # load_tables resolves every table; only documents matters here
    from radient_spark.catalog import TABLES

    for t in TABLES:
        if t != "documents":
            os.symlink(
                f"/root/testdata/sf0.001/{t}.parquet", f"{sf}/{t}.parquet"
            )
    docs.write.mode("overwrite").parquet(f"{sf}/documents.parquet")
    out = {
        r["source"]: r.asDict()
        for r in QUERIES["q_dataset_card"][0](spark, sf).collect()
    }
    assert out["empty_src"]["ws_tokens"] == 0
    assert out["empty_src"]["n_empty"] == 2
    assert out["empty_src"]["dup_ppm"] == 0  # '' vs ' ' differ as bytes
    assert out["dup_src"]["n_dup_docs"] == 2
    assert out["dup_src"]["dup_ppm"] == 666666


_NAIVE_TS = datetime.datetime(2024, 3, 1, 12, 30, 1)


@pytest.mark.parametrize(
    "ddl, rows",
    [
        ("a bigint, b int", [(1, 2), (None, None), (2**40, -7)]),
        ("x double, s string", [(1.5, "a"), (None, None), (-0.0, "")]),
        (
            "qid long, v array<float>, w array<double>",
            [(1, [1.0, 0.5], [2.0]), (2, None, [None, 1.0]), (3, [], None)],
        ),
        ("t timestamp", [(_NAIVE_TS,), (None,)]),
        ("a bigint, v array<float>", []),
    ],
    ids=["ints", "double-string", "arrays", "timestamp", "zero-rows"],
)
def test_local_frame_matches_create_dataframe(spark, monkeypatch, ddl, rows):
    """local_frame is createDataFrame(rows, ddl) as a LocalRelation:
    same schema, same rows (nulls included), no Python RDD. Naive
    datetimes are local wall-clock time in both, so a process time zone
    far from the session's (UTC) must not shift the instant."""
    import time

    from radient_spark.session import local_frame

    monkeypatch.setenv("TZ", "America/Los_Angeles")
    time.tzset()
    try:
        got = local_frame(spark, rows, ddl)
        want = spark.createDataFrame(rows, ddl)
        assert got.schema == want.schema
        instants = [f"cast({c} as string)" for c in want.columns]
        assert got.selectExpr(*instants).collect() == want.selectExpr(
            *instants
        ).collect()
        assert got.collect() == want.collect()
        analyzed = got._jdf.queryExecution().analyzed()
        assert analyzed.getClass().getSimpleName() == "LocalRelation"
    finally:
        monkeypatch.undo()
        time.tzset()


def test_driver_rows_only_ship_through_local_frame():
    """Every driver-built frame in the package goes through
    session.local_frame: a direct createDataFrame(<rows>) plans a
    Python-RDD scan that costs a Python-worker job on every action."""
    import ast
    import pathlib

    import radient_spark

    root = pathlib.Path(radient_spark.__file__).parent
    offenders = []
    for path in sorted(root.rglob("*.py")):
        tree = ast.parse(path.read_text(), filename=str(path))
        allowed = {
            id(n)
            for fn in ast.walk(tree)
            if isinstance(fn, ast.FunctionDef) and fn.name == "local_frame"
            for n in ast.walk(fn)
        }
        offenders += [
            f"{path.relative_to(root.parent)}:{n.lineno}"
            for n in ast.walk(tree)
            if isinstance(n, ast.Call)
            and isinstance(n.func, ast.Attribute)
            and n.func.attr == "createDataFrame"
            and id(n) not in allowed
        ]
    assert not offenders, offenders


@pytest.mark.parametrize(
    "phys_bytes,want",
    [
        (16 << 30, "8192m"),  # 16 GB host: half
        (15_600_000_000, "7438m"),  # rounds down to whole MiB
        (96 << 30, "49152m"),  # exactly at the 48g cap
        (1 << 40, "49152m"),  # 1 TB host: capped
        (1 << 30, "512m"),
    ],
)
def test_driver_mem_default_is_half_of_ram_capped(phys_bytes, want):
    """Without SPARK_GRAFT_DRIVER_MEM the driver heap is half of physical
    RAM, capped at 48g: a heap above the host's RAM lets the test JVM
    grow until the kernel's OOM killer ends it."""
    from radient_spark.session import _driver_mem_for

    assert _driver_mem_for(phys_bytes) == want
