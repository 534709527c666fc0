"""Driver-side costs of the ingest path, pinned as exact counts.

Each guard counts something that repeats exactly from run to run: py4j
round trips while a DataFrame is built (a wrapper on the gateway
client's ``send_command``, without the garbage-collection messages
whose timing follows Python's GC), or Spark jobs fired while a frame is
built or an index is loaded (``statusTracker``, as in
tests/test_graph.py).
"""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from radient_spark.session import local_frame


class _RoundTrips:
    """Counts py4j commands sent while the context is open."""

    def __init__(self, spark):
        self.client = spark.sparkContext._gateway._gateway_client
        self.n = 0

    def __enter__(self):
        real = self.client.send_command

        def counting(command, *args, **kwargs):
            if not command.startswith("m\nd\n"):  # GC of a Java object
                self.n += 1
            return real(command, *args, **kwargs)

        self.client.send_command = counting
        return self

    def __exit__(self, *exc):
        del self.client.send_command  # back to the class method


def _jobs(spark) -> int:
    return len(spark.sparkContext.statusTracker().getJobIdsForGroup(None))


def _docs(spark):
    return spark.createDataFrame(
        [(1, "the quick brown fox"), (2, "jumps over"), (3, "")],
        "doc_id bigint, text string",
    )


def test_lsh_bucket_frame_builds_in_few_round_trips(spark):
    """lsh_dedup_sink's per-batch bucket frame: 16 MinHash permutations,
    the shingle and hash transforms and 4 band keys, each parsed from
    SQL text once. Built through the Python lambda API it took 2,321
    round trips."""
    from radient_spark.operators.dedup import lsh_text_buckets

    docs = _docs(spark)
    lsh_text_buckets(docs)  # warm any one-time lookups
    with _RoundTrips(spark) as rt:
        lsh_text_buckets(docs)
    assert rt.n <= 300, rt.n


@pytest.fixture(scope="module")
def indexes(spark, tmp_path_factory):
    from radient_spark.ann import AnnIndex, IvfIndex

    rng = np.random.default_rng(5)
    X = rng.normal(size=(2000, 8)).astype(np.float32)
    df = local_frame(
        spark, [(i, X[i].tolist()) for i in range(len(X))],
        "id bigint, vector array<float>",
    )
    d = tmp_path_factory.mktemp("driver_costs")
    AnnIndex.build(df, n_trees=4, max_leaf_size=100, seed=3).save(f"{d}/forest")
    IvfIndex.build(df, n_cells=64, seed=3).save(f"{d}/ivf")
    return str(d), X


@pytest.mark.parametrize("kind", ["forest", "ivf"])
def test_list_search_builds_in_few_round_trips(spark, indexes, kind):
    """A 10-query list search: query frame, probe predicate and rerank
    score are each one call or one parse. With the rerank score built
    through the lambda API it took 462 (IVF) and 470 (forest)."""
    from radient_spark.ann import AnnIndex, IvfIndex

    d, X = indexes
    load = IvfIndex.load if kind == "ivf" else AnnIndex.load
    idx = load(spark, f"{d}/{kind}")
    qs = [(q, X[q].tolist()) for q in range(10)]
    idx.search(qs, k=10)
    with _RoundTrips(spark) as rt:
        idx.search(qs, k=10)
    assert rt.n <= 250, rt.n


def test_ivf_load_runs_no_listing_job(spark, indexes):
    """64 cell_id= dirs are above Spark's default parallel-discovery
    threshold (32), which listed them with a 64-task job on every load;
    the session lists on the driver. The schema read is gone too: both
    index kinds read with the DDL their sidecar recorded at save."""
    from radient_spark.ann import AnnIndex, IvfIndex

    d, _ = indexes
    cells = spark.read.parquet(f"{d}/ivf/cells").select("cell_id").distinct().count()
    assert cells > 32, cells
    for load, sub in ((IvfIndex.load, "ivf"), (AnnIndex.load, "forest")):
        load(spark, f"{d}/{sub}")
        before = _jobs(spark)
        load(spark, f"{d}/{sub}")
        assert _jobs(spark) - before == 0, sub


def test_prior_claims_probe_over_deltas_runs_no_job(spark, tmp_path):
    """The per-batch prior-owner probe reads the claim log's deltas in
    one scan typed by the batch's claim schema: building it fires no
    job. One schema-inference job per delta ran before."""
    from radient_spark.streaming import _probe_prior_claims

    owner = spark.createDataFrame(
        [(0, "k0", 1), (1, "k1", 2)], "band_idx int, band_key string, owner bigint"
    )
    batch_owner = owner.groupBy("band_idx", "band_key").agg(F.min("owner").alias("owner"))
    parts = []
    for e in range(4):
        p = f"{tmp_path}/state/delta-t-{e}"
        owner.withColumn("owner", F.col("owner") + e).write.parquet(p)
        parts.append(p)
    before = _jobs(spark)
    prev = _probe_prior_claims(spark, parts, batch_owner, 64)
    assert _jobs(spark) - before == 0
    assert sorted(tuple(r) for r in prev.collect()) == sorted(
        (i, f"k{i}", i + 1 + e) for i in range(2) for e in range(4)
    )
