"""Reliable-checkpoint option for iterative operators (round-13
verdict item): with SPARK_GRAFT_CHECKPOINT_DIR set, every per-round
lineage truncation writes a reliable checkpoint instead of a
localCheckpoint — identical results, files on stable storage."""

from __future__ import annotations

from radient_spark.lineage import checkpoint_dir, truncate
from radient_spark.operators.graph import label_propagation, pagerank_integer

EDGES = [(1, 2), (2, 3), (3, 1), (2, 4), (4, 5), (5, 2)]


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_checkpoint_dir_default_off(monkeypatch):
    monkeypatch.delenv("SPARK_GRAFT_CHECKPOINT_DIR", raising=False)
    assert checkpoint_dir() is None
    monkeypatch.setenv("SPARK_GRAFT_CHECKPOINT_DIR", "  ")
    assert checkpoint_dir() is None


def test_truncate_default_is_local_checkpoint(spark, monkeypatch):
    monkeypatch.delenv("SPARK_GRAFT_CHECKPOINT_DIR", raising=False)
    out = truncate(spark.range(5), eager=True)
    assert _rows(out) == [(i,) for i in range(5)]
    # localCheckpoint leaves the session's reliable-checkpoint dir unset
    # (unless an earlier test in this session opted in).


def test_reliable_checkpoint_results_identical(spark, tmp_path, monkeypatch):
    edges = spark.createDataFrame(EDGES, ["src", "dst"])
    monkeypatch.delenv("SPARK_GRAFT_CHECKPOINT_DIR", raising=False)
    base_pr = _rows(pagerank_integer(edges, iters=2))
    base_lpa = _rows(label_propagation(edges, rounds=3))

    ckpt = tmp_path / "ckpt"
    monkeypatch.setenv("SPARK_GRAFT_CHECKPOINT_DIR", str(ckpt))
    assert _rows(pagerank_integer(edges, iters=2)) == base_pr
    assert _rows(label_propagation(edges, rounds=3)) == base_lpa
    # reliable checkpoint files actually landed on stable storage
    files = [p for p in ckpt.rglob("*") if p.is_file()]
    assert files, "expected checkpoint files under SPARK_GRAFT_CHECKPOINT_DIR"


def test_truncate_warns_when_checkpoint_dir_changes(spark, tmp_path, monkeypatch):
    """Spark keeps one checkpoint dir per context, so truncate cannot
    follow a changed SPARK_GRAFT_CHECKPOINT_DIR; it says so instead of
    silently writing to the first dir."""
    import warnings

    import pytest

    sc = spark.sparkContext
    monkeypatch.setenv("SPARK_GRAFT_CHECKPOINT_DIR", str(tmp_path / "first"))
    with warnings.catch_warnings():
        # an earlier test may already have set this context's dir
        warnings.simplefilter("ignore")
        truncate(spark.range(3), eager=True)
    in_use = sc.getCheckpointDir()
    assert in_use is not None

    # the dir in use, however spelled, does not warn
    parent = in_use.rsplit("/", 1)[0].removeprefix("file:")
    monkeypatch.setenv("SPARK_GRAFT_CHECKPOINT_DIR", parent + "/")
    with warnings.catch_warnings():
        warnings.simplefilter("error", RuntimeWarning)
        assert _rows(truncate(spark.range(3), eager=True)) == [(0,), (1,), (2,)]

    other = str(tmp_path / "second")
    monkeypatch.setenv("SPARK_GRAFT_CHECKPOINT_DIR", other)
    with pytest.warns(RuntimeWarning, match="second"):
        out = truncate(spark.range(3), eager=True)
    assert _rows(out) == [(0,), (1,), (2,)]
    assert sc.getCheckpointDir() == in_use
