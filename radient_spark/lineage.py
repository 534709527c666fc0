"""Lineage truncation for iterative operators.

Every iterative operator (graph sweeps, connected components, BPE,
greedy coverage, ANN tree builds) truncates its per-round lineage so
the logical plan does not grow with the round count. Two mechanisms:

* ``localCheckpoint`` (the default): blocks live only on the computing
  executors. Cheap — no stable-storage write — but on a real cluster a
  lost executor mid-sweep loses its blocks, and because the blocks are
  not replicated the job fails rather than recovering (deterministic
  recompute covers lazy, not-yet-materialized rounds only).
* reliable ``checkpoint`` (opt-in): set ``SPARK_GRAFT_CHECKPOINT_DIR``
  to a fault-tolerant path (HDFS / object store) and every iterative
  operator's per-round truncation writes to it instead. Executor loss
  then costs at most one round's recompute. The cost is the
  stable-storage write per round — and for a LAZY reliable checkpoint
  Spark computes the round once for the downstream action and once
  more for the checkpoint write (the documented RDD.checkpoint
  recompute; persist-before-checkpoint would trade memory for it), so
  this is a deployment knob for cluster runs, not a local default.

The local default path is byte-identical to calling
``df.localCheckpoint(eager=...)`` directly, so local benchmarks and
plans are unchanged unless the env var is set.
"""

from __future__ import annotations

import os
import warnings

from pyspark.sql import DataFrame


def checkpoint_dir() -> str | None:
    """The reliable-checkpoint directory, or None for localCheckpoint."""
    d = os.environ.get("SPARK_GRAFT_CHECKPOINT_DIR", "").strip()
    return d or None


def truncate(df: DataFrame, eager: bool = False) -> DataFrame:
    """Truncate ``df``'s lineage: localCheckpoint by default, reliable
    checkpoint into $SPARK_GRAFT_CHECKPOINT_DIR when that is set.

    Chain-friendly for the lazy case: ``df.transform(truncate)``.
    """
    d = checkpoint_dir()
    if d is None:
        return df.localCheckpoint(eager=eager)
    sc = df.sparkSession.sparkContext
    # First set wins for the session: setCheckpointDir mints a fresh
    # random subdirectory on every call, so re-setting per round would
    # scatter checkpoint files. A different directory asked for later
    # is therefore not honored, and says so.
    current = sc.getCheckpointDir()
    if current is None:
        sc.setCheckpointDir(d)
    else:
        _warn_if_elsewhere(sc, current, d)
    return df.checkpoint(eager=eager)


def _warn_if_elsewhere(sc, current: str, wanted: str) -> None:
    """Warn when the context already checkpoints outside ``wanted``.
    ``current`` is the scheme-qualified ``<dir>/<uuid>`` that
    setCheckpointDir resolved, so compare its parent with ``wanted``
    qualified the same way."""
    Path = sc._jvm.org.apache.hadoop.fs.Path
    p = Path(wanted)
    qualified = p.getFileSystem(sc._jsc.hadoopConfiguration()).makeQualified(p)
    in_use = Path(current).getParent().toString()
    if qualified.toString() != in_use:
        warnings.warn(
            f"SPARK_GRAFT_CHECKPOINT_DIR is {wanted!r}, but this SparkContext "
            f"already checkpoints under {in_use!r} and Spark keeps one "
            "checkpoint directory per context; reliable checkpoints keep "
            "going there",
            RuntimeWarning,
            stacklevel=3,
        )
