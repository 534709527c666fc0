"""SparkSession builder tuned for the driver's local[N] harness, and the
one way driver-side rows become a DataFrame (`local_frame`).

On a real cluster the same builder is used with master/memory supplied by
spark-submit; only the local-mode fallbacks below differ.
"""

from __future__ import annotations

import datetime as _dt
import os
from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType


def _driver_mem_for(phys_bytes: int) -> str:
    """Default driver heap: half of physical RAM, capped at 48g.  In
    local mode the driver JVM is the whole engine, and a heap sized
    above the host's RAM lets the JVM grow until the kernel's OOM
    killer ends it."""
    return f"{min(phys_bytes // 2, 48 << 30) >> 20}m"


def get_session(app_name: str = "radient_spark") -> SparkSession:
    """Build (or reuse) a SparkSession with scale-oriented defaults.

    - AQE on: runtime coalescing, skew-join splitting, dynamic join strategy.
    - Arrow on: every Pandas-UDF boundary is columnar.
    - shuffle.partitions sized to the local core count (driver harness);
      a cluster deployment overrides via spark-submit conf.
    - Join strategy: shuffled-hash preferred over sort-merge, with a
      64m AQE local-map threshold; a deployment overrides either through
      SPARK_GRAFT_EXTRA_CONF.
    - Partition discovery stays on the driver (no listing job when an
      index or claim log is loaded); a deployment can lower the
      threshold again through SPARK_GRAFT_EXTRA_CONF.
    - SPARK_GRAFT_EXTRA_CONF ("k1=v1;k2=v2") is applied last, so it can
      set any Spark conf, including every default above.
    - Driver heap: SPARK_GRAFT_DRIVER_MEM, else half of physical RAM
      capped at 48g (_driver_mem_for).
    """
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # Join strategy (optimization r12, guide §3.1): let the planner
        # pick shuffled-hash over sort-merge when its size conditions
        # hold, and let AQE rewrite SMJ->SHJ when every post-shuffle
        # partition is under the local-map threshold. Measured at sf0.1
        # (interleaved min-of-3, 12 join-heavy queries): 50.5s -> 47.5s,
        # no regressions (q21 2.69->2.25, q_entity_resolution
        # 5.10->4.36, q_kcore_suppliers 3.57->3.13). At cluster scale
        # the threshold bounds build-side memory per task; deployments
        # with tighter executors override both through
        # SPARK_GRAFT_EXTRA_CONF.
        .config("spark.sql.join.preferSortMergeJoin", "false")
        .config(
            "spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold", "64m"
        )
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_GRAFT_DRIVER_MEM")
            or _driver_mem_for(
                os.sysconf("SC_PHYS_PAGES") * os.sysconf("SC_PAGE_SIZE")
            ),
        )
        .config("spark.ui.enabled", "false")
        # List partitioned datasets on the driver. When one read names,
        # or one directory holds, more paths than this threshold (Spark's
        # default is 32), Spark lists them with a distributed job; in one
        # local JVM that job only adds scheduling to a listing the driver
        # does in milliseconds. This repo's partitioned layouts are IVF
        # cell_id=/ dirs (64 by default, at most 2^16 when sized from
        # sqrt(n)), one leaf_id=/ dir per forest leaf under each
        # tree_id=/, and the claim log's 64 bucket=/ dirs plus at most
        # compact_every deltas; 100000 is above all of them, so index
        # loads and claim-log reads list without a job.
        .config("spark.sql.sources.parallelPartitionDiscovery.threshold", "100000")
    )
    # Free-form conf passthrough for deployments and A/B measurement:
    # "k1=v1;k2=v2". Applied last, so it can override any default above.
    extra = os.environ.get("SPARK_GRAFT_EXTRA_CONF", "")
    for kv in extra.split(";"):
        if "=" in kv:
            k, v = kv.split("=", 1)
            builder = builder.config(k.strip(), v.strip())
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def local_frame(
    spark: SparkSession, rows: Sequence, schema: str | StructType
) -> DataFrame:
    """Driver-side rows as an Arrow-backed LocalRelation.

    Same schema and rows as ``spark.createDataFrame(rows, schema)``, but
    that call plans a ``Scan ExistingRDD`` over a Python RDD, so every
    action on the frame runs one Python-worker task per core just to
    unpickle a handful of rows. Shipping the rows as one Arrow table
    instead yields a ``LocalRelation``: no Python workers, and the
    planner sees the frame's real size.

    Naive ``datetime`` values in ``timestamp`` columns are read as local
    wall-clock time, exactly as ``createDataFrame`` reads them; a bare
    Arrow table would read them as UTC instead.
    """
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema
    from pyspark.sql.types import _parse_datatype_string

    if isinstance(schema, str):
        schema = _parse_datatype_string(schema)
    arrow_schema = to_arrow_schema(schema)
    columns = list(zip(*rows)) if rows else [()] * len(arrow_schema)
    arrays = []
    for values, field in zip(columns, arrow_schema):
        if pa.types.is_timestamp(field.type) and field.type.tz is not None:
            values = [
                v if v is None else v.astimezone(_dt.timezone.utc) for v in values
            ]
        arrays.append(pa.array(values, type=field.type))
    table = pa.Table.from_arrays(arrays, schema=arrow_schema)
    return spark.createDataFrame(table, schema)
