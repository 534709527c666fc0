"""Catalog: load the driver's parquet tables and register temp views.

Mirrors the reference's source layer (radient/tasks/sources/local.py:7-26 —
a directory walk yielding file paths) done Spark-style: `spark.read.parquet`
gives us distributed scans with predicate pushdown and column pruning for
free.

Resolution cache (optimization round 12, guide §1/§6): every registry
query calls `load_tables`, and each call used to pay ~0.8 s of pure
driver-side work at sf0.1 — ten `spark.read.parquet` resolutions, each a
file listing plus a parquet footer read for schema inference, before any
job ran (measured: scripts/overhead_probe.json — `load_tables` 0.79 s
median vs 0.16 s for a whole end-to-end single-table aggregate). That is
catalog METADATA work, so it is cached the way any real metastore caches
it: per (session, directory, file-signature) we keep the resolved lazy
DataFrames; per (path, file-signature) we keep the inferred StructType.
Nothing about the DATA is memoized — the cached object is an unexecuted
logical plan, every action still scans the parquet files — and the
signature (file count, total bytes, max mtime) invalidates an entry the
moment the files change, so rewritten test fixtures re-resolve. Dead
sessions fall out via the session-identity check.
"""

from __future__ import annotations

import os
from typing import TYPE_CHECKING

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

if TYPE_CHECKING:
    from pyspark.sql.types import StructType

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

# The driver's parquet stores timestamps as TIMESTAMP(NANOS), which Spark's
# vectorized reader rejects. We read them as raw nanos (legacy conf below)
# and truncate to microsecond timestamps — exactly what DuckDB's reader does,
# so oracle comparisons agree. Integer `div` (not double /) preserves full
# precision: nanos exceed 2^53.
TIMESTAMP_NANOS_COLS = {
    "orders": ("o_orderdate",),
    "lineitem": ("l_shipdate",),
    "events": ("ts",),
}

# Scale-adaptive scan widening (optimization r12, guide §2.2/§2.5 —
# "make partitioning scale-adaptive rather than a constant tuned for
# either local mode or the cluster"). The driver's sf0.1 tables are
# single-row-group parquet files, so every scan is ONE task and all
# pre-exchange work — filters, projections, partial aggregation, the
# map side of the first join shuffle — runs on one core no matter how
# many the session has (measured: q01's 7 decimal aggregates over 600k
# rows spend ~1.3 s single-threaded; widened min 0.95 s vs 1.45 s).
# Tables whose file signature says "one or two splits, but enough rows
# to matter" are round-robin repartitioned to the session's default
# parallelism right at load. Guards make this provably absent at
# scale: a table above _WIDEN_MAX_BYTES already splits via
# spark.sql.files.maxPartitionBytes (the repartition would only add an
# exchange), and one below _WIDEN_MIN_BYTES is broadcast-dimension
# sized (the extra stage would cost more than the single-task scan).
# Predicate pushdown and column pruning pass through the repartition
# (verified in the plan: PushedFilters/ReadSchema unchanged at the
# scan node).
# The bounds are the local-mode values measured in
# scripts/overhead_probe.json + the A/B sweeps in OPTIMIZATION_r12.md.
_WIDEN_MIN_BYTES = 512 << 10
_WIDEN_MAX_BYTES = 256 << 20

# (abs path, signature) -> inferred StructType. Metadata only; shared
# across sessions (a StructType is engine-independent).
_SCHEMA_CACHE: dict[str, tuple[tuple, "StructType"]] = {}

# Resolved-table cache: one entry per live session, holding
# (session, {sf_dir: (per-table signature map, {table: DataFrame})}).
# Keyed by the JVM application id + Python object id, with the session
# object itself stored for an identity check — a stopped-and-replaced
# session (tests do this constantly) never serves another session's
# plans.
_TABLE_CACHE: dict[str, tuple[SparkSession, dict]] = {}


def _path_signature(path: str) -> tuple | None:
    """Cheap change-detector for a parquet file or directory: (file
    count, total bytes, max mtime ns). None when the path is not on a
    local filesystem we can stat — callers then skip caching."""
    try:
        if os.path.isfile(path):
            st = os.stat(path)
            return (1, st.st_size, st.st_mtime_ns)
        n = nbytes = mt = 0
        for root, _dirs, files in os.walk(path):
            for fn in files:
                st = os.stat(os.path.join(root, fn))
                n += 1
                nbytes += st.st_size
                mt = max(mt, st.st_mtime_ns)
        return (n, nbytes, mt) if n else None
    except OSError:
        return None


def _read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """spark.read.parquet with the footer-read skipped on a schema-cache
    hit (the explicit schema makes resolution listing-only)."""
    apath = os.path.abspath(path)
    sig = _path_signature(apath)
    if sig is None:
        return spark.read.parquet(path)
    hit = _SCHEMA_CACHE.get(apath)
    if hit is not None and hit[0] == sig:
        return spark.read.schema(hit[1]).parquet(path)
    df = spark.read.parquet(path)
    _SCHEMA_CACHE[apath] = (sig, df.schema)
    return df


def _session_key(spark: SparkSession) -> str | None:
    try:
        return f"{spark.sparkContext.applicationId}:{id(spark)}"
    except Exception:
        return None


def load_tables(spark: SparkSession, sf_dir: str = DEFAULT_SF_DIR) -> dict[str, DataFrame]:
    """Read every driver table as a DataFrame (lazy scans, nothing cached
    data-wise; resolved plans are reused per session — see module doc)."""
    skey = _session_key(spark)
    sigs = {name: _path_signature(f"{sf_dir}/{name}.parquet") for name in TABLES}
    cacheable = skey is not None and all(s is not None for s in sigs.values())
    if cacheable:
        entry = _TABLE_CACHE.get(skey)
        if entry is not None and entry[0] is spark:
            cached = entry[1].get(sf_dir)
            if cached is not None and cached[0] == sigs:
                return dict(cached[1])
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    # The driver may hand us a vanilla session: pin UTC so collected
    # timestamps agree with the (naive-UTC) parquet/DuckDB values.
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    try:
        parallelism = spark.sparkContext.defaultParallelism
    except Exception:
        parallelism = 0
    try:
        max_split = int(spark.conf.get("spark.sql.files.maxPartitionBytes", None) or (128 << 20))
    except Exception:
        max_split = 128 << 20
    out: dict[str, DataFrame] = {}
    for name in TABLES:
        df = _read_parquet(spark, f"{sf_dir}/{name}.parquet")
        dtypes = dict(df.dtypes)
        for c in TIMESTAMP_NANOS_COLS.get(name, ()):
            if dtypes.get(c) == "bigint":
                df = df.withColumn(c, F.timestamp_micros(F.expr(f"`{c}` div 1000")))
        sig = sigs.get(name)
        if (
            sig is not None
            and _WIDEN_MIN_BYTES <= sig[1] <= _WIDEN_MAX_BYTES
            and -(-sig[1] // max_split) < parallelism
        ):
            df = df.repartition(parallelism)
        out[name] = df
    if cacheable:
        entry = _TABLE_CACHE.get(skey)
        if entry is None or entry[0] is not spark:
            if len(_TABLE_CACHE) > 64:
                # bound growth under test-suite session churn; entries
                # are tiny (lazy plans), this is purely hygiene
                _TABLE_CACHE.clear()
            entry = (spark, {})
            _TABLE_CACHE[skey] = entry
        entry[1][sf_dir] = (sigs, dict(out))
    return out


def register_views(spark: SparkSession, sf_dir: str = DEFAULT_SF_DIR) -> dict[str, DataFrame]:
    """Register all tables as temp views so `spark.sql` sees them."""
    dfs = load_tables(spark, sf_dir)
    for name, df in dfs.items():
        df.createOrReplaceTempView(name)
    return dfs
