"""Portable HyperLogLog cardinality sketch (Flajolet et al. 2007).

Spark ships approx_count_distinct (a JVM HLL++ whose register layout no
other engine reproduces — the reason q_approx_cardinalities is a
rows-only check). This implementation makes the SKETCH ITSELF
oracle-checkable: every register value derives from portable md5
arithmetic, the harmonic sum is computed in EXACT integer arithmetic
(terms scaled by 2^50), and only the final division/ln touches floating
point — so DuckDB reproduces the estimate to the rounded digit.

Register math, per key:
  h   = 60-bit md5 slice            (identical in both engines)
  idx = h mod m                     (m = 2^p registers)
  w   = h div m                     ((60-p)-bit suffix)
  rho = leading zeros of w in (60-p) bits, plus 1
      = (61-p) - bitlength(w)       (bitlength via base-2 string length
                                     — integer-exact, no log2 rounding)
  M[idx] = max(rho)

Estimate: alpha_m * m^2 / sum_j 2^(-M_j), with empty registers
contributing 2^0 = 1. The sum is computed as S = sum_j 2^(50 - M_j)
(an exact BIGINT; M_j <= 49 so every term >= 2, and m * 2^50 < 2^63),
then E = alpha_m * m^2 * 2^50 / S. Small-range correction: E <= 2.5m
and zero registers exist -> linear counting m * ln(m / zeros).

Scale shape: ONE map-side-combined groupBy(idx) max — the shuffle is
at most m 16-byte rows regardless of input size, and the final fold is
a single m-row aggregate. Sketches for different columns/partitions
merge by register-wise max, the property that makes HLL the standard
distributed-distinct sketch.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from radient_spark.session import local_frame


def hll_alpha(m: int) -> float:
    """Bias-correction constant (published values for m >= 128)."""
    return 0.7213 / (1 + 1.079 / m)


def hll_registers(df: DataFrame, key: F.Column, p: int = 12) -> DataFrame:
    """The (idx, rho_max) register table of the HLL sketch of `key`."""
    m = 1 << p
    h = F.conv(F.substring(F.md5(key), 1, 15), 16, 10).cast("long")
    idx = h % m
    # h div m via shiftright: h does not survive a double round-trip
    # (60 bits > the 53-bit mantissa), so no `/` anywhere near it
    w = F.shiftright(h, p)
    bitlen = F.length(F.conv(w, 10, 2))
    rho = F.when(w == 0, F.lit(61 - p)).otherwise(F.lit(61 - p) - bitlen)
    return (
        df.select(idx.alias("idx"), rho.alias("rho"))
        .groupBy("idx")
        .agg(F.max("rho").alias("rho_max"))
    )


def hll_estimate(regs: DataFrame, p: int = 12, decimals: int = 4) -> DataFrame:
    """Fold a register table into a 1-row (n_registers_set, estimate)
    frame. The harmonic sum is exact-integer; only the final division
    (and the small-range ln) is floating point, rounded to `decimals`.
    """
    m = 1 << p
    numer = hll_alpha(m) * m * m * float(1 << 50)
    folded = regs.agg(
        F.count(F.lit(1)).alias("n_set"),
        # coalesce: an EMPTY sketch sums no rows -> all-zero registers,
        # which the linear-counting branch turns into estimate 0
        F.coalesce(
            F.sum(F.pow(F.lit(2.0), 50 - F.col("rho_max")).cast("long")),
            F.lit(0).cast("long"),
        ).alias("s_set"),
    )
    s_total = F.col("s_set") + (F.lit(m) - F.col("n_set")) * F.lit(1 << 50)
    zeros = F.lit(m) - F.col("n_set")
    e_raw = F.lit(numer) / s_total.cast("double")
    est = F.when(
        (e_raw <= 2.5 * m) & (zeros > 0),
        F.lit(float(m)) * F.log(F.lit(float(m)) / zeros.cast("double")),
    ).otherwise(e_raw)
    return folded.select(
        F.col("n_set").cast("long").alias("n_registers_set"),
        F.round(est, decimals).alias("estimate"),
    )


def hll_cardinality(
    df: DataFrame, col: str, p: int = 12, decimals: int = 4
) -> DataFrame:
    """One-row HLL distinct-count estimate of df[col]."""
    return hll_estimate(
        hll_registers(df, F.col(col).cast("string"), p), p, decimals
    )


def hll_sql(table: str, col: str, p: int = 12, decimals: int = 4) -> str:
    """The DuckDB oracle for hll_cardinality — the SAME register and
    integer-sum arithmetic, emitted as SQL. Shared constants are
    formatted from the same Python floats so neither engine parses a
    different literal."""
    m = 1 << p
    numer = repr(hll_alpha(m) * m * m * float(1 << 50))
    rho_cap = 61 - p
    return f"""
WITH regs AS (
  SELECT h % {m} AS idx,
    MAX(CASE WHEN h // {m} = 0 THEN {rho_cap}
             ELSE {rho_cap} - length(to_base(h // {m}, 2)) END) AS rho_max
  FROM (
    SELECT ('0x' || substring(md5(CAST({col} AS VARCHAR)), 1, 15))::BIGINT AS h
    FROM {table}
  ) GROUP BY 1
), folded AS (
  SELECT COUNT(*) AS n_set,
    COALESCE(SUM(CAST(2.0 ** (50 - rho_max) AS BIGINT)), 0) AS s_set
  FROM regs
)
SELECT CAST(n_set AS BIGINT) AS n_registers_set,
  ROUND(CASE
    WHEN {numer} / CAST(s_set + ({m} - n_set) * (1::BIGINT << 50) AS DOUBLE)
           <= 2.5 * {m} AND ({m} - n_set) > 0
    THEN {float(m)!r} * ln({float(m)!r} / CAST({m} - n_set AS DOUBLE))
    ELSE {numer} / CAST(s_set + ({m} - n_set) * (1::BIGINT << 50) AS DOUBLE)
  END, {decimals}) AS estimate
FROM folded
"""


# ---------------------------------------------------------------------------
# Count-min sketch: bounded-memory frequency estimation.
#
# Complements the HLL above with a sketch whose build AND point-query
# are exact integer arithmetic — the DuckDB oracle verifies the whole
# path hash-for-hash. The sketch IS a DataFrame of (row, slot, count)
# cells: one explode + one groupBy whose result is d*w rows regardless
# of corpus size. Cells merge across batches by summing (union +
# re-groupBy); estimates take min(count) over a candidate's d cells
# (the Cormode–Muthukrishnan bound: est >= true, overestimate bounded
# by eps*N at confidence 1-delta). Hashing is the portable md5 family:
# h_i(x) = str_hash(i || '_' || x) % w, reproducible bit-for-bit in SQL.


def _slot(token, row: int, width: int):
    from radient_spark.operators.dedup import str_hash

    return str_hash(F.concat_ws("_", F.lit(row), token)) % width


def cms_build(
    df: DataFrame, col: str, depth: int = 4, width: int = 256
) -> DataFrame:
    """Build the (row, slot, c) cell table for one column of tokens.

    One explode to d rows per token (d is tiny), one groupBy with
    partial aggregation — the shuffle carries at most d*w cells per
    map task, independent of input size.
    """
    if depth < 1 or width < 1:
        raise ValueError("depth and width must be >= 1")
    cells = F.array(
        *[
            F.struct(
                F.lit(r).alias("row"), _slot(F.col(col), r, width).alias("slot")
            )
            for r in range(depth)
        ]
    )
    return (
        df.select(F.explode(cells).alias("c"))
        .select("c.row", "c.slot")
        .groupBy("row", "slot")
        .agg(F.count(F.lit(1)).alias("c"))
    )


def cms_build_weighted(
    df: DataFrame,
    col: str,
    weight_col: str,
    depth: int = 4,
    width: int = 256,
) -> DataFrame:
    """cms_build over pre-aggregated (token, weight) rows: each cell
    sums the weights of the tokens hashing into it — EXACTLY the cell
    table cms_build produces when `weight` is that token's row count.
    Lets a caller that already has per-key counts sketch the counts
    table (|keys| rows) instead of re-scanning the raw data (|rows|
    rows) — optimization r12, guide §2.3."""
    if depth < 1 or width < 1:
        raise ValueError("depth and width must be >= 1")
    cells = F.array(
        *[
            F.struct(
                F.lit(r).alias("row"), _slot(F.col(col), r, width).alias("slot")
            )
            for r in range(depth)
        ]
    )
    return (
        df.select(F.explode(cells).alias("c"), F.col(weight_col).alias("__w"))
        .select("c.row", "c.slot", "__w")
        .groupBy("row", "slot")
        .agg(F.sum("__w").alias("c"))
    )


def cms_merge(a: DataFrame, b: DataFrame) -> DataFrame:
    """Merge two sketches built with the same (depth, width): cell-wise
    sum — the property that makes CMS a distributed-aggregation citizen."""
    return (
        a.unionByName(b)
        .groupBy("row", "slot")
        .agg(F.sum("c").alias("c"))
    )


def cms_estimate(
    sketch: DataFrame,
    candidates: DataFrame,
    cand_col: str,
    depth: int = 4,
    width: int = 256,
) -> DataFrame:
    """Point-query estimates for a candidate-token DataFrame: for each
    candidate, min over the d cells it hashes to (empty cells count 0,
    though with N >> w every cell is occupied). Candidates are the small
    side — broadcast; the sketch is d*w rows, also tiny. Output:
    (cand_col, est)."""
    probes = candidates.select(
        F.col(cand_col),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(r).alias("row"),
                        _slot(F.col(cand_col), r, width).alias("slot"),
                    )
                    for r in range(depth)
                ]
            )
        ).alias("p"),
    ).select(cand_col, "p.row", "p.slot")
    return (
        probes.join(sketch, ["row", "slot"], "left")
        .groupBy(cand_col)
        .agg(F.min(F.coalesce(F.col("c"), F.lit(0))).alias("est"))
    )


def hll_group_cardinality(
    df: DataFrame,
    group_col: str,
    col: str,
    p: int = 12,
    decimals: int = 4,
) -> DataFrame:
    """Per-group HLL distinct-count estimates — one sketch per group key
    in a single pass (the "distinct users per dimension" dashboard
    shape). Same register/estimate arithmetic as hll_cardinality, with
    both aggregations keyed by the group: shuffle volume is at most
    groups * 2^p register rows."""
    m = 1 << p
    numer = hll_alpha(m) * m * m * float(1 << 50)
    key = F.col(col).cast("string")
    h = F.conv(F.substring(F.md5(key), 1, 15), 16, 10).cast("long")
    idx = h % m
    w = F.shiftright(h, p)
    bitlen = F.length(F.conv(w, 10, 2))
    rho = F.when(w == 0, F.lit(61 - p)).otherwise(F.lit(61 - p) - bitlen)
    regs = (
        df.select(F.col(group_col).alias("g"), idx.alias("idx"), rho.alias("rho"))
        .groupBy("g", "idx")
        .agg(F.max("rho").alias("rho_max"))
    )
    folded = regs.groupBy("g").agg(
        F.count(F.lit(1)).alias("n_set"),
        F.sum(F.pow(F.lit(2.0), 50 - F.col("rho_max")).cast("long")).alias(
            "s_set"
        ),
    )
    s_total = F.col("s_set") + (F.lit(m) - F.col("n_set")) * F.lit(1 << 50)
    zeros = F.lit(m) - F.col("n_set")
    e_raw = F.lit(numer) / s_total.cast("double")
    est = F.when(
        (e_raw <= 2.5 * m) & (zeros > 0),
        F.lit(float(m)) * F.log(F.lit(float(m)) / zeros.cast("double")),
    ).otherwise(e_raw)
    return folded.select(
        F.col("g").alias(group_col),
        F.col("n_set").cast("long").alias("n_registers_set"),
        F.round(est, decimals).alias("estimate"),
    )


def hll_group_sql(
    table: str, group_col: str, col: str, p: int = 12, decimals: int = 4
) -> str:
    """DuckDB oracle for hll_group_cardinality."""
    m = 1 << p
    numer = repr(hll_alpha(m) * m * m * float(1 << 50))
    rho_cap = 61 - p
    return f"""
WITH regs AS (
  SELECT g, h % {m} AS idx,
    MAX(CASE WHEN h // {m} = 0 THEN {rho_cap}
             ELSE {rho_cap} - length(to_base(h // {m}, 2)) END) AS rho_max
  FROM (
    SELECT {group_col} AS g,
      ('0x' || substring(md5(CAST({col} AS VARCHAR)), 1, 15))::BIGINT AS h
    FROM {table}
  ) GROUP BY 1, 2
), folded AS (
  SELECT g, COUNT(*) AS n_set,
    SUM(CAST(2.0 ** (50 - rho_max) AS BIGINT)) AS s_set
  FROM regs GROUP BY g
)
SELECT g AS {group_col}, CAST(n_set AS BIGINT) AS n_registers_set,
  ROUND(CASE
    WHEN {numer} / CAST(s_set + ({m} - n_set) * (1::BIGINT << 50) AS DOUBLE)
           <= 2.5 * {m} AND ({m} - n_set) > 0
    THEN {float(m)!r} * ln({float(m)!r} / CAST({m} - n_set AS DOUBLE))
    ELSE {numer} / CAST(s_set + ({m} - n_set) * (1::BIGINT << 50) AS DOUBLE)
  END, {decimals}) AS estimate
FROM folded
"""


# ---------------------------------------------------------------------------
# Log-scale histogram quantile sketch (HdrHistogram-style)


def hist_build(
    df: DataFrame,
    value: F.Column,
    by: str | None = None,
    sub_bits: int = 5,
) -> DataFrame:
    """Build the (hkey, cnt) histogram sketch of `value` (optionally per
    `by` group), HdrHistogram-style (Tene, HdrHistogram; same layout as
    Prometheus native histograms): values clamp to >= 1, the octave is
    the bit length, and each octave refines into 2^sub_bits sub-buckets
    by the value's top sub_bits+1 bits — bounded RELATIVE error
    2^-sub_bits at any scale, with small values (< 2^(sub_bits+1))
    stored exactly.

    hkey = shift * 2^20 + (v >> shift), shift = max(bitlen(v)-1-sub_bits, 0)
    is monotone in v, and [key << shift, (key+1) << shift) recovers the
    bucket's value range. All arithmetic is integer (bit length via the
    base-2 string, the same trick the HLL registers use), so a DuckDB
    oracle reproduces every key and estimate bit-for-bit.

    ONE map-side-combined groupBy; the shuffle carries at
    most ~(63 - sub_bits) * 2^sub_bits + 2^(sub_bits+1) bucket rows per
    group regardless of input size (about 2k rows at sub_bits=5).
    Sketches merge by summing cnt per hkey (hist_merge) — the mergeable
    building block for cross-partition / cross-batch composition.
    """
    cols = ([F.col(by).alias("g")] if by else []) + [
        F.greatest(value.cast("long"), F.lit(1)).alias("__v")
    ]
    staged = df.select(*cols).withColumn(
        "__sh",
        F.greatest(
            F.length(F.conv(F.col("__v"), 10, 2)) - F.lit(1 + sub_bits),
            F.lit(0),
        ),
    )
    keyed = staged.select(
        *(["g"] if by else []),
        (
            F.col("__sh").cast("long") * F.lit(1048576)
            + F.expr("shiftright(__v, __sh)")
        ).alias("hkey"),
    )
    return keyed.groupBy(*(["g"] if by else []), "hkey").agg(
        F.count(F.lit(1)).alias("cnt")
    )


def hist_merge(a: DataFrame, b: DataFrame, by: str | None = None) -> DataFrame:
    """Merge two histogram sketches: union + per-key cnt sum."""
    keys = (["g"] if by else []) + ["hkey"]
    return a.unionByName(b).groupBy(*keys).agg(F.sum("cnt").alias("cnt"))


def hist_quantiles(
    sketch: DataFrame,
    qs: list[tuple[str, int, int]],
    by: str | None = None,
) -> DataFrame:
    """Quantile estimates from a histogram sketch. `qs` is a list of
    (label, num, den) with q = num/den; the target rank is the exact
    integer ceil(num * n / den) so both engines agree bit-for-bit.
    Returns (group?, quantile, est_lo, est_hi, n): the value range of
    the bucket containing the target order statistic — est_lo <= true
    value <= est_hi with (est_hi - est_lo + 1) / est_lo <= 2^-sub_bits.

    Scale shape: the cumulative window runs over the SKETCH (<= ~2k
    rows per group), never the data; with `by` the window partitions by
    group, without it the single partition holds one sketch.
    """
    from pyspark.sql import Window

    part = Window.partitionBy(*(["g"] if by else [])).orderBy("hkey")
    cum = sketch.withColumn(
        "__cum",
        F.sum("cnt").over(part.rowsBetween(Window.unboundedPreceding, 0)),
    ).withColumn(
        "__n",
        F.sum("cnt").over(
            Window.partitionBy(*(["g"] if by else [])).rowsBetween(
                Window.unboundedPreceding, Window.unboundedFollowing
            )
        ),
    )
    spark = sketch.sparkSession
    qdf = local_frame(spark, qs, "quantile string, num long, den long")
    hit = (
        cum.crossJoin(F.broadcast(qdf))
        # target = ceil(num*n/den) in pure integers
        .withColumn("__t", (F.col("num") * F.col("__n") + F.col("den") - 1) / F.col("den"))
        .withColumn("__t", F.floor(F.col("__t")).cast("long"))
        .filter(
            (F.col("__cum") >= F.col("__t"))
            & (F.col("__cum") - F.col("cnt") < F.col("__t"))
        )
    )
    out = hit.select(
        *([F.col("g")] if by else []),
        F.col("quantile"),
        F.expr(
            "shiftleft(hkey % 1048576, cast(floor(hkey / 1048576) as int))"
        ).alias("est_lo"),
        (
            F.expr(
                "shiftleft(hkey % 1048576 + 1, cast(floor(hkey / 1048576) as int))"
            )
            - F.lit(1)
        ).alias("est_hi"),
        F.col("__n").alias("n"),
    )
    return out


def cms_inner_product(a: DataFrame, b: DataFrame) -> DataFrame:
    """Join-size estimation from two count-min sketches built with the
    same (depth, width): the classic CM inner-product estimator
    (Cormode & Muthukrishnan 2005, §4.3) — for each hash row r,
    sum_w a[r,w] * b[r,w] upper-bounds |A JOIN B| on the sketched key
    (colliding keys only ADD mass), and the estimate is the MIN over
    rows. a == b gives the self-join size sum_k c_k^2, the quantity a
    shuffle planner needs to predict join blow-up and key skew BEFORE
    paying for the join.

    Input cell tables are d*w rows each; the join/aggregate here is
    sketch-sized, never data-sized. Exact integer arithmetic — the
    estimate itself is oracle-checkable. Returns one row
    (est_join_size)."""
    pa = a.select(
        F.col("row"), F.col("slot"), F.col("c").alias("__ca")
    )
    pb = b.select(
        F.col("row"), F.col("slot"), F.col("c").alias("__cb")
    )
    per_row = (
        pa.join(pb, ["row", "slot"])
        .groupBy("row")
        .agg(F.sum(F.col("__ca") * F.col("__cb")).alias("__ip"))
    )
    # The cell tables are sparse (occupied slots only), so a hash row
    # whose occupied slots are fully disjoint between the two sketches
    # has true inner product 0 but NO row in the inner join — it must
    # still participate in the MIN (otherwise disjoint sketches yield
    # NULL and partial overlaps overestimate).  Left-join the per-row
    # sums against the full row universe, coalescing absences to 0.
    all_rows = (
        pa.select("row").union(pb.select("row")).distinct()
    )
    return (
        all_rows.join(per_row, "row", "left")
        .select(F.coalesce(F.col("__ip"), F.lit(0)).alias("__ip"))
        .agg(
            F.coalesce(F.min("__ip"), F.lit(0).cast("long")).alias(
                "est_join_size"
            )
        )
    )


def hll_rolling_cardinality(
    df: DataFrame,
    ts_col: str,
    col: str,
    window_days: int = 7,
    p: int = 12,
    decimals: int = 4,
) -> DataFrame:
    """Rolling N-day distinct-count estimates — the "7-day active
    users" dashboard — by MERGING daily HLL sketches instead of
    rescanning N days per output point. Mergeability is the whole
    point of the register representation: the rolling sketch for day D
    is the register-wise MAX of days (D-N, D], so after ONE pass
    builds the per-day register table (bounded by days x 2^p rows,
    independent of event volume), every downstream step touches
    sketches only: a range join of the day spine against daily
    registers, a (day, idx) max, and the standard fold. Same register
    and estimate arithmetic as hll_cardinality, so the DuckDB oracle
    replays it bit-for-bit.

    Returns (day, n_registers_set, estimate) per observed day.
    """
    m = 1 << p
    day = F.date_trunc("day", F.col(ts_col))
    key = F.col(col).cast("string")
    h = F.conv(F.substring(F.md5(key), 1, 15), 16, 10).cast("long")
    idx = h % m
    w = F.shiftright(h, p)
    bitlen = F.length(F.conv(w, 10, 2))
    rho = F.when(w == 0, F.lit(61 - p)).otherwise(F.lit(61 - p) - bitlen)
    daily = (
        df.select(day.alias("rday"), idx.alias("idx"), rho.alias("rho"))
        .groupBy("rday", "idx")
        .agg(F.max("rho").alias("rho_max"))
    )
    days = daily.select(F.col("rday").alias("day")).distinct()
    merged = (
        days.join(
            daily,
            (F.col("rday") <= F.col("day"))
            & (
                F.col("rday")
                > F.col("day") - F.expr(f"INTERVAL {int(window_days)} DAYS")
            ),
        )
        .groupBy("day", "idx")
        .agg(F.max("rho_max").alias("rho_max"))
    )
    numer = hll_alpha(m) * m * m * float(1 << 50)
    folded = merged.groupBy("day").agg(
        F.count(F.lit(1)).alias("n_set"),
        F.sum(F.pow(F.lit(2.0), 50 - F.col("rho_max")).cast("long")).alias(
            "s_set"
        ),
    )
    s_total = F.col("s_set") + (F.lit(m) - F.col("n_set")) * F.lit(1 << 50)
    zeros = F.lit(m) - F.col("n_set")
    e_raw = F.lit(numer) / s_total.cast("double")
    est = F.when(
        (e_raw <= 2.5 * m) & (zeros > 0),
        F.lit(float(m)) * F.log(F.lit(float(m)) / zeros.cast("double")),
    ).otherwise(e_raw)
    return folded.select(
        "day",
        F.col("n_set").cast("long").alias("n_registers_set"),
        F.round(est, decimals).alias("estimate"),
    )


def hll_rolling_sql(
    table: str,
    ts_col: str,
    col: str,
    window_days: int = 7,
    p: int = 12,
    decimals: int = 4,
) -> str:
    """DuckDB oracle for hll_rolling_cardinality."""
    m = 1 << p
    numer = repr(hll_alpha(m) * m * m * float(1 << 50))
    rho_cap = 61 - p
    return f"""
WITH daily AS MATERIALIZED (
  SELECT rday, h % {m} AS idx,
    MAX(CASE WHEN h // {m} = 0 THEN {rho_cap}
             ELSE {rho_cap} - length(to_base(h // {m}, 2)) END) AS rho_max
  FROM (
    SELECT date_trunc('day', {ts_col}) AS rday,
      ('0x' || substring(md5(CAST({col} AS VARCHAR)), 1, 15))::BIGINT AS h
    FROM {table}
  ) GROUP BY 1, 2
), days AS (
  SELECT DISTINCT rday AS day FROM daily
), merged AS (
  SELECT d.day, r.idx, MAX(r.rho_max) AS rho_max
  FROM days d JOIN daily r
    ON r.rday <= d.day AND r.rday > d.day - INTERVAL {int(window_days)} DAY
  GROUP BY d.day, r.idx
), folded AS (
  SELECT day, COUNT(*) AS n_set,
    SUM(CAST(2.0 ** (50 - rho_max) AS BIGINT)) AS s_set
  FROM merged GROUP BY day
)
SELECT day, CAST(n_set AS BIGINT) AS n_registers_set,
  ROUND(CASE
    WHEN {numer} / CAST(s_set + ({m} - n_set) * (1::BIGINT << 50) AS DOUBLE)
           <= 2.5 * {m} AND ({m} - n_set) > 0
    THEN {float(m)!r} * ln({float(m)!r} / CAST({m} - n_set AS DOUBLE))
    ELSE {numer} / CAST(s_set + ({m} - n_set) * (1::BIGINT << 50) AS DOUBLE)
  END, {decimals}) AS estimate
FROM folded
"""
