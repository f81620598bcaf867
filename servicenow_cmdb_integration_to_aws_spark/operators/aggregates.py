"""Category D — aggregations (SURVEY §2.D).

Domain mapping [SN-API]: the ServiceNow Aggregate API
(`sysparm_group_by`, COUNT/SUM/AVG/MIN/MAX, `sysparm_having`).

Float-parity policy (SURVEY §7 hard-part #1): the money columns carry
exactly-2-decimal values (verified on the data), so every sum/product
is computed over DECIMAL casts — EXACT, order-independent — and only
the final value is cast to DOUBLE, identically in Spark and DuckDB.
That makes aggregate outputs bit-identical across engines with no
rounding fudge. Integral-valued doubles (l_quantity) sum exactly in
binary and need no cast.

100 TB notes: groupBy().agg() runs partial (map-side) aggregation
before the shuffle — the shuffle carries one row per (partition, key),
not per input row. countDistinct adds an Expand + second shuffle; at
scale prefer approx_count_distinct (d5) when tolerance allows.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..registry import query
from ..sources.tables import scan
from .fixpoint import _MAD
from .numeric import FIN, dec, dsum, finite_metric  # shared helpers (re-exported for compat)

__all__ = ["dec", "dsum"]


@query(
    "d1_agg_global",
    oracle="""
    SELECT COUNT(*) AS row_cnt,
           SUM(l_quantity) AS sum_qty,
           MIN(l_extendedprice) AS min_price,
           MAX(l_extendedprice) AS max_price,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*)
             AS avg_price
    FROM lineitem
    """,
)
def d1_agg_global(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ungrouped aggregate (d1): global count/sum/avg/min/max."""
    li = scan(spark, sf_dir, "lineitem")
    sum_price_dec = F.sum(dec("l_extendedprice"))
    return li.agg(
        F.count(F.lit(1)).alias("row_cnt"),
        F.sum("l_quantity").alias("sum_qty"),
        F.min("l_extendedprice").alias("min_price"),
        F.max("l_extendedprice").alias("max_price"),
        sum_price_dec.cast("double").alias("sum_price"),
        (sum_price_dec.cast("double") / F.count(F.lit(1))).alias("avg_price"),
    )


Q1_ORACLE = """
SELECT l_returnflag, l_linestatus,
       SUM(l_quantity) AS sum_qty,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
         AS sum_base_price,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                * (1 - CAST(l_discount AS DECIMAL(4,2)))) AS DOUBLE)
         AS sum_disc_price,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                * ((1 - CAST(l_discount AS DECIMAL(4,2)))
                   * (1 + CAST(l_tax AS DECIMAL(4,2))))) AS DOUBLE)
         AS sum_charge,
       SUM(l_quantity) / COUNT(*) AS avg_qty,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*)
         AS avg_price,
       CAST(SUM(CAST(l_discount AS DECIMAL(4,2))) AS DOUBLE) / COUNT(*)
         AS avg_disc,
       COUNT(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02'
GROUP BY l_returnflag, l_linestatus
"""


@query("d2_agg_group", oracle=Q1_ORACLE)
def d2_agg_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped aggregate (d2) — the flagship TPC-H-Q1-style pricing
    summary (SURVEY §7 phase 0): scan → filter → partial+final hash agg
    → sort. Exercises the full batch lifecycle (§3.1)."""
    li = scan(spark, sf_dir, "lineitem")
    price, disc, tax = dec("l_extendedprice"), dec("l_discount", 4, 2), dec("l_tax", 4, 2)
    n = F.count(F.lit(1))
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum("l_quantity").alias("sum_qty"),
            dsum(price).alias("sum_base_price"),
            dsum(price * (F.lit(1) - disc)).alias("sum_disc_price"),
            dsum(price * ((F.lit(1) - disc) * (F.lit(1) + tax))).alias("sum_charge"),
            (F.sum("l_quantity") / n).alias("avg_qty"),
            (F.sum(price).cast("double") / n).alias("avg_price"),
            (F.sum(disc).cast("double") / n).alias("avg_disc"),
            n.alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


@query(
    "d3_agg_having",
    oracle="""
    SELECT o_custkey, COUNT(*) AS n_orders,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS spend
    FROM orders GROUP BY o_custkey
    HAVING COUNT(*) >= 15
    """,
)
def d3_agg_having(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Post-aggregation filter (d3) — `sysparm_having`."""
    o = scan(spark, sf_dir, "orders")
    return (
        o.groupBy("o_custkey")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            dsum(dec("o_totalprice")).alias("spend"),
        )
        .filter(F.col("n_orders") >= 15)
    )


@query(
    "d4_count_distinct",
    oracle="""
    SELECT event_type,
           COUNT(DISTINCT user_id) AS n_users,
           COUNT(*) AS n_events
    FROM events GROUP BY event_type
    """,
)
def d4_count_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact distinct count per group (d4)."""
    e = scan(spark, sf_dir, "events")
    return e.groupBy("event_type").agg(
        F.countDistinct("user_id").alias("n_users"),
        F.count(F.lit(1)).alias("n_events"),
    )


@query(
    "d5_approx_distinct",
    oracle="""
    SELECT event_type,
           COUNT(DISTINCT user_id) AS exact_users,
           TRUE AS within_bound
    FROM events GROUP BY event_type
    """,
)
def d5_approx_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate distinct count (d5): HLL++ sketch — the one-pass,
    no-Expand 100 TB path for cardinality. Sketch estimates differ
    across engines by design, so the REGISTERED contract is checkable
    instead of value-matching: per group, ``within_bound`` certifies
    `abs(approx − exact)/exact ≤ 3·rsd` (floor of 3 absolute for tiny
    groups); the oracle expects TRUE everywhere plus the exact count.
    This query intentionally pays the exact countDistinct to *audit*
    the sketch; production cardinality calls use the sketch alone."""
    e = scan(spark, sf_dir, "events")
    rsd = 0.05
    agg = e.groupBy("event_type").agg(
        F.approx_count_distinct("user_id", rsd=rsd).alias("approx_users"),
        F.countDistinct("user_id").alias("exact_users"),
    )
    bound = F.greatest(F.lit(3.0), F.lit(3 * rsd) * F.col("exact_users"))
    return agg.select(
        "event_type",
        "exact_users",
        (F.abs(F.col("approx_users") - F.col("exact_users")) <= bound).alias(
            "within_bound"
        ),
    )


@query(
    "d6_rollup",
    oracle="""
    SELECT c_nationkey, c_mktsegment,
           CAST(GROUPING(c_nationkey) + GROUPING(c_mktsegment) AS BIGINT)
             AS grp_level,
           COUNT(*) AS n,
           CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS bal
    FROM customer
    GROUP BY ROLLUP (c_nationkey, c_mktsegment)
    HAVING COUNT(*) > 0
    """,
)
def d6_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rollup subtotals (d6): nation → (nation, segment) → grand total."""
    c = scan(spark, sf_dir, "customer")
    return c.rollup("c_nationkey", "c_mktsegment").agg(
        (F.grouping("c_nationkey") + F.grouping("c_mktsegment"))
        .cast("bigint")
        .alias("grp_level"),
        F.count(F.lit(1)).alias("n"),
        dsum(dec("c_acctbal")).alias("bal"),
    )


@query(
    "d7_cube",
    oracle="""
    SELECT o_orderstatus, o_orderpriority,
           CAST(GROUPING(o_orderstatus) + GROUPING(o_orderpriority) AS BIGINT)
             AS grp_level,
           COUNT(*) AS n,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
    FROM orders
    GROUP BY CUBE (o_orderstatus, o_orderpriority)
    HAVING COUNT(*) > 0
    """,
)
def d7_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cube — all grouping combinations (d7)."""
    o = scan(spark, sf_dir, "orders")
    return o.cube("o_orderstatus", "o_orderpriority").agg(
        (F.grouping("o_orderstatus") + F.grouping("o_orderpriority"))
        .cast("bigint")
        .alias("grp_level"),
        F.count(F.lit(1)).alias("n"),
        dsum(dec("o_totalprice")).alias("total"),
    )


@query(
    "d8_grouping_sets",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           COUNT(*) AS n, SUM(l_quantity) AS sum_qty
    FROM lineitem
    GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
    HAVING COUNT(*) > 0
    """,
)
def d8_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit grouping sets (d8) via the SQL surface (same Catalyst
    Expand operator as rollup/cube)."""
    return spark.sql(
        """
        SELECT l_returnflag, l_linestatus,
               COUNT(*) AS n, SUM(l_quantity) AS sum_qty
        FROM {lineitem}
        GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
        """,
        lineitem=scan(spark, sf_dir, "lineitem"),
    )


@query(
    "d9_collect",
    oracle="""
    SELECT c_nationkey, string_agg(seg, ',' ORDER BY seg) AS segments
    FROM (SELECT DISTINCT c_nationkey, c_mktsegment AS seg FROM customer)
    GROUP BY c_nationkey
    """,
)
def d9_collect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """List/set aggregation (d9), sorted for determinism.

    The set is serialized to a comma-joined string rather than returned as
    a top-level array column: driver harnesses canonicalize result frames
    with pandas ``sort_values``, which cannot hash array cells. Same
    information, scalar shape."""
    c = scan(spark, sf_dir, "customer")
    return c.groupBy("c_nationkey").agg(
        F.array_join(F.sort_array(F.collect_set("c_mktsegment")), ",").alias(
            "segments"
        )
    )


@query(
    "d10_percentile",
    oracle="""
    SELECT l_returnflag,
           quantile_cont(l_quantity, 0.25) AS qty_q25,
           quantile_cont(l_quantity, 0.50) AS qty_q50,
           quantile_cont(l_quantity, 0.75) AS qty_q75
    FROM lineitem GROUP BY l_returnflag
    """,
)
def d10_percentile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact percentiles (d10): quartiles of an integral-valued column;
    interpolation factors {0, .25, .5, .75} are exact binary fractions →
    engine-identical doubles. approx_percentile is exercised rows-only
    in tests (sketch values differ across engines by design).

    Quartiles are three scalar columns (not one array column) so driver
    harness canonicalization — pandas sort over cells — stays hashable."""
    li = scan(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.expr("percentile(l_quantity, 0.25D)").alias("qty_q25"),
        F.expr("percentile(l_quantity, 0.5D)").alias("qty_q50"),
        F.expr("percentile(l_quantity, 0.75D)").alias("qty_q75"),
    )


@query(
    "d11_stats",
    oracle="""
    SELECT l_returnflag,
           COUNT(*) AS n,
           (SUM(l_quantity * l_quantity)
              - SUM(l_quantity) * SUM(l_quantity) / COUNT(*))
             / (COUNT(*) - 1) AS var_qty,
           sqrt((SUM(l_quantity * l_quantity)
              - SUM(l_quantity) * SUM(l_quantity) / COUNT(*))
             / (COUNT(*) - 1)) AS std_qty,
           (CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))
                     * CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
              - SUM(l_quantity)
                * CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
                / COUNT(*))
             / (COUNT(*) - 1) AS covar_qty_price
    FROM lineitem GROUP BY l_returnflag
    """,
)
def d11_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Statistical aggregates (d11): var/stddev/covar with *textbook
    semantics* computed from exact sums (decimal / integral-exact), so
    both engines evaluate the identical IEEE expression. Equivalent to
    var_samp/stddev_samp/covar_samp; built that way for cross-engine
    bit-parity (SURVEY §7 hard-part #1)."""
    li = scan(spark, sf_dir, "lineitem")
    n = F.count(F.lit(1))
    sx = F.sum("l_quantity")
    sxx = F.sum(F.col("l_quantity") * F.col("l_quantity"))
    sy = F.sum(dec("l_extendedprice")).cast("double")
    sxy = F.sum(dec("l_quantity", 12, 2) * dec("l_extendedprice")).cast("double")
    # try_divide: a single-row group has n-1 = 0 — sample variance is
    # undefined there and BOTH engines must yield NULL (DuckDB x/0 is
    # NULL; bare ANSI `/` would kill the whole job on one tiny group).
    var_qty = F.try_divide(sxx - sx * sx / n, n - F.lit(1))
    return li.groupBy("l_returnflag").agg(
        n.alias("n"),
        var_qty.alias("var_qty"),
        F.sqrt(var_qty).alias("std_qty"),
        F.try_divide(sxy - sx * sy / n, n - F.lit(1)).alias("covar_qty_price"),
    )


@query(
    "d12_agg_distinct_input",
    oracle="""
    SELECT l_returnflag,
           SUM(DISTINCT l_quantity) AS sum_distinct_qty,
           COUNT(DISTINCT l_quantity) AS n_distinct_qty
    FROM lineitem GROUP BY l_returnflag
    """,
)
def d12_agg_distinct_input(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Aggregate over distinct inputs (d12)."""
    li = scan(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.sum_distinct(F.col("l_quantity")).alias("sum_distinct_qty"),
        F.countDistinct("l_quantity").alias("n_distinct_qty"),
    )


@query(
    "d14_salted_agg",
    oracle="""
    SELECT l_returnflag,
           COUNT(*) AS n_rows,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
             AS sum_price
    FROM lineitem
    GROUP BY l_returnflag
    """,
)
def d14_salted_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Salted two-phase aggregation (d14): the skew-mitigation pattern
    made explicit. `l_returnflag` has 3 values over ~600k rows — a
    worst-case skewed group key where a naive shuffle lands each key on
    ONE reducer. Phase 1 aggregates on (key, salt) spreading each hot
    key over 16 reducers; phase 2 merges the 3x16 partials.

    Results are identical to the unsalted plan (sums are associative;
    DECIMAL keeps them exact) — only the physical distribution changes.
    At 100 TB the same two lines are the difference between a straggler
    reducer and even utilization; Spark's AQE skew handling covers
    JOINS but not aggregations, so this pattern stays hand-written."""
    li = scan(spark, sf_dir, "lineitem")
    n_salt = 16
    partial = (
        li.withColumn("salt", F.pmod(F.xxhash64("l_orderkey"), F.lit(n_salt)))
        .groupBy("l_returnflag", "salt")
        .agg(
            F.count(F.lit(1)).alias("pn"),
            F.sum(dec("l_extendedprice")).alias("ps"),
        )
    )
    return partial.groupBy("l_returnflag").agg(
        F.sum("pn").alias("n_rows"),
        F.sum("ps").cast("double").alias("sum_price"),
    )


@query(
    "d17_approx_percentile",
    oracle="""
    SELECT l_returnflag,
           quantile_cont(l_extendedprice, 0.5) AS exact_p50,
           quantile_cont(l_extendedprice, 0.95) AS exact_p95,
           TRUE AS p50_within, TRUE AS p95_within
    FROM lineitem GROUP BY l_returnflag
    """,
)
def d17_approx_percentile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate percentile (d17): the t-digest-style sketch
    (`approx_percentile`, accuracy=10000) audited against exact
    percentiles with the same checkable-contract pattern as d5 —
    sketch values differ across engines by design, so the registered
    columns are the EXACT percentiles plus per-group booleans
    certifying the sketch landed within 1% relative error. One pass,
    no sort — the 100 TB path for latency/price distribution
    reporting; the exact percentile here exists only to audit it."""
    li = scan(spark, sf_dir, "lineitem")
    # Both exact percentiles ride ONE `percentile(col, array(...))`
    # aggregate: a single value→count buffer updated once per row,
    # interpolated twice at the end — vs two independent
    # percentile_cont buffers each absorbing every row (r14 A/B at
    # sf0.1 warm: 1.9 s → 1.35 s; same interpolation definition, same
    # doubles, same schema — parity-proven bit-identical).
    agg = li.groupBy("l_returnflag").agg(
        F.expr(
            "approx_percentile(l_extendedprice, array(0.5, 0.95), 10000)"
        ).alias("ap"),
        F.expr("percentile(l_extendedprice, array(0.5, 0.95))").alias("ep"),
    )
    tol = 0.01
    exact_p50 = F.element_at("ep", 1)
    exact_p95 = F.element_at("ep", 2)
    return agg.select(
        "l_returnflag",
        exact_p50.alias("exact_p50"),
        exact_p95.alias("exact_p95"),
        (
            F.abs(F.element_at("ap", 1) - exact_p50)
            <= tol * F.abs(exact_p50)
        ).alias("p50_within"),
        (
            F.abs(F.element_at("ap", 2) - exact_p95)
            <= tol * F.abs(exact_p95)
        ).alias("p95_within"),
    )


@query(
    "d18_hll_merge",
    oracle="""
    SELECT event_type, COUNT(DISTINCT user_id) AS exact_users,
           TRUE AS within_bound
    FROM events GROUP BY event_type
    UNION ALL
    SELECT 'ALL' AS event_type, COUNT(DISTINCT user_id) AS exact_users,
           TRUE AS within_bound
    FROM events
    """,
)
def d18_hll_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable HLL sketches (d18): per-type DataSketches HLL
    (`hll_sketch_agg`, lgK=14) union-merged to a global estimate with
    `hll_union_agg` — the raw data is scanned ONCE; the 'ALL' row is
    derived purely by merging the per-group sketches. This is the
    100 TB pattern for distinct-user reporting: persist per-partition
    (or per-day) sketch bytes, answer any group-union rollup later
    without rescanning. Audited with the d5/d17 checkable-contract
    pattern: exact counts plus a boolean certifying the estimate is
    within 2% relative error (lgK=14 gives ~0.8% RSE).

    r14 shape (guide §2.1/§2.3): the r13 version scanned events THREE
    times (the per-type sketch pipeline planned once per consumer,
    plus a separate raw scan for the global exact count). Now the
    distinct (event_type, user_id) pairs — the shape Spark's own
    countDistinct rewrite builds internally anyway — are materialized
    ONCE (lazy persist, lineage-recoverable) and every downstream agg
    reads the cache: per-type count = count over pairs, per-type
    sketch = hll over pairs (HLL register updates are idempotent, so
    pre-dedup cannot change any estimate), global exact = distinct
    user over pairs. ONE raw scan; the two residual shuffles move
    deduped pairs, not raw events. A/B + parity in
    OPTIMIZATION_r14.md."""
    e = scan(spark, sf_dir, "events")
    pairs = (
        e.select("event_type", "user_id")
        .distinct()
        .persist(_MAD)
    )
    per = pairs.groupBy("event_type").agg(
        F.hll_sketch_agg("user_id", F.lit(14)).alias("sk"),
        F.count("user_id").alias("exact_users"),
    ).persist(_MAD)
    tol = 0.02
    within = (
        F.abs(
            F.hll_sketch_estimate("sk").cast("double") - F.col("exact_users")
        )
        <= tol * F.col("exact_users")
    ).alias("within_bound")
    per_out = per.select("event_type", "exact_users", within)
    merged = per.agg(F.hll_union_agg("sk").alias("sk"))
    glob = (
        pairs.agg(F.countDistinct("user_id").alias("exact_users"))
        .crossJoin(merged)
        .select(F.lit("ALL").alias("event_type"), "exact_users", within)
    )
    return per_out.unionByName(glob)


@query(
    "d19_time_rollup",
    oracle=f"""
    WITH e AS (SELECT CAST(ts AS TIMESTAMP) AS ts, value FROM events)
    SELECT CAST(year(ts) AS INT) AS y,
           CAST(month(ts) AS INT) AS m,
           CAST(day(ts) AS INT) AS d,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(floor(({FIN}) * 100) AS BIGINT)) AS BIGINT)
             AS sum_cents
    FROM e
    GROUP BY ROLLUP (year(ts), month(ts), day(ts))
    HAVING COUNT(*) > 0
    ORDER BY y NULLS FIRST, m NULLS FIRST, d NULLS FIRST
    """,
)
def d19_time_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-hierarchy rollup (d19): the hypertable continuous-aggregate
    shape — day, month, year subtotals and the grand total of the event
    stream in ONE scan via GROUP BY ROLLUP over the calendar hierarchy
    (the batch twin of the i1 tumbling-window aggregate).

    Parity: value sums as integer cents (`floor(value*100)` in int64 —
    associative, bit-exact both engines, the i7 policy); calendar
    fields are integer-exact.

    100 TB notes: rollup expands each row to its 4 grouping sets
    BEFORE the partial aggregate, so the exchange still carries only
    (distinct days + months + years + 1) rows per task — the partial
    agg absorbs the 4× row expansion map-side. This is how you
    maintain day/month/year dashboards without three separate scans
    or a second aggregation pass over the day-grain result."""
    ev = scan(spark, sf_dir, "events").select(
        F.year("ts").alias("y_"),
        F.month("ts").alias("m_"),
        F.dayofmonth("ts").alias("d_"),
        # finite gate (numeric.finite_metric): NaN/Inf/garbage values
        # carry no cents — ungated, floor(NaN*100)→bigint is an ANSI
        # cast kill and 1e12-scale garbage overflows the long sum
        F.floor(finite_metric("value") * 100).cast("bigint").alias("cents"),
    )
    return (
        ev.rollup("y_", "m_", "d_")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum("cents").alias("sum_cents"),
        )
        .select(
            F.col("y_").cast("int").alias("y"),
            F.col("m_").cast("int").alias("m"),
            F.col("d_").cast("int").alias("d"),
            "n_events",
            "sum_cents",
        )
        .orderBy(
            F.col("y").asc_nulls_first(),
            F.col("m").asc_nulls_first(),
            F.col("d").asc_nulls_first(),
        )
    )


#: d20 profiled columns (name -> quoted once in both engines)
_PROFILE_COLS = ("l_returnflag", "l_shipdate", "l_quantity", "l_extendedprice")


def _profile_oracle() -> str:
    """Per-column UNION ALL mirror of d20 (DuckDB re-scans per column;
    the Spark side is the interesting one — ONE scan via Expand)."""
    parts = [
        f"""
    SELECT '{c}' AS column_name,
           CAST(SUM(CASE WHEN {c} IS NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS n_null,
           COUNT(DISTINCT {c}) AS n_distinct,
           CAST(MIN({c}) AS VARCHAR) AS min_v,
           CAST(MAX({c}) AS VARCHAR) AS max_v
    FROM lineitem"""
        for c in _PROFILE_COLS
    ]
    return " UNION ALL ".join(parts)


@query("d20_column_profile", oracle=_profile_oracle())
def d20_column_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-pass column profiler (d20): per column — null count, exact
    distinct count, min and max (stringified to unify types) — the
    data-quality / catalog-stats sweep every ingest job runs before
    trusting a feed, and the stats layer CBO estimates come from.

    100 TB notes: ALL columns profile in ONE scan. Multiple exact
    COUNT(DISTINCT)s in one aggregate compile to a single Expand
    (one projection per distinct column + one for the plain aggs), so
    the scan cost is paid once and the expansion collapses in the
    map-side partial aggregate — vs the naive per-column loop that
    scans the table N times (the oracle runs that form). The final
    stack() to long format is a 1-row map. At extreme cardinality the
    exact distinct swaps for approx_count_distinct (d5's tolerance
    contract) without touching the plan shape.

    The near-unique price column is the honest cost: its expanded rows
    barely collapse in the partial agg, so ~|rows| cells cross the
    wire — exact distinct on a unique key costs a full shuffle in ANY
    engine; that, not the Expand, is what approx_count_distinct buys
    back. spread() parallelizes the single-row-group local file's
    Expand (no-op at real scale)."""
    from ..sources.tables import spread

    li = spread(
        scan(spark, sf_dir, "lineitem").select(*_PROFILE_COLS),
        *_PROFILE_COLS,
    )
    return profile(li, _PROFILE_COLS)


def profile(df: DataFrame, cols) -> DataFrame:
    """Parametric one-pass profiler (d20's tested machinery): null /
    exact-distinct / min / max per column from a single Expand scan."""
    aggs = []
    for c in cols:
        aggs += [
            F.sum(F.when(F.col(c).isNull(), 1).otherwise(0))
            .cast("bigint")
            .alias(f"null_{c}"),
            F.count_distinct(F.col(c)).alias(f"dist_{c}"),
            F.min(F.col(c)).cast("string").alias(f"min_{c}"),
            F.max(F.col(c)).cast("string").alias(f"max_{c}"),
        ]
    wide = df.agg(*aggs)
    stack_args = ", ".join(
        f"'{c}', null_{c}, dist_{c}, min_{c}, max_{c}" for c in cols
    )
    return wide.select(
        F.expr(
            f"stack({len(cols)}, {stack_args}) AS "
            "(column_name, n_null, n_distinct, min_v, max_v)"
        )
    )


@query(
    "d21_zscore_outliers",
    oracle=f"""
    WITH e AS (
        SELECT event_id, event_type,
               CAST(CAST(({FIN})
                         AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
        FROM events
    ),
    s AS (
        SELECT event_type,
               CAST(COUNT(*) AS HUGEINT) AS n,
               CAST(SUM(cents) AS HUGEINT) AS s1,
               SUM(CAST(cents AS HUGEINT) * cents) AS s2
        FROM e GROUP BY event_type
    )
    SELECT e.event_id, e.event_type, e.cents
    FROM e JOIN s USING (event_type)
    WHERE (n * e.cents - s1) * (n * e.cents - s1)
          > 9 * (n * s2 - s1 * s1)
    """,
)
def d21_zscore_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact 3-sigma outlier detection (d21): events whose value sits
    more than 3 population standard deviations from their type's mean
    — the monitoring/data-quality anomaly gate. The z-score test is
    algebraically cleared of divisions: (c-mu)^2 > 9*sigma^2 becomes
    (n*c - S1)^2 > 9*(n*S2 - S1^2) over integer cents — EXACT integer
    arithmetic on both engines (Spark DECIMAL(38,0), DuckDB HUGEINT),
    so membership can never flip on a float ulp, unlike every
    stddev()-based formulation.

    100 TB notes: the stats pass partial-aggs (type, cents) down to
    |types| rows — its rescan of events reads two pruned columns only
    — and broadcasts back into the probe scan (a type-partitioned
    window would put each type on ONE task: skew by construction).
    The filter runs map-side in codegen; output is outlier-sized."""
    # finite gate: NaN/Inf/garbage magnitudes carry no cents (and an
    # ungated 1e15 squared through the moment algebra overflows even
    # DECIMAL(38,0)/HUGEINT — the r8 --extremes finding)
    cents = finite_metric("value").cast("decimal(18,2)") * 100
    e = scan(spark, sf_dir, "events").select(
        "event_id", "event_type", cents.cast("bigint").alias("cents")
    )
    d38 = lambda c: c.cast("decimal(38,0)")  # noqa: E731
    s = e.groupBy("event_type").agg(
        d38(F.count(F.lit(1))).alias("n"),
        d38(F.sum("cents")).alias("s1"),
        F.sum(d38(F.col("cents")) * F.col("cents")).alias("s2"),
    )
    dev = F.col("n") * F.col("cents") - F.col("s1")
    var_n2 = F.col("n") * F.col("s2") - F.col("s1") * F.col("s1")
    return (
        e.join(F.broadcast(s), "event_type")
        .filter(dev * dev > 9 * var_n2)
        .select("event_id", "event_type", "cents")
    )


@query(
    "d22_corr_moments",
    oracle="""
    WITH li AS (
        SELECT l_returnflag,
               CAST(l_quantity AS HUGEINT) AS x,
               CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS HUGEINT)
                 AS y
        FROM lineitem
    ),
    m AS (
        SELECT l_returnflag,
               CAST(COUNT(*) AS HUGEINT) AS n,
               SUM(x) AS sx, SUM(y) AS sy,
               SUM(x * y) AS sxy, SUM(x * x) AS sxx, SUM(y * y) AS syy
        FROM li GROUP BY l_returnflag
    )
    SELECT l_returnflag,
           round(
             CAST(n * sxy - sx * sy AS DOUBLE)
             / (sqrt(CAST(n * sxx - sx * sx AS DOUBLE))
                * sqrt(CAST(n * syy - sy * sy AS DOUBLE))),
             6) AS corr_qty_price
    FROM m
    """,
)
def d22_corr_moments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pearson correlation via exact moments (d22): corr(quantity,
    price) per returnflag — the feature-relationship scan of any
    profiling pass. Neither engine's native corr() is used: streaming
    corr accumulates in engine-specific float order, so two correct
    implementations disagree in the last ulps. Instead all five
    moments (sum x, y, xy, x^2, y^2) accumulate EXACTLY (integer qty,
    integer price-cents; Spark DECIMAL(38,0) / DuckDB HUGEINT), and
    the closed form evaluates once per group in double with identical
    shape — bit-reproducible across engines, run order, and
    partitioning.

    100 TB notes: one scan, one partial-aggregable shuffle carrying
    |groups| x 6 integer cells per task; the float math happens on
    the |groups|-row result. This is THE pattern for distributed
    statistics: exact associative moments in fixed-point, float only
    at the end."""
    d38 = lambda c: c.cast("decimal(38,0)")  # noqa: E731
    li = scan(spark, sf_dir, "lineitem").select(
        "l_returnflag",
        F.col("l_quantity").cast("long").alias("x"),
        (F.col("l_extendedprice").cast("decimal(18,2)") * 100)
        .cast("long")
        .alias("y"),
    )
    m = li.groupBy("l_returnflag").agg(
        d38(F.count(F.lit(1))).alias("n"),
        d38(F.sum("x")).alias("sx"),
        d38(F.sum("y")).alias("sy"),
        F.sum(d38(F.col("x")) * F.col("y")).alias("sxy"),
        F.sum(d38(F.col("x")) * F.col("x")).alias("sxx"),
        F.sum(d38(F.col("y")) * F.col("y")).alias("syy"),
    )
    num = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")).cast("double")
    dx = F.sqrt((F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")).cast("double"))
    dy = F.sqrt((F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")).cast("double"))
    # try_divide: dx*dy = 0 when a group has one row (or zero variance)
    # — correlation is undefined; DuckDB's x/0 → NULL, ANSI `/` throws.
    return m.select(
        "l_returnflag",
        F.round(F.try_divide(num, dx * dy), 6).alias("corr_qty_price"),
    )


_HIST_BINS = 20


@query(
    "d23_histogram",
    oracle=f"""
    WITH mm AS (
        SELECT MIN(l_extendedprice) AS lo, MAX(l_extendedprice) AS hi
        FROM lineitem
    ),
    b AS (
        SELECT least(CAST(floor((l_extendedprice - lo)
                                / ((hi - lo) / {_HIST_BINS})) AS BIGINT),
                     {_HIST_BINS - 1}) AS bin,
               lo, hi
        FROM lineitem, mm
    )
    SELECT bin,
           round(lo + bin * ((hi - lo) / {_HIST_BINS}), 6) AS bin_lo,
           round(lo + (bin + 1) * ((hi - lo) / {_HIST_BINS}), 6) AS bin_hi,
           CAST(COUNT(*) AS BIGINT) AS n
    FROM b GROUP BY bin, lo, hi
    """,
)
def d23_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-width histogram (d23): 20 bins over the price column with
    data-derived bounds — the numeric-distribution complement of d20's
    per-column profile and j34's power-of-two length buckets; what a
    CBO histogram or a monitoring dashboard's distribution panel
    actually computes.

    Parity: bin edges derive from the SAME (min, max) on both engines
    and the bin index is the same float expression shape —
    bit-identical assignment; edge rounding 6dp for display only.

    100 TB notes: pass 1 is a 2-cell global aggregate (min/max,
    partial-aggregable); its 1-row result crossJoin-broadcasts into
    the binning scan (the t22/j34 denominator pattern), so pass 2 is
    map-side binning + a {_HIST_BINS}-key partial agg. Two scans of
    one pruned column ≪ one shuffle of the table; a sampled-bounds
    variant drops pass 1 entirely when approximate edges suffice."""
    li = scan(spark, sf_dir, "lineitem").select("l_extendedprice")
    mm = li.agg(
        F.min("l_extendedprice").alias("lo"), F.max("l_extendedprice").alias("hi")
    )
    width = (F.col("hi") - F.col("lo")) / _HIST_BINS
    # try_divide: hi = lo (all values equal / single row) makes width 0;
    # 0/0 must yield NULL like DuckDB, and then least() — which SKIPS
    # NULLs in both engines — degrades every row to the top bin
    # identically instead of ANSI-failing the job.
    binned = li.crossJoin(F.broadcast(mm)).select(
        F.least(
            F.floor(
                F.try_divide(F.col("l_extendedprice") - F.col("lo"), width)
            ).cast("bigint"),
            F.lit(_HIST_BINS - 1).cast("bigint"),
        ).alias("bin"),
        "lo",
        "hi",
    )
    return binned.groupBy("bin", "lo", "hi").agg(
        F.count(F.lit(1)).alias("n")
    ).select(
        "bin",
        F.round(F.col("lo") + F.col("bin") * width, 6).alias("bin_lo"),
        F.round(F.col("lo") + (F.col("bin") + 1) * width, 6).alias("bin_hi"),
        "n",
    )


@query(
    "d24_argmax_mode",
    oracle="""
    WITH top AS (
        SELECT o_orderpriority, o_orderkey,
               row_number() OVER (
                   PARTITION BY o_orderpriority
                   ORDER BY o_totalprice DESC, o_orderkey
               ) AS rn
        FROM orders
    ),
    cnt AS (
        SELECT o_orderpriority, o_orderstatus, COUNT(*) AS n
        FROM orders GROUP BY o_orderpriority, o_orderstatus
    ),
    md AS (
        SELECT o_orderpriority, o_orderstatus,
               row_number() OVER (
                   PARTITION BY o_orderpriority
                   ORDER BY n DESC, o_orderstatus
               ) AS rn
        FROM cnt
    )
    SELECT t.o_orderpriority,
           t.o_orderkey AS top_orderkey,
           m.o_orderstatus AS modal_status
    FROM top t JOIN md m ON m.o_orderpriority = t.o_orderpriority
    WHERE t.rn = 1 AND m.rn = 1
    """,
)
def d24_argmax_mode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic argmax + mode (d24): per priority, WHICH order
    has the highest price and WHICH status is most frequent — the
    two aggregates whose native forms (max_by / mode) leave ties
    engine-defined; here both are pinned to a total order
    (price DESC, key ASC / count DESC, value ASC) so the answer is
    reproducible across engines, runs and reshards. Ties aren't an
    edge case at 100 TB — they're a certainty.

    100 TB notes: argmax is ONE priority-keyed window (rank over the
    co-partitioned rows, no join-back); mode ranks the (priority,
    status) COUNT aggregate — distribution-sized input, trivial. Both
    windows partition on the same key as the final join, so the plan
    reuses one exchange lineage per branch."""
    o = scan(spark, sf_dir, "orders")
    wt = Window.partitionBy("o_orderpriority").orderBy(
        F.col("o_totalprice").desc(), "o_orderkey"
    )
    top = (
        o.select(
            "o_orderpriority",
            "o_orderkey",
            F.row_number().over(wt).alias("rn"),
        )
        .filter(F.col("rn") == 1)
        .drop("rn")
        .withColumnRenamed("o_orderkey", "top_orderkey")
    )
    cnt = o.groupBy("o_orderpriority", "o_orderstatus").agg(
        F.count(F.lit(1)).alias("n")
    )
    wm = Window.partitionBy("o_orderpriority").orderBy(
        F.col("n").desc(), "o_orderstatus"
    )
    md = (
        cnt.select(
            "o_orderpriority",
            "o_orderstatus",
            F.row_number().over(wm).alias("rn"),
        )
        .filter(F.col("rn") == 1)
        .select("o_orderpriority", F.col("o_orderstatus").alias("modal_status"))
    )
    return top.join(md, "o_orderpriority").select(
        "o_orderpriority", "top_orderkey", "modal_status"
    )


@query(
    "d25_bitmap_distinct",
    oracle="""
    SELECT event_type, COUNT(DISTINCT user_id) AS n_users
    FROM events GROUP BY event_type
    """,
)
def d25_bitmap_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bitmap-based exact distinct (d25): the two-level
    bucket-bitmap pattern — keys map to (bucket, bit position),
    per-(group, bucket) bitmaps OR together, popcounts sum per group.
    Exactly COUNT(DISTINCT) — the oracle IS count distinct — but with
    a property d4's Expand path lacks: bitmaps are MERGEABLE state.
    An incremental/materialized-view refresh ORs yesterday's stored
    bitmaps with today's delta instead of rescanning history, and a
    rollup across dimensions ORs instead of recounting (the d18/HLL
    trick with no approximation, while keys are dense integers).

    100 TB notes: partial aggregation ORs bitmaps map-side, so the
    exchange carries one ≤4 KB bitmap per (group, bucket) — volume
    bounded by key density, not row count; sparse/string keys first
    pass through a dense-id dictionary (or fall back to d5's HLL)."""
    e = scan(spark, sf_dir, "events").select("event_type", "user_id")
    per_bucket = e.groupBy(
        "event_type",
        F.expr("bitmap_bucket_number(user_id)").alias("bucket"),
    ).agg(
        F.expr("bitmap_construct_agg(bitmap_bit_position(user_id))").alias("bm")
    )
    return per_bucket.groupBy("event_type").agg(
        F.sum(F.expr("bitmap_count(bm)")).alias("n_users")
    )


@query(
    "d26_weighted_median",
    oracle="""
    WITH w AS (
        SELECT l_returnflag,
               l_extendedprice AS v,
               CAST(l_quantity AS BIGINT) AS wt,
               SUM(CAST(l_quantity AS BIGINT)) OVER (
                   PARTITION BY l_returnflag
                   ORDER BY l_extendedprice, l_orderkey, l_linenumber
                   ROWS UNBOUNDED PRECEDING
               ) AS cum,
               SUM(CAST(l_quantity AS BIGINT)) OVER (
                   PARTITION BY l_returnflag
               ) AS total
        -- a NULL value carries no weight: weighted_median() filters
        -- null v (r6 advisory hardening), mirrored here (r7 null sweep)
        FROM lineitem WHERE l_extendedprice IS NOT NULL
    ),
    q AS (
        SELECT l_returnflag, v,
               row_number() OVER (
                   PARTITION BY l_returnflag ORDER BY cum, v
               ) AS rn
        FROM w
        WHERE 2 * cum >= total
    )
    SELECT l_returnflag, v AS weighted_median
    FROM q WHERE rn = 1
    """,
)
def d26_weighted_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact weighted median (d26): the price at which half the
    QUANTITY (not half the rows) sits below — the volume-weighted
    central tendency billing and capacity planning need; d10/d17's
    percentile family is row-weighted and can't express it. Defined
    as the first value whose cumulative weight reaches total/2 over
    the (value, tie-break) total order — integer weights, so the
    2*cum >= total test is EXACT (no float quantile interpolation
    anywhere).

    100 TB notes — TWO-PHASE (histogram + refine), the d23 pattern:
    the naive form is a per-group cumulative window, so parallelism is
    bounded by |groups| (probe-measured exponent 0.60 at 3 groups —
    SCALING.md). Instead:

    1. HISTOGRAM: bucket v with the monotone map ``floor(v/width)``
       and partial-agg per-(group, bucket) weight sums map-side — the
       only full-data exchange carries |groups|·|buckets| cells, not
       rows. A tiny window over the bucket histogram locates each
       group's CROSSING bucket (first with 2·cum ≥ total) plus the
       exact cumulative weight below it.
    2. REFINE: broadcast the |groups|-row crossing table back into the
       scan; only rows INSIDE their group's crossing bucket (~N/B)
       reach the per-group cumulative window, seeded with the phase-1
       prefix — the group-bound sort now touches 1/B of the data.

    Exactness is preserved because the bucket map is monotone in v and
    ties (equal v) share a bucket: the global (v, orderkey, linenumber)
    prefix sum decomposes exactly into whole-bucket sums + the
    in-bucket remainder. Integer weights keep 2·cum ≥ total exact —
    no float quantile interpolation anywhere (d17 is the sketch
    alternative when one pass must also be approximate)."""
    li = scan(spark, sf_dir, "lineitem").select(
        "l_returnflag",
        F.col("l_extendedprice").alias("v"),
        F.col("l_quantity").cast("bigint").alias("wt"),
        "l_orderkey",
        "l_linenumber",
    )
    return weighted_median(
        li, "l_returnflag", "v", "wt", "l_orderkey", "l_linenumber"
    )


def weighted_median(
    df: DataFrame,
    group: str,
    v: str,
    wt: str,
    *tiebreak: str,
    bucket_width: float = 1024.0,
) -> DataFrame:
    """Two-phase exact weighted median (d26's machinery, parametric).

    Phase 1 locates each group's crossing bucket from a map-side
    partial-aggregated histogram; phase 2 refines exactly inside that
    bucket only. ``bucket_width`` trades histogram size (value-range /
    width cells per group) against refine volume (~N/B rows).

    NULL ``v`` rows are dropped up front (a NULL value has no place in
    a median; without the filter they would land in a NULL bucket that
    sorts FIRST under the phase-1 window and silently skew cumb/total).
    Callers with NULL weights should pre-filter or coalesce them:
    SUM skips NULLs so such a row carries weight 0, but it remains a
    candidate row in the refine pass."""
    df = df.where(F.col(v).isNotNull())
    b = F.floor(F.col(v) / F.lit(bucket_width)).cast("bigint").alias("b")
    rows = df.select(group, v, wt, *tiebreak, b)

    # Phase 1: per-(group, bucket) weight histogram — partial agg
    # collapses map-side; the exchange carries histogram cells only.
    hist = rows.groupBy(group, "b").agg(F.sum(wt).alias("bw"))
    wb = Window.partitionBy(group).orderBy("b")
    hist = hist.select(
        group,
        "b",
        "bw",
        F.sum("bw")
        .over(wb.rowsBetween(Window.unboundedPreceding, Window.currentRow))
        .alias("cumb"),
        F.sum("bw").over(Window.partitionBy(group)).alias("total"),
    )
    crossing = (
        hist.filter(2 * F.col("cumb") >= F.col("total"))
        .groupBy(group)
        .agg(F.min(F.struct("b", "cumb", "bw", "total")).alias("x"))
        .select(
            group,
            F.col("x.b").alias("b_cross"),
            (F.col("x.cumb") - F.col("x.bw")).alias("cum_below"),
            F.col("x.total").alias("total"),
        )
    )

    # Phase 2: only the crossing bucket's rows (~N/B) reach the
    # group-partitioned cumulative window, seeded with cum_below.
    in_bucket = rows.join(F.broadcast(crossing), on=group, how="inner").filter(
        F.col("b") == F.col("b_cross")
    )
    ww = Window.partitionBy(group).orderBy(v, *tiebreak)
    cum = F.col("cum_below") + F.sum(wt).over(
        ww.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        in_bucket.withColumn("cum", cum)
        .filter(2 * F.col("cum") >= F.col("total"))
        .groupBy(group)
        .agg(F.min(F.struct(v, *tiebreak)).alias("x"))
        .select(group, F.col(f"x.{v}").alias("weighted_median"))
    )


#: d27 incremental-refresh split point: events strictly before this
#: timestamp are the "already materialized" base; the rest arrive as
#: the refresh delta.
_D27_SPLIT = "2024-10-01"


@query(
    "d27_incremental_rollup",
    oracle=f"""
    WITH e AS (SELECT CAST(ts AS TIMESTAMP) AS ts, value FROM events)
    SELECT CAST(ts AS DATE) AS day,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(CAST(({FIN})
                         AS DECIMAL(18,2)) * 100 AS BIGINT))
                AS BIGINT) AS sum_cents
    FROM e GROUP BY 1
    """,
)
def d27_incremental_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental aggregate refresh (d27): the day-grain rollup
    maintained as a MATERIALIZED VIEW would be — the pre-split
    history's aggregate (the stored base) is MERGED with the delta
    batch's aggregate by key, and the result provably equals the full
    recompute (the oracle IS the full recompute). This is the
    continuous-aggregate refresh math d19 hints at and a15/a16's
    snapshot machinery delivers batches for: count and integer-cents
    sum are associative/commutative, so base ⊎ delta = total, always.

    100 TB notes: the refresh touches the DELTA's rows plus
    |affected days| base rows — not history (here both sides scan the
    same file because the split is simulated; production reads the
    base from the stored aggregate). The merge is a key-outer union +
    sum: one day-keyed shuffle of aggregate-grain rows. The reason
    AVG/percentile columns are stored as (sum, count)/sketches in
    real CAs is exactly this mergeability requirement — d25's bitmaps
    extend it to COUNT(DISTINCT)."""
    split = F.lit(_D27_SPLIT).cast("timestamp")
    # finite gate: glitch values carry no cents (numeric.finite_metric)
    cents = (finite_metric("value").cast("decimal(18,2)") * 100).cast("bigint")
    ev = scan(spark, sf_dir, "events").select(
        "ts", cents.alias("cents"), F.col("ts").cast("date").alias("day")
    )

    def day_agg(df):
        return df.groupBy("day").agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum("cents").alias("sum_cents"),
        )

    base = day_agg(ev.filter(F.col("ts") < split))
    delta = day_agg(ev.filter(F.col("ts") >= split))
    merged = (
        base.select("day", "n_events", "sum_cents")
        .unionByName(delta.select("day", "n_events", "sum_cents"))
        .groupBy("day")
        .agg(
            F.sum("n_events").alias("n_events"),
            F.sum("sum_cents").alias("sum_cents"),
        )
    )
    return merged


#: d28 support threshold as an exact rational: a token is a heavy
#: hitter iff occurrences · DEN ≥ total · NUM (0.5% of all token
#: occurrences) — integer compare, no float rate anywhere.
_D28_NUM, _D28_DEN = 5, 1000


def _mg_merge(counts: dict, vc, k: int) -> dict:
    """Merge a batch's exact value_counts into a Misra-Gries summary,
    keeping ≤ k counters (mergeable-summaries rule: add, then if more
    than k counters subtract the (k+1)-th largest value from every
    counter and drop non-positives). Post-merge error ≤ N/(k+1) total
    over all merged input, so any item with overall rate > 1/(k+1) is
    guaranteed retained. Used by d28's zero-shuffle candidate pass;
    unit-tested for the counter budget under adversarial vocabulary
    (tests/test_aggregates_units.py)."""
    for t, c in vc.items():
        counts[t] = counts.get(t, 0) + int(c)
    if len(counts) > k:
        m = sorted(counts.values(), reverse=True)[k]
        counts = {t: c - m for t, c in counts.items() if c > m}
    return counts


@query(
    "d28_heavy_hitters",
    oracle=f"""
    WITH tok AS (
        SELECT token FROM (
            SELECT UNNEST(string_split(text, ' ')) AS token FROM documents
        ) WHERE token <> ''
    ),
    n AS (SELECT COUNT(*) AS total FROM tok)
    SELECT token, CAST(COUNT(*) AS BIGINT) AS n_occ
    FROM tok GROUP BY token
    HAVING COUNT(*) * {_D28_DEN} >= (SELECT total * {_D28_NUM} FROM n)
    ORDER BY n_occ DESC, token
    """,
)
def d28_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact two-pass heavy hitters (d28): every token carrying ≥0.5%
    of all token occurrences, with its EXACT count — the frequent-items
    primitive (stopword mining, hot-key detection, skew diagnosis)
    that completes the d-family sketch matrix: d5/d18 approximate
    distinct, d17 approximate quantiles, d23 histogram, d25 exact
    mergeable distinct, this = exact frequent items.

    Why not one groupBy: the raw key space is the VOCABULARY — a full
    (token, count) shuffle is exactly what a 100 TB corpus cannot
    afford for a 30-row answer. Classic two-pass instead:

    1. CANDIDATES, zero shuffle: per input partition, a MISRA-GRIES
       summary with k = DEN/NUM = 200 counters (mapInPandas, batch-
       merge form: add a batch's exact value_counts, then if > k
       counters subtract the (k+1)-th largest from all and drop
       non-positives — the mergeable-summaries rule, error ≤
       N_p/(k+1)); emit EVERY retained token. Guarantee chain: token
       globally ≥ s = NUM/DEN ⇒ (averaging) some partition has local
       rate ≥ s = 1/200 > 1/(k+1) ⇒ MG retains it there ⇒ candidate.
       The emit rule is retention itself, NOT a rate test on the MG
       estimates (estimates undercount; testing them against s could
       drop a qualifying token). ≤ k = 200 candidates per partition
       and ≤ k + batch-vocabulary counters live at any moment, by
       construction — bounded memory under adversarial vocabulary.
    2. EXACT RECOUNT, one broadcast: semi-join the token stream
       against the ≤200·|partitions| distinct candidates (broadcast),
       count exactly, keep c·DEN ≥ N·NUM via the 1-row total
       aggregate (crossJoin-broadcast, the ReusedExchange pattern).

    The candidate set depends on partitioning; the FINAL output never
    does (exact counts over a guaranteed superset) — that is the
    determinism contract, and why the oracle is plain GROUP
    BY/HAVING. Token normalization matches h12 (split on ' ', drop
    empties)."""
    from ..sources.tables import spread

    d = scan(spark, sf_dir, "documents").select("text")
    toks = (
        spread(d)
        .select(F.explode(F.split("text", " ")).alias("token"))
        .filter(F.col("token") != "")
    )
    # lazy persist before the global sort: the range exchange's bound
    # sampling re-runs the stage below it — here the exact-recount
    # agg + total filter (the j39 pattern, smaller stakes); the cached
    # frame is the ≤ tens-of-rows answer itself (r15, guide §5)
    return (
        heavy_hitters(toks)
        .persist()
        .orderBy(F.col("n_occ").desc(), "token")
    )


def heavy_hitters(
    toks: DataFrame, num: int = _D28_NUM, den: int = _D28_DEN
) -> DataFrame:
    """Two-pass exact frequent items over a one-column ``token`` frame:
    tokens with ≥ num/den of all occurrences, with exact counts (see
    :func:`d28_heavy_hitters` for the design argument). Pass 1 is a
    zero-shuffle per-partition Misra-Gries candidate pass (k = den//num
    counters — bounded memory under adversarial vocabulary); pass 2
    exact-recounts the broadcast candidate superset. Output is
    partitioning-independent (tests/test_robustness.py)."""
    import pandas as pd

    k = den // num

    # The MG pass also tallies its partition's EXACT occurrence total
    # (one NULL-token row per partition) so the grand total N needs no
    # separate full pass over the token stream: 3 input passes → 2
    # (candidates+totals fused, exact recount). The value_counts sum
    # the MG merge already computes IS the partition total, so the
    # fusion is free. r14 A/B at sf0.1 warm: 0.95 s → 0.71 s, EQUAL;
    # at 100 TB this removes a full corpus read. The summary frame is
    # ≤ k+1 rows per partition — the persist is metadata-sized.
    def candidates(batches):
        counts: dict = {}
        total = 0
        for pdf in batches:
            vc = pdf["token"].value_counts()
            # len(pdf), not vc.sum(): value_counts drops NULL tokens,
            # but the grand total N must count EVERY row (the old
            # toks.agg(count(1)) semantics) or a null-bearing caller
            # gets a silently loosened threshold (r14 ADVICE). NULL
            # tokens still never become candidates: they cannot match
            # the semi-join, so they are excluded from output anyway.
            total += len(pdf)
            counts = _mg_merge(counts, vc, k)
        out_tok = list(counts)
        yield pd.DataFrame(
            {
                "token": out_tok + [None],
                "part_total": [0] * len(out_tok) + [total],
            }
        )

    summ = toks.mapInPandas(
        candidates, "token string, part_total long"
    ).persist()
    cand = summ.filter(F.col("token").isNotNull()).select("token").distinct()
    n1 = summ.agg(F.coalesce(F.sum("part_total"), F.lit(0)).alias("total"))
    return (
        toks.join(F.broadcast(cand), "token", "left_semi")
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("n_occ"))
        .crossJoin(F.broadcast(n1))
        .filter(F.col("n_occ") * den >= F.col("total") * num)
        .select("token", "n_occ")
    )
