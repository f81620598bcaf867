"""Category E — window functions (SURVEY §2.E).

All over `events` (the change-stream table) or `orders`. Rank outputs
are cast BIGINT on both engines; running/moving sums use the exact
DECIMAL policy (see operators/aggregates.py) so frames of doubles
accumulate identically.

100 TB notes: a window = one shuffle on partitionBy + in-partition
sort. Every window here partitions by a high-cardinality key (user_id,
event_type, o_orderpriority) — no single-partition global windows
except f1's tiny supplier rank. Skewed users are split by AQE only for
joins, not windows, so at extreme skew the scale path is two-level
aggregation; volumes here are uniform by construction.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..registry import EVENTS_US, query
from ..sources.tables import scan
from .numeric import FIN, dec, fdec, finite_metric


def _events(spark: SparkSession, sf_dir: str) -> DataFrame:
    return scan(spark, sf_dir, "events")


#: canonical per-user event ordering (unique tie-break by event_id)
def _w_user():
    return Window.partitionBy("user_id").orderBy("ts", "event_id")


def _w_user_total():
    """(ts, event_id, value)-ordered per-user window — a TOTAL order
    over every output-relevant column for the value-carrying window
    family (e3/e4/e5). (ts, event_id) alone is not total under
    at-least-once delivery: duplicate event_ids with DIFFERENT values
    tie (the r13 --rowshuffle × chain finding), and which twin sorts
    first then depends on physical row order — order-dependent
    lag/lead/running results at 100 TB, where row order is whatever
    splits and shuffles produced. Null placement pinned explicitly
    (Spark asc default is NULLS FIRST; DuckDB's is NULLS LAST — the
    oracles carry `NULLS FIRST`); NaN sorts greatest in BOTH engines,
    so the raw DOUBLE is a safe key."""
    return Window.partitionBy("user_id").orderBy(
        "ts", "event_id", F.col("value").asc_nulls_first()
    )


@query(
    "e1_rownum",
    oracle=f"""
    {EVENTS_US}
    SELECT event_id, user_id,
           CAST(row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id)
                AS BIGINT) AS rn
    FROM e
    """,
)
def e1_rownum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """row_number per partition (e1): per-user event ordinal."""
    return _events(spark, sf_dir).select(
        "event_id",
        "user_id",
        F.row_number().over(_w_user()).cast("bigint").alias("rn"),
    )


@query(
    "e2_rank",
    oracle=f"""
    {EVENTS_US}
    SELECT event_id, event_type,
           CAST(rank() OVER w AS BIGINT) AS rnk,
           CAST(dense_rank() OVER w AS BIGINT) AS drnk,
           percent_rank() OVER w AS prnk,
           CAST(ntile(4) OVER w AS BIGINT) AS quartile,
           cume_dist() OVER w AS cdist
    FROM e
    WINDOW w AS (PARTITION BY event_type ORDER BY value DESC, event_id)
    """,
)
def e2_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ranking family (e2): rank/dense_rank/percent_rank/ntile/cume_dist."""
    w = Window.partitionBy("event_type").orderBy(F.col("value").desc(), "event_id")
    return _events(spark, sf_dir).select(
        "event_id",
        "event_type",
        F.rank().over(w).cast("bigint").alias("rnk"),
        F.dense_rank().over(w).cast("bigint").alias("drnk"),
        F.percent_rank().over(w).alias("prnk"),
        F.ntile(4).over(w).cast("bigint").alias("quartile"),
        F.cume_dist().over(w).alias("cdist"),
    )


@query(
    "e3_lag_lead",
    oracle=f"""
    {EVENTS_US}
    SELECT event_id, user_id, value,
           lag(value) OVER w AS prev_value,
           lead(value) OVER w AS next_value,
           epoch_us(ts) - epoch_us(lag(ts) OVER w) AS delta_us
    FROM e
    WINDOW w AS (PARTITION BY user_id
                 ORDER BY ts, event_id, value NULLS FIRST)
    """,
)
def e3_lag_lead(spark: SparkSession, sf_dir: str) -> DataFrame:
    """lag/lead analytics (e3): previous/next event value + inter-event
    gap in exact integer microseconds. Total (ts, event_id, value)
    order: see :func:`_w_user_total` (r13 --rowshuffle finding)."""
    w = _w_user_total()
    return _events(spark, sf_dir).select(
        "event_id",
        "user_id",
        "value",
        F.lag("value").over(w).alias("prev_value"),
        F.lead("value").over(w).alias("next_value"),
        (F.unix_micros("ts") - F.unix_micros(F.lag("ts").over(w))).alias("delta_us"),
    )


@query(
    "e4_running",
    oracle=f"""
    {EVENTS_US}
    SELECT event_id, user_id,
           CAST(count(*) OVER w AS BIGINT) AS running_n,
           CAST(sum(CAST({FIN} AS DECIMAL(18,2))) OVER w AS DOUBLE) AS running_sum
    FROM e
    WINDOW w AS (PARTITION BY user_id
                 ORDER BY ts, event_id, value NULLS FIRST
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    """,
)
def e4_running(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Running aggregate, ROWS frame (e4): cumulative count + exact
    sum. Total (ts, event_id, value) order (r13 --rowshuffle)."""
    w = _w_user_total().rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return _events(spark, sf_dir).select(
        "event_id",
        "user_id",
        F.count(F.lit(1)).over(w).cast("bigint").alias("running_n"),
        F.sum(fdec("value")).over(w).cast("double").alias("running_sum"),
    )


@query(
    "e5_moving",
    oracle=f"""
    {EVENTS_US}
    SELECT event_id, user_id,
           CAST(sum(CAST({FIN} AS DECIMAL(18,2))) OVER w AS DOUBLE) AS mov_sum,
           CAST(sum(CAST({FIN} AS DECIMAL(18,2))) OVER w AS DOUBLE)
             / count(*) OVER w AS mov_avg
    FROM e
    WINDOW w AS (PARTITION BY user_id
                 ORDER BY ts, event_id, value NULLS FIRST
                 ROWS BETWEEN 2 PRECEDING AND CURRENT ROW)
    """,
)
def e5_moving(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Moving aggregate, trailing-3 ROWS frame (e5). Total (ts,
    event_id, value) order (r13 --rowshuffle)."""
    w = _w_user_total().rowsBetween(-2, 0)
    mov_sum = F.sum(fdec("value")).over(w).cast("double")
    return _events(spark, sf_dir).select(
        "event_id",
        "user_id",
        mov_sum.alias("mov_sum"),
        (mov_sum / F.count(F.lit(1)).over(w)).alias("mov_avg"),
    )


@query(
    "e6_range_frame",
    oracle="""
    SELECT o_orderkey, o_orderpriority, o_totalprice,
           CAST(count(*) OVER w AS BIGINT) AS n_in_band,
           CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) OVER w AS DOUBLE)
             AS band_sum
    FROM orders WHERE o_totalprice IS NOT NULL
    WINDOW w AS (PARTITION BY o_orderpriority ORDER BY o_totalprice
                 RANGE BETWEEN 50000 PRECEDING AND CURRENT ROW)
    """,
)
def e6_range_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RANGE frame (e6): value-based window — all orders within 50k
    below the current price (peers by value, not position).

    NOT written as a literal RANGE frame: Spark's sliding-range frame
    re-aggregates the frame buffer every time the lower bound moves
    (O(n·frame) per partition; 33 s at sf0.1), where DuckDB uses a
    segment tree. Decompose instead into two incrementally-computed
    prefix aggregates:  band(p) = cum(price <= p) - cum(price < p-50k).
    The strict-< lower bound is evaluated by a probe-row merge: one
    probe row per order at key price-50k, sorted BEFORE data rows at
    equal key, reading a running ROWS-frame sum over data rows only.

    r14 shape (guide §2.4 remove shuffles / §2.1 no duplicate subtree
    work): the r13 version inlined the `data` CTE THREE times (3
    parquet scans, 3 exchanges) and re-attached probes with an
    orders-sized join. Now probe+data rows are generated in ONE pass
    with `inline` (no self-union), BOTH prefix aggregates ride a
    single Window node (same partition+order, two frames: grow-only
    ROWS for the strict-< probe, peer-RANGE for the inclusive <=),
    and the probe→data re-attach is a groupBy on (priority, rid),
    which Spark serves from the SAME hash partitioning — the whole
    query is ONE scan and ONE exchange, join-free. Measured r14 A/B:
    see OPTIMIZATION_r14.md; results proven EQUAL against the oracle.
    All frames are grow-only (O(n) incremental), sums stay
    DECIMAL-exact, linear at any scale."""
    return spark.sql(
        """
        WITH data AS (
            -- a NULL price has no band: filtered (the engines'
            -- opposite null placement would also poison the prefix
            -- counts in this decomposition; r7 null sweep).
            -- rid is a per-partition ROW identity for the probe
            -- re-attach: o_orderkey is NOT a safe identity (r11
            -- --dupids on fact keys: a duplicated key matched BOTH
            -- probes and fanned out 1500 -> 1800 rows). Rows tying on
            -- the full (price, key) order are interchangeable —
            -- either rid assignment yields identical output rows.
            SELECT o_orderkey, o_orderpriority, o_totalprice,
                   CAST(o_totalprice AS DECIMAL(18,2)) AS p_dec,
                   row_number() OVER (PARTITION BY o_orderpriority
                                      ORDER BY o_totalprice, o_orderkey)
                       AS rid
            FROM {orders} WHERE o_totalprice IS NOT NULL
        ),
        merged AS (
            -- each order emits its DATA row (k = price, is_data=1)
            -- and its PROBE row (k = price-50k, is_data=0) in one
            -- generate — probes sort before data at equal k, so the
            -- running ROWS count at a probe sees exactly the data
            -- rows with price < k (strict). p_dec is NULL on probes
            -- so count(p_dec)/sum(p_dec) skip them.
            SELECT o_orderpriority, rid, o_orderkey, o_totalprice,
                   x.k, x.is_data, x.p_dec
            FROM data
            LATERAL VIEW inline(array(
                named_struct('k', o_totalprice, 'is_data', 1,
                             'p_dec', p_dec),
                named_struct('k', o_totalprice - 50000, 'is_data', 0,
                             'p_dec', CAST(NULL AS DECIMAL(18,2)))
            )) x AS k, is_data, p_dec
        ),
        win AS (
            -- ONE Window node, two frames over the same sort:
            --   wrows (ROWS up..current): read at PROBE rows — data
            --     rows strictly before k (ties: probes precede data).
            --   wpeer (RANGE up..current = peer-inclusive): read at
            --     DATA rows — all data rows with price <= p incl. the
            --     full peer group at p (the RANGE semantics).
            -- Values read at the "wrong" row kind are discarded by
            -- the CASE below, so tie-order among probes is moot.
            SELECT o_orderpriority, rid, o_orderkey, o_totalprice,
                   is_data,
                   count(p_dec) OVER wrows AS cnt_lt,
                   coalesce(sum(p_dec) OVER wrows,
                            CAST(0 AS DECIMAL(18,2))) AS sum_lt,
                   count(p_dec) OVER wpeer AS cnt_le,
                   sum(p_dec) OVER wpeer AS sum_le
            FROM merged
            WINDOW wrows AS (PARTITION BY o_orderpriority
                             ORDER BY k, is_data
                             ROWS BETWEEN UNBOUNDED PRECEDING
                                      AND CURRENT ROW),
                   wpeer AS (PARTITION BY o_orderpriority
                             ORDER BY k, is_data
                             RANGE BETWEEN UNBOUNDED PRECEDING
                                       AND CURRENT ROW)
        )
        -- re-attach the probe's strict-< prefix to its data row: the
        -- (priority, rid) pair holds exactly its data row and its
        -- probe row; the groupBy rides the window's hash partitioning
        -- (priority ⊆ grouping keys) — no exchange, no join.
        SELECT o_orderkey, o_orderpriority, o_totalprice,
               CAST(max(CASE WHEN is_data = 1 THEN cnt_le END)
                    - max(CASE WHEN is_data = 0 THEN cnt_lt END)
                    AS BIGINT) AS n_in_band,
               CAST(max(CASE WHEN is_data = 1 THEN sum_le END)
                    - max(CASE WHEN is_data = 0 THEN sum_lt END)
                    AS DOUBLE) AS band_sum
        FROM win
        GROUP BY o_orderpriority, rid, o_orderkey, o_totalprice
        """,
        orders=scan(spark, sf_dir, "orders"),
    )


@query(
    "e7_firstlast",
    oracle=f"""
    {EVENTS_US}
    SELECT event_id, user_id,
           CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
           first_value(value) OVER w AS day_first,
           last_value(value) OVER w AS day_last
    FROM e
    WINDOW w AS (PARTITION BY user_id, date_trunc('day', ts)
                 ORDER BY ts, event_id, value NULLS FIRST
                 ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
    """,
)
def e7_firstlast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """first/last value in frame (e7): first & last reading per
    user-day (full frame; total (ts, event_id, value) order — the
    r13 --rowshuffle finding: dup-id twins with different values must
    not leave first/last to physical row order)."""
    e = _events(spark, sf_dir).withColumn("day", F.date_trunc("day", "ts"))
    w = (
        Window.partitionBy("user_id", "day")
        .orderBy("ts", "event_id", F.col("value").asc_nulls_first())
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    )
    return e.select(
        "event_id",
        "user_id",
        "day",
        F.first("value").over(w).alias("day_first"),
        F.last("value").over(w).alias("day_last"),
    )


@query(
    "e8_dedup_latest",
    oracle=f"""
    {EVENTS_US}
    SELECT event_id, user_id, ts, event_type, value
    FROM (SELECT *, row_number() OVER (
              PARTITION BY user_id
              ORDER BY ts DESC, event_id DESC,
                       event_type DESC NULLS LAST,
                       value DESC NULLS LAST) AS rn
          FROM e)
    WHERE rn = 1
    """,
)
def e8_dedup_latest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keep-latest-per-key (e8): the IRE upsert-collapse — newest row
    per user by (ts, event_id, event_type, value) — a TOTAL order over
    the output columns, so duplicate event_ids with different payloads
    (at-least-once delivery) resolve by content, never by physical row
    order (r13 --rowshuffle finding). This exact shape is also the
    batch form of streaming dedup (i5)."""
    w = Window.partitionBy("user_id").orderBy(
        F.col("ts").desc(), F.col("event_id").desc(),
        F.col("event_type").desc_nulls_last(),
        F.col("value").desc_nulls_last(),
    )
    return (
        _events(spark, sf_dir)
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("event_id", "user_id", "ts", "event_type", "value")
    )


@query(
    "e10_gap_islands",
    oracle=f"""
    {EVENTS_US},
    flagged AS (
        SELECT user_id, ts,
               CASE WHEN ts - lag(ts) OVER w <= INTERVAL 30 MINUTE
                    THEN 0 ELSE 1 END AS new_island
        FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    islands AS (
        SELECT user_id, ts,
               CAST(SUM(new_island) OVER (
                   PARTITION BY user_id ORDER BY ts
                   ROWS UNBOUNDED PRECEDING) AS BIGINT) AS island_id
        FROM flagged
    )
    SELECT user_id, island_id,
           MIN(ts) AS island_start, MAX(ts) AS island_end,
           COUNT(*) AS n_events
    FROM islands GROUP BY user_id, island_id
    """,
)
def e10_gap_islands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gaps-and-islands sessionization (e10): contiguous activity runs
    per user with gaps <= 30 min — the BATCH window-function
    formulation of what i3/i12 compute with session_window (lag to
    flag island starts, running sum to number them, group to
    summarize). One shuffle on user_id serves both window passes and
    the final aggregate; no self-join, no explode.

    The two formulations cross-check each other: at gap=2h this
    reduces to i3's session windows exactly (pinned in
    tests/test_operators.py)."""
    e = scan(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    run = (
        Window.partitionBy("user_id")
        .orderBy("ts")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    gap_s = 30 * 60
    flagged = e.select(
        "user_id",
        "ts",
        F.when(
            F.unix_timestamp("ts") - F.unix_timestamp(F.lag("ts").over(w))
            <= gap_s,
            F.lit(0),
        )
        .otherwise(F.lit(1))
        .alias("new_island"),
    )
    islands = flagged.withColumn("island_id", F.sum("new_island").over(run))
    return islands.groupBy("user_id", "island_id").agg(
        F.min("ts").alias("island_start"),
        F.max("ts").alias("island_end"),
        F.count(F.lit(1)).alias("n_events"),
    )


@query(
    "e11_windowed_count_distinct",
    oracle=f"""
    {EVENTS_US}
    SELECT event_id, user_id, ts,
           COUNT(DISTINCT event_type) OVER (
               PARTITION BY user_id
               ORDER BY ts, event_id, event_type NULLS FIRST
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
           ) AS n_types_seen
    FROM e
    """,
)
def e11_windowed_count_distinct(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Running distinct count over a window (e11): how many distinct
    event types each user has touched as of each event — the
    behavioral-breadth signal funnels and engagement scores key on.
    Spark has NO native DISTINCT window aggregate (DuckDB does — the
    oracle uses it directly); the engine expresses it as
    ``size(collect_set(...))`` over the running frame, which the
    window operator evaluates incrementally per partition.

    100 TB notes: ONE user_id exchange; per-key state is the set of
    distinct types (bounded by type cardinality, ~5 here — this
    workaround is only safe when the distinct domain is small; an
    unbounded domain needs the e4-style segmented recount or an HLL
    sketch column instead, see d18). event_type is the THIRD sort key
    (asc NULLS FIRST, mirrored in the oracle): under at-least-once
    delivery two DIFFERENT types can tie on (ts, event_id), and the
    running distinct count at the tied rows would otherwise depend on
    physical row order (r13 --rowshuffle x sf0.01-chain finding)."""
    e = scan(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id", F.col("event_type").asc_nulls_first())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return e.select(
        "event_id",
        "user_id",
        "ts",
        F.size(F.collect_set("event_type").over(w))
        .cast("bigint")
        .alias("n_types_seen"),
    )


#: sessionization inactivity gap (µs): 12 h — chosen so the synthetic
#: event cadence (median inter-event gap ~7 h) yields multi-event
#: sessions; the operator is gap-parametric.
SESSION_GAP_US = 12 * 3600 * 1_000_000


@query(
    "e12_sessionize",
    oracle=f"""
    {EVENTS_US},
    f AS (
        SELECT user_id, event_id, ts, value,
               CASE WHEN lag(epoch_us(ts)) OVER w IS NULL
                         OR epoch_us(ts) - lag(epoch_us(ts)) OVER w
                            > {SESSION_GAP_US}
                    THEN 1 ELSE 0 END AS new_sess
        FROM e
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    s AS (
        SELECT user_id, ts, value,
               SUM(new_sess) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id
                   ROWS UNBOUNDED PRECEDING
               ) AS sess_no
        FROM f
    )
    SELECT user_id, CAST(sess_no AS BIGINT) AS sess_no,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           MIN(ts) AS sess_start, MAX(ts) AS sess_end,
           MAX(epoch_us(ts)) - MIN(epoch_us(ts)) AS duration_us,
           CAST(SUM(CAST(floor(({FIN}) * 100) AS BIGINT)) AS BIGINT)
             AS sum_cents
    FROM s GROUP BY user_id, sess_no
    """,
)
def e12_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization (e12): a new session starts when a
    user's inactivity exceeds :data:`SESSION_GAP_US`; emits one row
    per session with event count, bounds, duration and exact-cents
    value sum — the batch twin of the i12 streaming session window,
    and the canonical web/CMDB-activity segmentation every funnel
    (t9) and retention (t10) read sits on.

    Parity: gap arithmetic on integer epoch-µs (`unix_micros` /
    `epoch_us` — no float time math); value summed as integer cents
    (the i7/d19 policy); (ts, event_id) is a total order so the
    running-sum frame is deterministic.

    100 TB notes: ONE user_id exchange serves both window passes (lag
    and the running sum share partitioning AND ordering, so Catalyst
    evaluates them in a single Window operator chain over one sort);
    the final (user_id, sess_no) aggregate happens on rows already
    partitioned by user_id — partial agg collapses each user's events
    locally, so the second exchange carries session-grain rows.
    Per-partition state is O(1) (previous row), unlike a
    collect_list-based sessionizer; skew bound = events per user."""
    return sessionize(scan(spark, sf_dir, "events"))


def sessionize(
    df: DataFrame,
    key: str = "user_id",
    ts: str = "ts",
    id_col: str = "event_id",
    value: str = "value",
    gap_us: int = SESSION_GAP_US,
) -> DataFrame:
    """Parametric gap sessionizer (e12's tested machinery): one
    key-partitioned window pass + the session aggregate on the same
    partitioning."""
    w = Window.partitionBy(key).orderBy(ts, id_col)
    e = df.select(key, id_col, ts, value, F.unix_micros(ts).alias("us"))
    prev = F.lag("us").over(w)
    new_sess = (
        F.when(prev.isNull() | (F.col("us") - prev > gap_us), 1).otherwise(0)
    )
    sess = e.withColumn("new_sess", new_sess).withColumn(
        "sess_no",
        F.sum("new_sess").over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ),
    )
    return sess.groupBy(key, F.col("sess_no").cast("bigint").alias("sess_no")).agg(
        F.count(F.lit(1)).alias("n_events"),
        F.min(ts).alias("sess_start"),
        F.max(ts).alias("sess_end"),
        (F.max("us") - F.min("us")).alias("duration_us"),
        # finite-gated cents (numeric.finite_metric policy, d19 note)
        F.sum(
            F.floor(
                finite_metric(value)
                * 100
            ).cast("bigint")
        ).alias("sum_cents"),
    )


_EWMA_ALPHA = 0.25
_EWMA_TAPS = 8
#: tap weights a*(1-a)^k — 0.25 and 0.75 are dyadic, so every weight
#: is binary-exact and its repr() round-trips identically into both
#: engines' literals.
_EWMA_W = [_EWMA_ALPHA * (1 - _EWMA_ALPHA) ** k for k in range(_EWMA_TAPS)]


def _ewma_oracle() -> str:
    """Unrolled-tap DuckDB mirror of e13, generated from _EWMA_W."""
    num = " + ".join(
        f"CASE WHEN lag(value, {k}) OVER w IS NOT NULL"
        f" THEN lag(value, {k}) OVER w * {w!r} ELSE 0.0 END"
        for k, w in enumerate(_EWMA_W)
    )
    den = " + ".join(
        f"CASE WHEN lag(value, {k}) OVER w IS NOT NULL"
        f" THEN {w!r} ELSE 0.0 END"
        for k, w in enumerate(_EWMA_W)
    )
    return f"""
    {EVENTS_US},
    ef AS (SELECT event_id, user_id, ts,
                  {FIN} AS value
           FROM e)
    SELECT event_id, user_id, ts,
           round(({num}) / ({den}), 6) AS ewma_value
    FROM ef
    WINDOW w AS (PARTITION BY user_id
                 ORDER BY ts, event_id, value NULLS FIRST)
    """


@query("e13_ewma", oracle=_ewma_oracle())
def e13_ewma(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exponentially weighted moving average (e13): per-user smoothed
    event value, alpha=0.25 truncated at 8 taps — the trend/smoothing
    primitive behind burn-rate alerts and adaptive thresholds. True
    EWMA is a recursion no SQL window computes; the 8-tap truncation
    (residual weight 0.75^8 ~= 10%) re-expresses it as a FIXED linear
    combination of lag(value, k) terms, renormalized over the taps
    present (so partition-opening rows average over what exists
    instead of decaying toward zero).

    Parity: both engines evaluate the same generated expression — same
    tap order, same dyadic (binary-exact) weight literals — so the sum
    is bit-identical before the 6dp emission rounding.

    100 TB notes: ONE user_id exchange + one in-partition sort; all 8
    lags come from the SAME window frame buffer (Spark evaluates the
    lag family over one WindowExec pass), per-row state is the 8-row
    ring — no self-joins, no recursion, no UDF. Total (ts, event_id,
    gated value) order on both sides (r13 --rowshuffle finding)."""
    w = Window.partitionBy("user_id").orderBy(
        "ts", "event_id", F.col("value").asc_nulls_first()
    )
    taps = [F.lag("value", k).over(w) for k in range(_EWMA_TAPS)]
    num = sum(
        (
            F.when(t.isNotNull(), t * F.lit(wt)).otherwise(F.lit(0.0))
            for t, wt in zip(taps, _EWMA_W)
        ),
        F.lit(0.0),
    )
    den = sum(
        (
            F.when(t.isNotNull(), F.lit(wt)).otherwise(F.lit(0.0))
            for t, wt in zip(taps, _EWMA_W)
        ),
        F.lit(0.0),
    )
    return (
        scan(spark, sf_dir, "events")
        # finite gate: a NaN tap would poison all 8 downstream EWMAs
        # and glitch magnitudes cost bit-parity ulps; gated values are
        # NULL taps, which the renormalization already handles
        .select("event_id", "user_id", "ts", finite_metric("value").alias("value"))
        .select(
            "event_id",
            "user_id",
            "ts",
            # try_divide: den can be 0 only when the row AND all 7
            # predecessors have NULL value — then the EWMA is honestly
            # NULL instead of an ANSI DIVIDE_BY_ZERO task failure
            # (caught by the r7 null-amplifier sweep; null-free
            # corpora: den >= w0 > 0, bit-identical to plain division)
            F.round(F.try_divide(num, den), 6).alias("ewma_value"),
        )
    )


@query(
    "e15_rank_distribution",
    oracle=f"""
    {EVENTS_US}
    SELECT event_id, event_type,
           percent_rank() OVER w AS pct_rank,
           cume_dist() OVER w AS cume
    FROM e WHERE value IS NOT NULL
    WINDOW w AS (PARTITION BY event_type ORDER BY value, event_id)
    """,
)
def e15_rank_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Relative-rank window surface (e15): percent_rank and cume_dist
    of each event's value within its type — where a value sits in its
    peer distribution, the normalized form dashboards and SLO
    percentile gates consume (e2 gives ordinal ranks; these are the
    [0,1]-scaled complements that stay comparable across group
    sizes).

    Parity: (value, event_id) totally orders each partition, and both
    functions are exact small-integer ratios evaluated in double with
    the same formula on both engines — bit-identical, no rounding
    needed.

    100 TB notes: one event_type exchange + one in-partition sort
    serves both functions (same spec → one WindowExec); per-row state
    is O(1) given the frame's precomputed partition count. A 5-type
    partitioning is the skew warning case — the production form
    partitions by (type, time-bucket) and recombines, same as d19's
    hierarchy."""
    # a NULL value carries no rank: filtered on BOTH sides, else the
    # engines' opposite null placement (Spark NULLS FIRST asc, DuckDB
    # NULLS LAST) shifts every rank denominator (r7 null sweep)
    w = Window.partitionBy("event_type").orderBy("value", "event_id")
    return (
        scan(spark, sf_dir, "events")
        .where(F.col("value").isNotNull())
        .select(
            "event_id",
            "event_type",
            F.percent_rank().over(w).alias("pct_rank"),
            F.cume_dist().over(w).alias("cume"),
        )
    )
