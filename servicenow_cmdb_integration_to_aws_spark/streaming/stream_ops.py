"""Category I — true Structured Streaming variants (SURVEY §2: a7,
i4–i7). Rows-only checks (the DuckDB oracle is batch; the matching
batch equivalents in batch_equiv.py carry the SQL oracles).

Each operator builds a `readStream` over the events parquet and runs
it through :func:`_drain` with `trigger(availableNow=True)` for
determinism — the exact same logical plan a 24/7 micro-batch job would
run; only the trigger differs (SURVEY §3.3). `_drain` pins the state
partitions only across `start()`, where the query clones the session,
so the caller's conf is never left changed.

100 TB notes: state (windows, dedup keys, per-user counters) lives in
the executor state store, partitioned by key — nothing driver-side.
Watermarks bound state size; `availableNow` is also the production
backfill mode (replay history with bounded batches, then switch the
same query to a continuous trigger).
"""

from __future__ import annotations

import itertools
import os
import re
import shutil
import tempfile
import threading

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from .. import scratch
from ..operators.numeric import FIN, METRIC_BOUND
from ..registry import EVENTS_US, query
from ..sources.tables import ARTIFACTS, footer_schema, memo, path_of, read_written
from ..statefile import exclusive, publish

_COUNTER = itertools.count()

#: readStream schema for the NANOS-as-long events generation
#: (see sources.tables.scan — same two-generation story)
_EVENTS_NANOS_SCHEMA = (
    "event_id long, ts long, user_id long, event_type string, "
    "value double, props string"
)

#: readStream schema for the TIMESTAMP(MICROS, isAdjustedToUTC=false)
#: generation — parquet µs-NTZ reads as TIMESTAMP_NTZ
_EVENTS_MICROS_SCHEMA = (
    "event_id long, ts timestamp_ntz, user_id long, event_type string, "
    "value double, props string"
)


#: readStream schema for the documents table (stable across testdata
#: generations — no timestamp column)
_DOCS_SCHEMA = (
    "doc_id long, text string, lang string, source string, n_chars long"
)


def _stage_copy(src: str, dst_dir: str, name: str) -> None:
    """Copy a parquet table into a staging dir, whether it is a single
    file (the testdata layout) or a directory of part files (the
    Spark-written layout scale_probe and real pipelines produce).

    Hive-partitioned layouts keep their RELATIVE subdirectory
    structure: for a table partitioned on a read-schema column the
    column's VALUES live in the ``key=...`` directory names, not the
    part files — flattening the walk (the r9 shape) would stage a
    stream whose partition column reads all-NULL while the batch
    oracle reconstructs it (r10 ADVICE medium). FileStreamSource does
    the same partition discovery as the batch reader when the loaded
    directory is the base path, which ``_stage_dir`` guarantees."""
    if os.path.isdir(src):
        parts = []
        for root, dirs, files in os.walk(src):
            dirs.sort()
            parts.extend(
                os.path.join(root, f) for f in sorted(files)
                if f.endswith(".parquet")
            )
        for i, fp in enumerate(parts):
            rel = os.path.relpath(os.path.dirname(fp), src)
            sub = dst_dir if rel == os.curdir else os.path.join(dst_dir, rel)
            os.makedirs(sub, exist_ok=True)
            shutil.copy(fp, os.path.join(sub, f"{name}_{i:05d}.parquet"))
    else:
        shutil.copy(src, os.path.join(dst_dir, f"{name}.parquet"))


def _stage_bucket_files(
    df: DataFrame, bucket: "F.Column", n: int, src: str, prefix: str
) -> None:
    """Stage ``df`` as up to ``n`` single-file parquet inputs
    (``src/<prefix><i>.parquet``, one per bucket value 0..n-1) in ONE
    Spark job: a single-task dynamic-partition write splits the rows
    by bucket, vs the old per-bucket loop that re-scanned the source
    and ran one coalesce(1) write job per file (r14; i20's 4-file
    staging paid 4 scans + 4 job launches for one pass of data). The
    bucket column rides only the write (partitionBy drops it from the
    data files), so the staged schema is unchanged. An all-empty
    bucket produces no file, exactly like the old loop's `if parts:`
    guard. File-content ROW ORDER is irrelevant by contract — the
    cross-layout program proves every operator order-independent, and
    the store folds are content-total."""
    import glob as _glob

    tmp = scratch.mkdtemp("stage_buckets_")
    try:
        (
            df.withColumn("__bucket", bucket)
            .coalesce(1)
            .write.mode("overwrite")
            .partitionBy("__bucket")
            .parquet(tmp)
        )
        for i in range(n):
            parts = _glob.glob(
                os.path.join(tmp, f"__bucket={i}", "part-*.parquet")
            )
            if parts:
                shutil.move(parts[0], os.path.join(src, f"{prefix}{i}.parquet"))
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def _stage_dir(sf_dir: str, table: str = "events") -> str:
    """FileStreamSource needs a *directory*: stage a copy of the table
    into one under the scratch root, once per table generation (the
    production layout is a directory of arriving files — this
    recreates it). A regen in place removes the superseded copy."""

    def build() -> str:
        d = tempfile.mkdtemp(prefix=f"stream_{table}_", dir=scratch.root())
        _stage_copy(path_of(sf_dir, table), d, table)
        return d

    return memo(
        ARTIFACTS, sf_dir, table, build,
        drop=lambda d: shutil.rmtree(d, ignore_errors=True),
    )


def _events_ts_kind(spark: SparkSession, sf_dir: str) -> str:
    """'nanos' for the TIMESTAMP(NANOS) generation (Spark 4 reads it
    only as raw long via ``nanosAsLong``), 'micros' for
    TIMESTAMP(MICROS, NTZ), read off the memoised footer schema.
    readStream needs a user schema, so it cannot self-adapt the way
    batch scan() does — branch here on the same footer evidence instead
    of assuming a generation (the assumption is exactly what shipped
    1970-era timestamps when the testdata regenerated as MICROS)."""
    ts = footer_schema(spark, sf_dir, "events")["ts"].dataType
    return "nanos" if isinstance(ts, T.LongType) else "micros"


def _stream_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """readStream over the events parquet, normalized to one stable
    session-tz TimestampType `ts` regardless of file generation
    (mirrors sources.tables.scan's footer-type branch)."""
    if _events_ts_kind(spark, sf_dir) == "nanos":
        raw = (
            spark.readStream.schema(_EVENTS_NANOS_SCHEMA)
            .format("parquet")
            .load(_stage_dir(sf_dir))
        )
        return raw.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    from ..sources.tables import _require_utc

    _require_utc(spark)  # NTZ→TIMESTAMP cast is tz-sensitive
    raw = (
        spark.readStream.schema(_EVENTS_MICROS_SCHEMA)
        .format("parquet")
        .load(_stage_dir(sf_dir))
    )
    return raw.withColumn("ts", F.col("ts").cast("timestamp"))


#: state-store partitions every streaming query checkpoints with:
#: the count is frozen at the first checkpoint, and 32 state
#: partitions over a tiny local corpus just spin 32 Python workers per
#: micro-batch for the pandas-state ops. (On a cluster the right value
#: is sized to key cardinality — it cannot change after the checkpoint
#: is created.)
_STATE_PARTITIONS = "8"

#: serializes the pin/restore of the caller's shuffle.partitions across
#: concurrent drains — unserialized, two interleaved saves/restores can
#: leave the caller at the pinned value for good
_PIN_LOCK = threading.Lock()


def _drain(spark: SparkSession, writer) -> None:
    """Run ``writer`` (a configured ``DataStreamWriter``) to completion
    under ``trigger(availableNow=True)`` with a throwaway checkpoint.
    The package's only streaming ``start()``.

    ``shuffle.partitions`` is pinned on ``spark`` only across
    ``start()``: StreamExecution clones the session in its
    constructor, so the query keeps the pinned state partitions while
    the caller's value is restored before the wait."""
    ckpt = scratch.mkdtemp("ckpt_")
    try:
        writer = writer.option("checkpointLocation", ckpt).trigger(
            availableNow=True
        )
        with _PIN_LOCK:
            prev = spark.conf.get("spark.sql.shuffle.partitions")
            spark.conf.set("spark.sql.shuffle.partitions", _STATE_PARTITIONS)
            try:
                q = writer.start()
            finally:
                spark.conf.set("spark.sql.shuffle.partitions", prev)
        q.awaitTermination()
    finally:
        shutil.rmtree(ckpt, ignore_errors=True)


def _run_to_memory(sdf: DataFrame, output_mode: str = "append") -> DataFrame:
    """Execute a streaming plan to completion (:func:`_drain`) into an
    in-memory table; return the materialized DataFrame. The sink's
    temp view is dropped before returning — the DataFrame keeps the
    rows, the session catalog does not."""
    spark = sdf.sparkSession
    name = f"mem_sink_{os.getpid()}_{next(_COUNTER)}"
    _drain(
        spark,
        sdf.writeStream.format("memory").queryName(name).outputMode(output_mode),
    )
    out = spark.table(name)
    spark.catalog.dropTempView(name)
    return out


def _bronze(spark: SparkSession, schema: str, src: str, out: str) -> None:
    """Bronze step of i18/i19/i20: stream the staged ``src`` files into
    a parquet sink at ``out``, one file per micro-batch (so each staged
    file commits as its own sink-log batch)."""
    raw = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .format("parquet")
        .load(src)
    )
    _drain(spark, raw.writeStream.format("parquet").option("path", out))


@query(
    "a7_replay_stream",
    oracle=f"""
    {EVENTS_US}
    SELECT event_id, ts, user_id, event_type, value FROM e
    """,
)
def a7_replay_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Replay stream source (a7): events re-read as a file stream and
    passed through unchanged — the change-feed replay entry point.

    SQL-oracle-checkable (the i11 trick): the plan is stateless
    append, so the final materialized set equals the batch read no
    matter how availableNow micro-batches the files."""
    s = _stream_events(spark, sf_dir).select(
        "event_id", "ts", "user_id", "event_type", "value"
    )
    return _run_to_memory(s)


@query(
    "i4_watermark_late",
    oracle=f"""
    {EVENTS_US}
    SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS wstart,
           CAST(date_trunc('hour', ts) AS TIMESTAMP) + INTERVAL 1 HOUR
             AS wend,
           COUNT(*) AS n_events
    FROM e
    GROUP BY 1, 2
    -- wend > epoch: Spark's watermark INITIALIZES AT 0, so a window
    -- whose end is at/before 1970-01-01 is born sealed — its rows are
    -- dropped as late in the very first batch (r8 --timewarp sweep)
    HAVING wend <= (SELECT max(ts) - INTERVAL 10 MINUTE FROM e)
       AND wend > TIMESTAMP '1970-01-01 00:00:00'
    """,
)
def i4_watermark_late(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermark + late-data handling (i4): 10-minute watermark before
    an hourly window, append output — only windows the watermark has
    sealed are emitted; events later than the watermark are dropped at
    ingestion. (Late-row drop behavior is pinned with a crafted
    out-of-order fixture in tests/test_streaming.py.)

    SQL-oracle-checkable (the i11 trick): under availableNow the final
    appended set is batch-deterministic — exactly the windows whose end
    the final watermark (max event ts - 10 min) has passed; the
    testdata arrives as one file ⇒ one micro-batch ⇒ no in-batch
    drops, and the trailing no-data micro-batch flushes every sealed
    window."""
    s = _stream_events(spark, sf_dir)
    agg = (
        s.withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "1 hour").alias("w"))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            F.col("w.start").alias("wstart"),
            F.col("w.end").alias("wend"),
            "n_events",
        )
    )
    return _run_to_memory(agg, output_mode="append")


@query(
    "i5_stream_dedup",
    oracle=f"""
    {EVENTS_US}
    -- ts > epoch: dropDuplicatesWithinWatermark expires rows with
    -- ts <= watermark, and the initial watermark is 0 — pre/at-epoch
    -- event times are permanently late in Spark streams (r8 timewarp)
    SELECT DISTINCT event_id, ts, user_id, event_type, value FROM e
    WHERE ts > TIMESTAMP '1970-01-01 00:00:00'
    """,
)
def i5_stream_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming dedup (i5): the input is doubled (union of two reads of
    the same stream) and `dropDuplicatesWithinWatermark` restores
    exactly-once — state bounded by the watermark horizon.

    Dedup key = the FULL ROW, not event_id alone (r11 --dupids): the
    duplicates this operator exists to remove are TRANSPORT duplicates
    (redelivery/replay — byte-identical rows), which full-row dedup
    removes deterministically. An id COLLISION (same event_id,
    different payload) is data, not transport noise: id-keyed dedup
    would keep whichever payload arrived first — nondeterministic
    under shuffle — so both payloads are kept, and resolving them is
    the downstream upsert's job (i9/a15's latest-per-key with an
    explicit order column). Oracle mirrors: SELECT DISTINCT.

    SQL-oracle-checkable: dedup is a pass-through filter (no
    buffering), so the final appended set is the distinct row set
    regardless of micro-batching."""
    a = _stream_events(spark, sf_dir)
    b = _stream_events(spark, sf_dir)
    doubled = a.unionByName(b).withWatermark("ts", "1 hour")
    deduped = doubled.dropDuplicatesWithinWatermark(
        ["event_id", "ts", "user_id", "event_type", "value"]
    ).select("event_id", "ts", "user_id", "event_type", "value")
    return _run_to_memory(deduped)


@query(
    "i6_stream_static_join",
    oracle=f"""
    {EVENTS_US}
    SELECT e.event_id, e.user_id, e.event_type, e.value,
           c.c_mktsegment, c.c_nationkey
    FROM e LEFT JOIN customer c ON e.user_id = c.c_custkey
    """,
)
def i6_stream_static_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream–static join (i6): enrich the event stream with the static
    customer dimension (broadcast — the dim never shuffles the stream).

    SQL-oracle-checkable: stateless per-row enrichment in append mode —
    the final set is the batch left join regardless of micro-batching."""
    from ..sources.tables import scan

    s = _stream_events(spark, sf_dir)
    dim = scan(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("user_id"), "c_mktsegment", "c_nationkey"
    )
    joined = s.join(F.broadcast(dim), "user_id", "left").select(
        "event_id", "user_id", "event_type", "value", "c_mktsegment", "c_nationkey"
    )
    return _run_to_memory(joined)


@query(
    "i7_stateful_counter",
    oracle=f"""
    {EVENTS_US}
    SELECT user_id, COUNT(*) AS n_events,
           CAST(COALESCE(SUM(CAST(FLOOR(({FIN}) * 100) AS BIGINT)), 0)
                AS BIGINT) AS total_cents
    FROM e GROUP BY user_id
    """,
)
def i7_stateful_counter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stateful per-key processing (i7): running per-user event counter
    and value total maintained in the state store across micro-batches
    via applyInPandasWithState (Arrow-batched, per-key state).

    SQL-oracle-checkable: the state is monotone (count + integer-cents
    sum), so after materialization the latest row per key equals the
    batch aggregate no matter how many micro-batches touched the key
    (update mode appends one row per touched key per batch; the final
    per-key max IS the final state). The value total accumulates as
    ``floor(value*100)`` in int64 — integer addition is associative, so
    the result is bit-exact across engines and accumulation orders
    (float += would diverge from DuckDB's SUM at the ulp level)."""
    s = _stream_events(spark, sf_dir).select("user_id", "value")

    def update(key, pdf_iter, state: GroupState):
        n, cents = state.get if state.exists else (0, 0)
        for pdf in pdf_iter:
            n += len(pdf)
            # nansum: NULL values arrive as NaN and must be skipped
            # like SQL SUM does (plain .sum() poisons the total and
            # int(NaN) kills the task — the r7 null-amplifier
            # finding); the counter contract is 0 for all-null keys
            # (COALESCE(...,0) on the oracle side)
            # finite gate (numeric.finite_metric policy): NULLs arrive
            # as NaN and are skipped like SQL SUM; ±Inf/garbage
            # magnitudes are gated too — ungated, int(inf) is a task
            # death and a 1e15 glitch overflows the long total
            v = pdf["value"].to_numpy()
            ok = np.isfinite(v) & (np.abs(v) <= METRIC_BOUND)
            cents += int(np.floor(v[ok] * 100.0).sum())
        state.update((n, cents))
        yield pd.DataFrame(
            {"user_id": [key[0]], "n_events": [n], "total_cents": [cents]}
        )

    out = s.groupBy("user_id").applyInPandasWithState(
        update,
        outputStructType="user_id long, n_events long, total_cents long",
        stateStructType="n bigint, cents bigint",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    mat = _run_to_memory(out, output_mode="update")
    # update mode may emit one row per key per micro-batch; n_events
    # strictly increases each time a batch touches the key, so the row
    # with the max n_events is the final state (cents alone is not
    # monotone — negative values exist).
    final = F.max(F.struct("n_events", "total_cents")).alias("s")
    return mat.groupBy("user_id").agg(final).select(
        "user_id",
        F.col("s.n_events").alias("n_events"),
        F.col("s.total_cents").alias("total_cents"),
    )


@query(
    "i10_stream_stream_join",
    oracle=f"""
    {EVENTS_US}
    SELECT p.event_id AS purchase_id, p.user_id AS p_user, p.ts AS p_ts,
           c.event_id AS click_id, c.ts AS c_ts
    FROM e p JOIN e c
      ON p.event_type = 'purchase' AND c.event_type = 'click'
     AND p.user_id = c.user_id
     AND c.ts >= p.ts - INTERVAL 1 HOUR AND c.ts <= p.ts
    -- both inputs floored at the INITIAL watermark (0): pre/at-epoch
    -- rows never enter join state (r8 --timewarp sweep)
    WHERE p.ts > TIMESTAMP '1970-01-01 00:00:00' AND c.ts > TIMESTAMP '1970-01-01 00:00:00'
    """,
)
def i10_stream_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream interval join (i10): purchases stream ⋈ clicks
    stream, click within 1 hour BEFORE the purchase, both sides
    watermarked — the canonical attribution join.

    SQL-oracle-checkable: an INNER interval join emits a match in the
    first micro-batch where both rows are present; state eviction only
    happens *between* batches, and the staged source is one file ⇒ one
    data micro-batch ⇒ no row is evicted before all matches emit. The
    final appended set is exactly the batch interval join (the outer
    variant i13 adds the watermark-evicted null rows — its oracle
    encodes the eviction boundary explicitly).

    Both streams buffer rows in the state store; the watermarks plus
    the interval condition bound how long each side is retained
    (Spark derives the state eviction from them — state stays O(window
    x rate), not O(stream)). At 100 TB/day this is the only shape that
    joins two infinite sources with bounded memory."""
    ev = _stream_events(spark, sf_dir)
    purchases = (
        ev.filter(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("purchase_id"),
            F.col("user_id").alias("p_user"),
            F.col("ts").alias("p_ts"),
        )
        .withWatermark("p_ts", "2 hours")
    )
    clicks = (
        ev.filter(F.col("event_type") == "click")
        .select(
            F.col("event_id").alias("click_id"),
            F.col("user_id").alias("c_user"),
            F.col("ts").alias("c_ts"),
        )
        .withWatermark("c_ts", "2 hours")
    )
    joined = purchases.join(
        clicks,
        F.expr(
            "p_user = c_user AND c_ts >= p_ts - INTERVAL 1 HOUR AND c_ts <= p_ts"
        ),
    ).select("purchase_id", "p_user", "p_ts", "click_id", "c_ts")
    return _run_to_memory(joined, output_mode="append")


@query(
    "i13_stream_outer_join",
    oracle=f"""
    {EVENTS_US},
    -- ts > epoch on both inputs: the initial watermark is 0, so
    -- pre/at-epoch rows never enter join state (r8 --timewarp sweep)
    p AS (SELECT event_id AS purchase_id, user_id AS p_user, ts AS p_ts
          FROM e WHERE event_type = 'purchase' AND ts > TIMESTAMP '1970-01-01 00:00:00'),
    c AS (SELECT event_id AS click_id, user_id AS c_user, ts AS c_ts
          FROM e WHERE event_type = 'click' AND ts > TIMESTAMP '1970-01-01 00:00:00'),
    w AS (SELECT LEAST((SELECT max(p_ts) FROM p),
                       (SELECT max(c_ts) FROM c))
                 - INTERVAL 2 HOUR AS wm)
    SELECT p.purchase_id, p.p_user, p.p_ts, c.click_id, c.c_ts
    FROM p JOIN c
      ON p.p_user = c.c_user
     AND c.c_ts >= p.p_ts - INTERVAL 1 HOUR AND c.c_ts <= p.p_ts
    UNION ALL
    SELECT purchase_id, p_user, p_ts,
           CAST(NULL AS BIGINT) AS click_id,
           CAST(NULL AS TIMESTAMP) AS c_ts
    FROM p
    WHERE NOT EXISTS (
        SELECT 1 FROM c
        WHERE c.c_user = p.p_user
          AND c.c_ts >= p.p_ts - INTERVAL 1 HOUR AND c.c_ts <= p.p_ts
    ) AND p.p_ts < (SELECT wm FROM w)
    """,
)
def i13_stream_outer_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream LEFT OUTER interval join (i13): i10's attribution
    join, but purchases with NO click in the hour before them are still
    emitted (click columns NULL) — the "unattributed conversions" feed.

    The null row for an unmatched purchase can only be emitted once the
    click-side watermark proves no matching click can still arrive, so
    emission lags by the watermark delay; purchases inside the final
    watermark horizon at stream end stay buffered awaiting matches
    (verified in tests/test_streaming.py — matched rows equal the batch
    join exactly; withheld nulls are exactly the tail ones). State is
    bounded the same way as i10: watermark + interval bound retention
    to O(window x rate) per side.

    SQL-oracle-checkable since r6 (the last rows-only id): under
    availableNow + the single-file source, matches emit in the one
    data batch (the i10 argument) and the final close-out batch
    null-emits exactly the unmatched purchases the FINAL watermark
    evicts — those with ``p_ts < min(max p_ts, max c_ts) − 2 h``
    (strict bound probe-verified at sf0.001 and sf0.01, deterministic
    across reruns; the boundary behavior itself stays pinned by
    tests/test_streaming.py)."""
    ev = _stream_events(spark, sf_dir)
    purchases = (
        ev.filter(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("purchase_id"),
            F.col("user_id").alias("p_user"),
            F.col("ts").alias("p_ts"),
        )
        .withWatermark("p_ts", "2 hours")
    )
    clicks = (
        ev.filter(F.col("event_type") == "click")
        .select(
            F.col("event_id").alias("click_id"),
            F.col("user_id").alias("c_user"),
            F.col("ts").alias("c_ts"),
        )
        .withWatermark("c_ts", "2 hours")
    )
    joined = purchases.join(
        clicks,
        F.expr(
            "p_user = c_user AND c_ts >= p_ts - INTERVAL 1 HOUR AND c_ts <= p_ts"
        ),
        "leftOuter",
    ).select("purchase_id", "p_user", "p_ts", "click_id", "c_ts")
    return _run_to_memory(joined, output_mode="append")


@query(
    "i11_foreach_batch_merge",
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
def i11_foreach_batch_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """foreachBatch CDC apply (i11): the sink-side half of streaming
    upsert — each micro-batch APPENDS its rows to a keyed change log
    (cheap, conflict-free, parallel), and the snapshot is materialized
    on read as latest-row-per-key (merge-on-read, the Hudi/Iceberg MOR
    pattern rebuilt from primitives). Unlike i4–i10 this streaming id
    HAS a SQL oracle: latest-per-key over the full event history is
    batch-deterministic no matter how the stream was micro-batched,
    because keep-latest is associative under the total order
    (ts, event_id, event_type, value).

    100 TB notes: the append is per-partition file writes with no
    coordination; compaction (folding the log into a base snapshot) is
    exactly e8's window, run on whatever cadence read latency demands.
    foreachBatch is also where exactly-once sinks hook in: batch_id is
    stable across retries, so an idempotent write keyed on it
    deduplicates replays."""
    log_dir = scratch.mkdtemp("i11_log_")
    s = _stream_events(spark, sf_dir).select(
        "event_id", "user_id", "ts", "event_type", "value"
    )

    def apply_batch(batch_df: DataFrame, batch_id: int) -> None:
        # idempotence hook: a real sink writes under <log_dir>/<batch_id>
        # so a retried batch overwrites itself instead of duplicating
        batch_df.write.mode("overwrite").parquet(
            os.path.join(log_dir, f"batch_id={batch_id}")
        )

    _drain(spark, s.writeStream.foreachBatch(apply_batch))

    from pyspark.sql import Window

    log = read_written(spark, log_dir)
    # total order incl. payload tiebreaks: duplicate event_ids with
    # different payloads must resolve by content, not physical row
    # order (r13 --rowshuffle finding; e8's rule)
    w = Window.partitionBy("user_id").orderBy(
        F.col("ts").desc(), F.col("event_id").desc(),
        F.col("event_type").desc_nulls_last(),
        F.col("value").desc_nulls_last(),
    )
    return (
        log.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("event_id", "user_id", "ts", "event_type", "value")
    )


@query(
    "i12_stream_session_window",
    oracle=f"""
    {EVENTS_US},
    flagged AS (
        SELECT user_id, ts, event_id, value,
               CASE WHEN lag(ts) OVER w IS NULL
                         OR epoch_us(ts) - epoch_us(lag(ts) OVER w)
                            > {10 * 60 * 1_000_000}
                    THEN 1 ELSE 0 END AS new_session
        -- admission floor: a session row whose window end (ts + gap)
        -- is at/before epoch is late against the INITIAL watermark 0
        -- (r8 --timewarp sweep)
        FROM (SELECT * FROM e
              WHERE ts + INTERVAL 10 MINUTE > TIMESTAMP '1970-01-01 00:00:00') e
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    numbered AS (
        SELECT *, SUM(new_session) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
        FROM flagged
    )
    SELECT user_id,
           MIN(ts) AS session_start,
           MAX(ts) + INTERVAL 10 MINUTE AS session_end,
           COUNT(*) AS n_events,
           CAST(SUM(CAST({FIN} AS DECIMAL(18,2))) AS DOUBLE) AS total
    FROM numbered
    GROUP BY user_id, sid
    HAVING session_end <= (SELECT max(ts) - INTERVAL 30 MINUTE FROM e)
    """,
)
def i12_stream_session_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """True-streaming session windows (i12): per-user activity
    sessions with a 10-minute inactivity gap, 30-minute watermark,
    append mode — only watermark-sealed sessions emit. The batch
    analogue (i3, batch_equiv.py) proves gap-merge semantics over the
    full history; this id pins the same semantics under micro-batched
    state: `session_window` state merges adjacent fragments per key
    and the watermark bounds how long an open session is retained.

    SQL-oracle-checkable (the i11 trick): the final appended set is
    the batch gap-islands computation restricted to sessions whose end
    the final watermark (max ts - 30 min) has passed. The value sum
    goes through DECIMAL for cross-engine bit-parity (aggregates.py
    money-sum note)."""
    from ..operators.numeric import dec, fdec

    s = _stream_events(spark, sf_dir).withWatermark("ts", "30 minutes")
    agg = (
        s.groupBy("user_id", F.session_window("ts", "10 minutes").alias("w"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(fdec("value")).cast("double").alias("total"),
        )
        .select(
            "user_id",
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "n_events",
            "total",
        )
    )
    return _run_to_memory(agg, output_mode="append")


@query(
    "i14_stream_quality_gate",
    oracle="""
    WITH f AS (
        SELECT doc_id, lang,
               string_split(lower(text), ' ') AS w,
               CAST(length(text) AS DOUBLE) AS n_chars
        FROM documents
    ),
    feat AS (
        SELECT doc_id, lang,
               CAST(length(w) AS BIGINT) AS n_tok,
               CAST(length(list_distinct(w)) AS DOUBLE) / length(w) AS ttr,
               CAST(length(list_filter(w, x -> x IN ('a', 'the')))
                    AS DOUBLE) / length(w) AS stop_ratio,
               (n_chars - (length(w) - 1)) / length(w) AS mean_len
        FROM f
    )
    SELECT doc_id, lang, n_tok,
           ROUND(0.3 + 1.2 * ttr - 0.8 * stop_ratio + 0.05 * mean_len
                 - 0.002 * n_tok, 6) AS score
    FROM feat
    WHERE ROUND(0.3 + 1.2 * ttr - 0.8 * stop_ratio + 0.05 * mean_len
                - 0.002 * n_tok, 6) >= 0.5
    """,
)
def i14_stream_quality_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming quality gate (i14): j28's fixed-weight classifier
    applied to a document STREAM — the always-on ingest filter that
    admits crawl batches into the training corpus as they land. The
    expressions are literally j28's (one shared definition,
    llm/pipeline.quality_columns), so batch backfill and the live
    gate can never disagree.

    SQL-oracle-checkable: stateless per-row map in append mode — the
    final set equals the batch classifier restricted to keep=true,
    regardless of micro-batching. 100 TB notes: per-file map
    parallelism, no state store, no watermark — the cheapest possible
    streaming operator shape."""
    from ..llm.pipeline import quality_columns

    raw = (
        spark.readStream.schema(_DOCS_SCHEMA)
        .format("parquet")
        .load(_stage_dir(sf_dir, "documents"))
    )
    gated = (
        raw.select(*quality_columns())
        .filter(F.col("keep"))
        .select("doc_id", "lang", "n_tok", "score")
    )
    return _run_to_memory(gated)


@query(
    "i15_stream_complete_agg",
    oracle=f"""
    {EVENTS_US}
    SELECT event_type, COUNT(*) AS n_events,
           CAST(SUM(CAST({FIN} AS DECIMAL(18,2))) AS DOUBLE) AS total_value
    FROM e GROUP BY event_type
    """,
)
def i15_stream_complete_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Complete-output-mode streaming aggregation (i15): running
    per-event-type totals re-emitted in FULL every micro-batch — the
    live-dashboard output mode (i4's append emits each window once;
    complete replaces the whole result table each batch and needs no
    watermark). The only streaming output mode the suite didn't yet
    exercise.

    SQL-oracle-checkable: the memory sink in complete mode holds
    exactly the last full emission, which after availableNow drains
    the source equals the batch aggregate — deterministic regardless
    of micro-batching (count and DECIMAL sum are associative).

    100 TB notes: complete mode retains one state row per group —
    viable precisely when group cardinality is dashboard-sized (event
    types, not user ids); the per-batch re-emission cost is
    O(groups), not O(stream). High-cardinality keys belong in update
    mode (i7) or append windows (i4) instead."""
    from ..operators.numeric import dec, fdec

    s = _stream_events(spark, sf_dir)
    agg = s.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(fdec("value")).cast("double").alias("total_value"),
    )
    return _run_to_memory(agg, output_mode="complete")


@query(
    "i16_stream_pii_redact",
    oracle="""
    SELECT doc_id,
           CAST(len(regexp_extract_all(combined,
                '[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z]{2,}')) AS BIGINT)
             AS n_redactions,
           CAST(length(regexp_replace(combined,
                '[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z]{2,}', '<EMAIL>', 'g'))
                AS BIGINT) AS redacted_len,
           md5(regexp_replace(combined,
               '[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z]{2,}', '<EMAIL>', 'g'))
             AS redacted_md5
    FROM (SELECT doc_id,
                 text || ' contact: user' || CAST(doc_id AS VARCHAR)
                      || '@example.com' AS combined
          FROM documents)
    """,
)
def i16_stream_pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming PII redaction (i16): j23's email scrubber over a
    document STREAM — the ingest-time privacy gate that redacts crawl
    batches before they ever land in the corpus store. The column
    expressions are literally j23's (one shared definition,
    llm/pipeline.redact_columns), so batch backfill and the live
    scrubber can never disagree.

    SQL-oracle-checkable: stateless per-row map in append mode — the
    final set equals the batch redactor regardless of micro-batching.
    100 TB notes: per-file map parallelism, no state store, no
    watermark; the regex runs inside whole-stage codegen exactly as in
    batch."""
    from ..llm.pipeline import redact_columns

    raw = (
        spark.readStream.schema(_DOCS_SCHEMA)
        .format("parquet")
        .load(_stage_dir(sf_dir, "documents"))
    )
    return _run_to_memory(raw.select(*redact_columns()))


#: p8's encoded filter — the domain query language applied to a LIVE
#: feed (same string a saved CMDB list view would carry)
_P8_ENCODED = "event_type=purchase^value>=250"


@query(
    "p8_encoded_stream",
    oracle=f"""
    {EVENTS_US}
    SELECT event_id, user_id, ts, value FROM e
    WHERE event_type = 'purchase' AND value >= 250
    """,
)
def p8_encoded_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Encoded query over a stream (p8): the ServiceNow encoded-query
    string — the SAME compiler the batch surface uses
    (plans.encoded_query.compile_encoded, one grammar, one codepath)
    — applied to the live event feed: a saved list-view filter
    becomes a standing streaming subscription. This is the fourth
    frontend x execution-mode cell (encoded/DataFrame/SQL x
    batch/stream); because both modes share the compiled Column tree,
    a filter can never mean different things live vs backfill.

    SQL-oracle-checkable: the compiled predicate is a stateless
    row-wise filter in append mode — final set ≡ the batch compile.
    100 TB notes: the predicate lands in the stream scan exactly as
    in batch (codegen map, no state store, no watermark); per-file
    parallelism carries it."""
    from ..plans.encoded_query import compile_encoded

    s = _stream_events(spark, sf_dir).select(
        "event_id", "user_id", "ts", "value", "event_type"
    )
    out = compile_encoded(s, _P8_ENCODED).select(
        "event_id", "user_id", "ts", "value"
    )
    return _run_to_memory(out)


@query(
    "i17_stream_file_sink",
    oracle=f"""
    {EVENTS_US}
    SELECT event_id, user_id, ts, value FROM e
    WHERE event_type = 'purchase'
    """,
)
def i17_stream_file_sink(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming parquet file sink (i17): the stream lands as FILES —
    the lakehouse bronze-layer write every prior i-series id (memory
    sink) abstracted away. The parquet sink's exactly-once contract
    comes from its transaction log (`_spark_metadata`): a batch's
    files count only after its log entry commits, so a crashed/
    restarted query (same checkpoint) never double-lands a batch —
    the streaming twin of a20's two-phase commit.

    SQL-oracle-checkable: stateless filtered append ⇒ the landed set
    ≡ the batch filter. The read-back goes through the SAME
    `_spark_metadata` log (a plain directory listing would see
    uncommitted files — readers must honor the log, which is also why
    a19-style compaction of a STREAMING sink dir must rewrite the log,
    not just the files).

    100 TB notes: per-micro-batch file parallelism = input
    partitions; the log write is one driver-side record per batch;
    downstream batch readers treat the result as a normal table."""
    out = scratch.mkdtemp("i17_sink_")
    s = _stream_events(spark, sf_dir).filter(
        F.col("event_type") == "purchase"
    ).select("event_id", "user_id", "ts", "value")
    _drain(spark, s.writeStream.format("parquet").option("path", out))
    return read_written(spark, out)


def _sink_log_entry_paths(fp: str) -> list:
    """All data-file paths referenced by ONE sink-log entry file
    (delete actions skipped): the parse behind `_sink_log_batches` and
    the compactor's superseded-file sweep."""
    import json as _json
    from urllib.parse import unquote, urlparse

    with open(fp) as fh:
        lines = [ln for ln in fh.read().splitlines() if ln.strip()]
    # line 0 is the sink-log version header; fail LOUDLY on a
    # missing/unknown one instead of silently skipping what might
    # be the first data entry of a format we don't understand
    # (r9 verdict observation).
    if not lines or lines[0] != "v1":
        raise ValueError(
            f"unsupported sink-log entry {fp}: expected 'v1' header, "
            f"got {lines[0]!r}" if lines
            else f"empty sink-log entry {fp}"
        )
    out = []
    for line in lines[1:]:
        entry = _json.loads(line)
        if entry.get("action") == "delete":
            continue  # retention cleanup records, not data
        p = entry["path"]
        if p.startswith("file:"):
            p = unquote(urlparse(p).path)
        out.append(p)
    return out


def _sink_log_batches(out: str) -> dict:
    """Parse a parquet streaming sink's `_spark_metadata` transaction
    log into {batch_id: [committed file paths]} — the log IS the
    change feed: a downstream incremental consumer discovers exactly
    which files each committed batch added, without listing the data
    directory (which may contain uncommitted orphans) and without any
    side channel from the writing query. Compaction handling (the
    sink rewrites every Nth entry as `N.compact` = the FULL committed
    file list through batch N, then deletes/stops writing the plain
    entries it absorbed): the latest compact becomes the consumer's
    BASE batch — one entry carrying all files through N — and only
    plain entries AFTER it count as deltas; plain entries ≤ N are
    superseded and skipped (double-counting a file that also appears
    in the compact would double its rows in the rollup)."""
    meta = os.path.join(out, "_spark_metadata")
    batches: dict = {}
    if not os.path.isdir(meta):
        return batches
    names = os.listdir(meta)
    compacts = sorted(
        int(f.split(".", 1)[0])
        for f in names
        if f.endswith(".compact") and f.split(".", 1)[0].isdigit()
    )
    base = compacts[-1] if compacts else None
    if base is not None:
        batches[base] = _sink_log_entry_paths(
            os.path.join(meta, f"{base}.compact")
        )
    for f in names:
        if not f.isdigit():
            continue  # .compact / .crc / temp files
        bid = int(f)
        if base is not None and bid <= base:
            continue  # superseded by the compact
        batches[bid] = _sink_log_entry_paths(os.path.join(meta, f))
    return batches


_I18_BRONZE_SCHEMA = "event_id long, ts timestamp, value double"


def _silver_store(silver_root: str):
    """i18's silver rollup store: a15's SnapshotStore with the
    day-grain aggregate merge plugged in as the fold — count/sum are
    summed, max is re-maxed (associative-commutative, so any batch
    split folds to the same state as the one-shot aggregate)."""
    from .compaction import SnapshotStore

    def merge(base: DataFrame | None, delta: DataFrame) -> DataFrame:
        if base is None:
            return delta
        return (
            base.unionByName(delta)
            .groupBy("day")
            .agg(
                F.sum("n_events").alias("n_events"),
                F.sum("sum_cents").alias("sum_cents"),
                F.max("max_cents").alias("max_cents"),
            )
        )

    return SnapshotStore(silver_root, key="day", order=[], fold=merge)


@query(
    "i18_stream_incremental_rollup",
    oracle=f"""
    {EVENTS_US}
    SELECT CAST(ts AS DATE) AS day,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(CAST(({FIN}) AS DECIMAL(18,2)) * 100 AS BIGINT))
                AS BIGINT) AS sum_cents,
           CAST(MAX(CAST(CAST(({FIN}) AS DECIMAL(18,2)) * 100 AS BIGINT))
                AS BIGINT) AS max_cents
    FROM e GROUP BY 1
    """,
)
def i18_stream_incremental_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream → bronze → incremental silver (i18, r8 verdict item 7):
    the end-to-end continuous-aggregate story the parts have been
    building toward — events stream into an i17-style parquet FILE
    SINK (bronze, exactly-once via `_spark_metadata`), and the
    day-grain rollup (silver) is maintained INCREMENTALLY by reading
    the sink's transaction log as a change feed: each refresh
    aggregates ONLY the files its batch committed and merges them
    into the stored silver aggregate with d27's base ⊎ delta algebra
    (count/sum/max are associative-commutative). Bronze files are
    each scanned exactly once across all refreshes; the ORACLE is the
    full recompute over the source, so every green row re-proves
    refreshed ≡ rebuilt (the j54 contract, now for the streaming
    sink path).

    100 TB notes: refresh cost tracks the DELTA (new files + |affected
    days| stored rows), never history; the log parse is driver-side
    metadata (one tiny JSON per batch — the same file the sink's own
    readers resolve, so the consumer sees exactly the committed set,
    uncommitted orphans invisible). The silver store IS a15's
    SnapshotStore (r10, as promised): the aggregate merge plugs into
    the versioned flock'd _LATEST commit protocol via `fold_batches`,
    one version per committed sink batch — so crash-safety (resume
    after the last committed batch, idempotent re-fold of a torn
    version, readers pinned to _LATEST) is STRUCTURAL, inherited from
    the store, and pinned by the same kill-at-every-step harness as
    a15/a20 (tests/test_streaming.py). The source is staged as two
    files so availableNow commits two batches — a real deployment's
    log just has one entry per micro-batch."""
    from ..operators.numeric import finite_metric
    from ..sources.tables import scan as _scan

    # 1. stage the source as TWO files → two committed bronze batches
    src = scratch.mkdtemp("i18_src_")
    out = scratch.mkdtemp("i18_bronze_")
    silver_root = scratch.mkdtemp("i18_silver_")
    ev = _scan(spark, sf_dir, "events").select("event_id", "ts", "value")
    # pmod over a coalesced key so the two halves provably PARTITION
    # the corpus: bare `event_id % 2 == i` silently drops NULL ids
    # (NULL % 2 is NULL) and negative-odd ids (Spark % keeps the
    # dividend sign: -3 % 2 = -1, matching neither half) while the
    # oracle counts every row (r10 ADVICE).
    half = F.pmod(F.coalesce(F.col("event_id"), F.lit(0)), F.lit(2))
    _stage_bucket_files(ev, half, 2, src, "h")

    # 2. bronze: file stream → parquet sink, one file per micro-batch
    _bronze(spark, _I18_BRONZE_SCHEMA, src, out)

    # 3. silver: fold the sink log batch-by-batch (base ⊎ delta)
    cents = (finite_metric("value").cast("decimal(18,2)") * 100).cast(
        "bigint"
    )

    def day_agg(df: DataFrame) -> DataFrame:
        return (
            df.select(
                F.col("ts").cast("date").alias("day"), cents.alias("cents")
            )
            .groupBy("day")
            .agg(
                F.count(F.lit(1)).alias("n_events"),
                F.sum("cents").alias("sum_cents"),
                F.max("cents").alias("max_cents"),
            )
        )

    store = _silver_store(silver_root)

    def load(paths: list) -> DataFrame | None:
        if not paths:
            return None  # an empty commit adds nothing to the rollup
        # history files are NOT re-read (the whole point of the id):
        # each refresh scans only the files ITS batch committed
        return day_agg(spark.read.schema(_I18_BRONZE_SCHEMA).parquet(*paths))

    v = store.fold_batches(spark, _sink_log_batches(out), load)
    if v == 0:  # zero committed rows (empty-corpus gate)
        return spark.createDataFrame(
            [], "day date, n_events bigint, sum_cents bigint, max_cents bigint"
        )
    return store.read(spark)


_I19_BRONZE_SCHEMA = "op string, event_id long, ts timestamp, value double"

def _i19_doomed() -> "F.Column":
    """The deterministic delete rule i19 stages: positive-mod so NULL
    and negative ids provably fall on ONE side (the kept side for NULL
    — pmod(coalesce(id,0),7)=0), mirrored textually in the oracle
    WHERE. A function, not a module constant: Column construction
    needs an active SparkContext, which import time doesn't have."""
    return F.pmod(F.coalesce(F.col("event_id"), F.lit(0)), F.lit(7)) == 3


def _day_semi(left: DataFrame, affected: DataFrame) -> DataFrame:
    """Null-safe `day IN affected` semi-join, decomposed so the
    non-null leg is a PLAIN equi-join: Catalyst's PartitionPruning
    rule only fires on equi-join keys, so an `eqNullSafe` semi-join
    against a date-partitioned table scans EVERY partition (measured:
    dynamicpruning absent from the eqNullSafe plan, present on the
    equi plan — gated by tests/test_plans.py::
    test_i19_rebuild_day_semi_join_partition_prunes). NULL day is
    still a legitimate group (the j54 nullkeys lesson): the null leg
    keeps left null-day rows iff `affected` contains a null day — a
    broadcast-NL semi with a TRUE condition against the (≤1-row
    distinct) null slice, and on a partitioned layout its scan
    statically prunes to the day=NULL partition."""
    aff_nn = affected.filter(F.col("aday").isNotNull())
    aff_null = affected.filter(F.col("aday").isNull())
    nn = left.filter(F.col("day").isNotNull()).join(
        F.broadcast(aff_nn), F.col("day") == F.col("aday"), "left_semi"
    )
    nul = left.filter(F.col("day").isNull()).join(
        F.broadcast(aff_null), F.lit(True), "left_semi"
    )
    return nn.unionByName(nul)


def _day_anti(left: DataFrame, affected: DataFrame) -> DataFrame:
    """Null-safe complement of :func:`_day_semi` (`day NOT IN affected`,
    null-safely): same decomposition — the non-null leg is a plain
    equi anti-join (null left keys never false-survive because they're
    routed to the null leg), the null leg drops left null-day rows iff
    `affected` contains a null day. Anti-joins gain no partition
    pruning by nature (every surviving partition must be read), so
    this is for exact eqNullSafe equivalence with one join shape
    shared across the fold's three day-join sites."""
    aff_nn = affected.filter(F.col("aday").isNotNull())
    aff_null = affected.filter(F.col("aday").isNull())
    nn = left.filter(F.col("day").isNotNull()).join(
        F.broadcast(aff_nn), F.col("day") == F.col("aday"), "left_anti"
    )
    nul = left.filter(F.col("day").isNull()).join(
        F.broadcast(aff_null), F.lit(True), "left_anti"
    )
    return nn.unionByName(nul)


def _i19_fold_batches(
    spark: SparkSession, store, aug: dict[int, tuple[list, list]]
) -> int:
    """Delete-aware silver fold (i19): each committed bronze batch may
    carry `op='D'` tombstones. count/sum are subtractable but MAX IS
    NOT — so a delete cannot be folded algebraically; the affected
    DAYS (and only those) are re-aggregated from the cumulative bronze
    log while every unaffected day still takes the cheap incremental
    merge. `aug[b] = (own_paths, cum_paths_through_b)` — both straight
    from the sink log, so a crash-resumed fold re-derives the exact
    same state (nothing depends on call order, only on committed
    batch ids; the same SnapshotStore commit protocol as i18).

    Deletes are id-level tombstones over the log horizon: the rebuild
    leg removes every insert whose id appears in ANY committed delete
    entry through this batch. 100 TB notes: the rebuild leg's scan is
    day-pruned (broadcast semi-join on the affected-day set — at real
    scale the bronze sink is date-partitioned and this becomes
    partition pruning), the incremental leg reads only this batch's
    files, and the affected-day set never leaves the executors
    (broadcast, no driver collect)."""
    from .compaction import _contiguous_tail

    with store._locked():
        meta = store._meta()
        v = meta["version"]
        for b in _contiguous_tail(
            store.root, sorted(aug), meta["compacted_through"]
        ):
            store._crash(f"before_fold_batch_{b}")
            own, cum = aug[b]
            if not own:
                continue  # empty commit
            batch = spark.read.schema(_I19_BRONZE_SCHEMA).parquet(*own)
            day = F.col("ts").cast("date")
            ins = batch.filter(F.col("op") == "I").withColumn("day", day)
            affected = (
                batch.filter(F.col("op") == "D")
                .select(day.alias("aday"))
                .distinct()
            )
            # NULL day is a legitimate group (both engines GROUP BY
            # keep it) — a tombstone on it must hit it, so all three
            # day joins are null-SAFE (the j54 nullkeys lesson), but
            # DECOMPOSED (equi leg + null leg, _day_semi/_day_anti)
            # so the rebuild scan keeps dynamic partition pruning on
            # a date-partitioned bronze (eqNullSafe blocks DPP).

            # incremental leg: this batch's inserts on UNAFFECTED days,
            # merged with the stored aggregate exactly like i18
            inc = _i19_day_agg(_day_anti(ins, affected))
            base = None if v == 0 else store._read_version(spark, v)
            kept = None if base is None else _day_anti(base, affected)
            merged = store._fold(kept, inc)

            # rebuild leg: affected days recomputed from the cumulative
            # committed log — inserts minus ALL tombstones so far,
            # day-pruned before any aggregation
            allr = spark.read.schema(_I19_BRONZE_SCHEMA).parquet(*cum)
            tombs = (
                allr.filter(F.col("op") == "D")
                .select("event_id")
                .distinct()
            )
            live = _day_semi(
                allr.filter(F.col("op") == "I").withColumn("day", day),
                affected,
            ).join(tombs, "event_id", "left_anti")
            rebuilt = _i19_day_agg(live)

            v = store._advance(
                spark, meta, merged.unionByName(rebuilt), b
            )
            meta = {"version": v, "compacted_through": b}
        return v


def _i19_day_agg(df: DataFrame) -> DataFrame:
    """Day-grain partial aggregate over rows already carrying `day` —
    the same money conventions as i18 (finite-gated, DECIMAL cents)."""
    from ..operators.numeric import finite_metric

    cents = (finite_metric("value").cast("decimal(18,2)") * 100).cast(
        "bigint"
    )
    return (
        df.select("day", cents.alias("cents"))
        .groupBy("day")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum("cents").alias("sum_cents"),
            F.max("cents").alias("max_cents"),
        )
    )


@query(
    "i19_stream_retract_rollup",
    oracle=f"""
    {EVENTS_US}
    SELECT CAST(ts AS DATE) AS day,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(CAST(({FIN}) AS DECIMAL(18,2)) * 100 AS BIGINT))
                AS BIGINT) AS sum_cents,
           CAST(MAX(CAST(CAST(({FIN}) AS DECIMAL(18,2)) * 100 AS BIGINT))
                AS BIGINT) AS max_cents
    FROM e
    WHERE ((COALESCE(event_id, 0) % 7) + 7) % 7 <> 3
    GROUP BY 1
    """,
)
def i19_stream_retract_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Retraction-aware incremental rollup (i19, the r9 verdict's
    pre-authorized growth id): i18's stream → bronze → incremental
    silver story extended with DELETE entries in the change feed. The
    bronze log carries upserts AND id-level tombstones (`op='D'`);
    count/sum could be folded subtractively but MAX CANNOT — so the
    silver refresh re-aggregates ONLY the tombstones' affected days
    from the bronze log (day-pruned scan) while unaffected days keep
    i18's cheap base ⊎ delta merge. The ORACLE is the full recompute
    over the live set (source minus the deterministic delete rule), so
    every green row re-proves refreshed-with-retractions ≡ rebuilt.

    Staged feed: batch 0 inserts one pmod-half of events; batch 1
    inserts the other half AND tombstones every event with
    pmod(event_id,7)=3 — deletes that hit batch-0 history, batch-1
    rows, and same-batch inserts all at once. Same SnapshotStore
    commit protocol as i18 (versioned, flock'd, _LATEST-pinned), so
    the kill-at-every-step guarantees carry over; the fold is
    crash-resumable because every leg derives from committed batch
    ids only (tests/test_streaming.py pins both)."""
    from ..sources.tables import scan as _scan

    src = scratch.mkdtemp("i19_src_")
    out = scratch.mkdtemp("i19_bronze_")
    silver_root = scratch.mkdtemp("i19_silver_")

    ev = _scan(spark, sf_dir, "events").select("event_id", "ts", "value")
    ins = ev.select(
        F.lit("I").alias("op"), "event_id", "ts", "value"
    )
    tombstones = ev.filter(_i19_doomed()).select(
        F.lit("D").alias("op"),
        "event_id",
        "ts",
        F.lit(None).cast("double").alias("value"),
    )
    # batch 0 = insert half 0; batch 1 = insert half 1 + every
    # tombstone (op='D' rows route to bucket 1 unconditionally)
    staged = ins.unionByName(tombstones)
    bucket = F.when(F.col("op") == "D", F.lit(1)).otherwise(
        F.pmod(F.coalesce(F.col("event_id"), F.lit(0)), F.lit(2))
    )
    _stage_bucket_files(staged, bucket, 2, src, "h")

    _bronze(spark, _I19_BRONZE_SCHEMA, src, out)

    batches = _sink_log_batches(out)
    acc: list = []
    aug: dict[int, tuple[list, list]] = {}
    for b in sorted(batches):
        acc = acc + batches[b]
        aug[b] = (batches[b], list(acc))

    store = _silver_store(silver_root)
    v = _i19_fold_batches(spark, store, aug)
    if v == 0:  # zero committed rows (empty-corpus gate)
        return spark.createDataFrame(
            [], "day date, n_events bigint, sum_cents bigint, max_cents bigint"
        )
    return store.read(spark)


# -- i20: streaming-sink compaction (the producer for the compaction
#    entries _sink_log_batches already consumes) ------------------------

_SINK_COMPACT_TARGET = 256 * 1024  # a19's local target; 128-512 MB at scale


def compact_stream_sink(
    spark: SparkSession,
    out: str,
    target_bytes: int = _SINK_COMPACT_TARGET,
    fault=None,
) -> int:
    """a19's size-targeted compaction lifted to a STREAMING parquet
    sink dir — rewrites `_spark_metadata` so log-honoring readers (both
    Spark's own MetadataLogFileIndex and i18/i19's `_sink_log_batches`
    consumer) atomically flip from the fragmented file set to the
    compacted one. This is the missing PRODUCER for the `.compact`
    entries the consumer has handled since i18: without it a
    long-running bronze dir fragments forever (one+ file per
    micro-batch).

    Protocol (every step crash-safe; `fault` is the kill-at-every-step
    hook, same shape as SnapshotStore._fault):

    1. Under an exclusive flock on `_spark_metadata/_COMPACT_LOCK` (two
       compactors racing would both rewrite the committed set and
       publish conflicting `.compact` entries; readers never block),
       snapshot the COMMITTED set from the log (never
       the directory listing — uncommitted in-flight files from a live
       writer must survive untouched).
    2. Rewrite those bytes into ceil(bytes/target) files via
       `coalesce` — read-once write-once, no shuffle (a19's argument)
       — into a hidden temp subdir, then publish them into the sink
       dir under a reserved `part-compact-*` name no real writer uses.
       A crash here leaves unreferenced data files; readers (which
       honor the log) never see them, and the next run sweeps them.
    3. Commit `_spark_metadata/<latest>.compact` — the FULL committed
       file list through <latest> — with `statefile.publish`
       (temp-write + fsync + atomic rename): a concurrent log reader
       sees either the old state or the new one, never a torn entry.
       Plain entries ≤ latest are now superseded (kept, like Spark's
       own sink, until retention).
    4. Sweep data files that are referenced only by superseded plain
       entries, plus orphaned `part-compact-*` files and hidden
       `.<N>.compact.*.tmp` records from crashed runs. A crash
       mid-sweep leaves ignored orphans; re-running converges.

    Returns the batch id the compact absorbed (-1: empty log).
    Idempotent: a re-run on an already-compacted dir only sweeps.

    100 TB notes: the rewrite is one read-once/write-once job over the
    committed bytes (no shuffle — `coalesce` concatenates whole input
    splits per output task); the log commit is one driver-side rename;
    a live writer appending batch N+1 during the compact-through-N is
    correct by construction (its entry lands after ours, consumers
    take compact-as-base + later plains). Run it like any nightly
    table-maintenance job, per partition of the bronze dir."""
    import glob as _glob
    import math
    import uuid as _uuid
    from contextlib import suppress

    def _crash(point: str) -> None:
        if fault is not None:
            fault(point)

    meta = os.path.join(out, "_spark_metadata")
    os.makedirs(meta, exist_ok=True)
    with exclusive(os.path.join(meta, "_COMPACT_LOCK")):
        batches = _sink_log_batches(out)
        if not batches:
            return -1
        latest = max(batches)
        files = [p for b in sorted(batches) for p in batches[b]]
        _crash("after_snapshot")

        committed = set(files)
        n_bytes = sum(os.stat(p).st_size for p in files)
        n_target = max(1, math.ceil(n_bytes / target_bytes))

        def _sweep() -> None:
            # superseded: referenced by a plain entry ≤ latest (or an
            # older compact) but absent from the committed view
            for f in os.listdir(meta):
                # a crashed step 3's temp record (this publish's or the
                # older fixed `.<N>.compact.tmp` name): never an entry
                tmp = re.fullmatch(r"\.(\d+)\.compact(\.\w+)?\.tmp", f)
                if tmp and int(tmp[1]) <= latest:
                    with suppress(FileNotFoundError):
                        os.remove(os.path.join(meta, f))
                    continue
                is_plain = f.isdigit() and int(f) <= latest
                is_old_compact = (
                    f.endswith(".compact")
                    and f.split(".", 1)[0].isdigit()
                    and int(f.split(".", 1)[0]) < latest
                )
                if not (is_plain or is_old_compact):
                    continue
                for p in _sink_log_entry_paths(os.path.join(meta, f)):
                    if p not in committed:
                        with suppress(FileNotFoundError):
                            os.remove(p)
                        _crash("mid_cleanup")
            # orphaned publishes from a crashed step 2 (reserved name —
            # no real writer produces it, so this can never race one)
            for p in _glob.glob(os.path.join(out, "part-compact-*.parquet")):
                if p not in committed:
                    with suppress(FileNotFoundError):
                        os.remove(p)
            # stale rewrite temp dirs from crashed runs (hidden — never
            # visible to readers; any one that exists under the lock is
            # dead, the live run's tmpd is created after this sweep)
            for d in _glob.glob(os.path.join(out, ".compact_tmp_*")):
                shutil.rmtree(d, ignore_errors=True)

        if len(files) <= n_target:
            _sweep()  # already compact: converge a crashed prior run
            return latest

        # step 2: rewrite + publish
        tmpd = tempfile.mkdtemp(dir=out, prefix=".compact_tmp_")
        (
            read_written(spark, *files)
            .coalesce(n_target)
            .write.mode("overwrite")
            .parquet(tmpd)
        )
        _crash("after_rewrite")
        new: list = []
        for p in sorted(_glob.glob(os.path.join(tmpd, "part-*.parquet"))):
            dst = os.path.join(
                out, f"part-compact-{_uuid.uuid4()}-c000.snappy.parquet"
            )
            os.replace(p, dst)  # same fs (tmpd lives inside out)
            new.append(dst)
            _crash("mid_publish")
        shutil.rmtree(tmpd, ignore_errors=True)

        # step 3: atomic log commit
        import json as _json

        lines = ["v1"]
        for p in new:
            st = os.stat(p)
            lines.append(
                _json.dumps(
                    {
                        "path": "file://" + p,
                        "size": st.st_size,
                        "isDir": False,
                        "modificationTime": int(st.st_mtime * 1000),
                        "blockReplication": 1,
                        "blockSize": 33554432,
                        "action": "add",
                    },
                    separators=(",", ":"),
                )
            )
        publish(
            os.path.join(meta, f"{latest}.compact"),
            "\n".join(lines) + "\n",
            staged=lambda: _crash("before_log_commit"),
        )
        _crash("after_log_commit")

        # step 4: sweep superseded + orphans
        committed = set(new)
        _sweep()
        _crash("done")
        return latest


@query(
    "i20_stream_sink_compact",
    oracle=f"""
    {EVENTS_US}
    SELECT event_id, user_id, ts, value FROM e
    WHERE event_type = 'purchase'
    """,
)
def i20_stream_sink_compact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming-sink compaction end-to-end (i20, the r10 verdict's
    pre-authorized growth id): i17's bronze landing re-run as a
    fragmenting multi-micro-batch sink (4 source files ×
    maxFilesPerTrigger=1 ⇒ ≥4 committed data files), then
    :func:`compact_stream_sink` rewrites the dir AND its
    `_spark_metadata`, and the registered result is the READ-BACK
    through Spark's own log-honoring reader — so every green row
    re-proves the rewritten log parses as a genuine sink log and the
    compacted set equals the committed set. Oracle = i17's (the landed
    set is the same stateless filtered append; compaction must be
    invisible to readers).

    File-count + crash-at-every-step gates live in
    tests/test_streaming.py; the no-shuffle rewrite plan is a19's
    (tests/test_operators.py)."""
    from ..sources.tables import scan as _scan

    src = scratch.mkdtemp("i20_src_")
    out = scratch.mkdtemp("i20_sink_")

    ev = (
        _scan(spark, sf_dir, "events")
        .filter(F.col("event_type") == "purchase")
        .select("event_id", "user_id", "ts", "value")
    )
    quarter = F.pmod(F.coalesce(F.col("event_id"), F.lit(0)), F.lit(4))
    _stage_bucket_files(ev, quarter, 4, src, "q")

    _bronze(
        spark, "event_id long, user_id long, ts timestamp, value double", src, out
    )

    compact_stream_sink(spark, out)
    return read_written(spark, out)
