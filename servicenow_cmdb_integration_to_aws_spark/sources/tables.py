"""Schema-declared readers for the engine's tables (SURVEY §1.2).

The engine's fundamental abstraction is a DataFrame with a *declared*
StructType (the CMDB model is fixed-per-class; SURVEY §1.1). Schemas
below mirror FIXTURES.md exactly; :func:`scan` reads by parquet footer
(schema-on-file), :func:`scan_declared` enforces the declared schema —
the a2 semantics — and is what ingest boundaries should use.

100 TB notes: plain ``spark.read.parquet`` gives Catalyst predicate
pushdown + column pruning for free; nothing here materializes or
collects. Partition discovery over a directory of files behaves the
same as over a single file.
"""

from __future__ import annotations

import threading

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

TABLE_NAMES = [
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
]

SCHEMAS: dict[str, T.StructType] = {
    "region": T.StructType(
        [
            T.StructField("r_regionkey", T.IntegerType()),
            T.StructField("r_name", T.StringType()),
        ]
    ),
    "nation": T.StructType(
        [
            T.StructField("n_nationkey", T.IntegerType()),
            T.StructField("n_name", T.StringType()),
            T.StructField("n_regionkey", T.IntegerType()),
        ]
    ),
    "supplier": T.StructType(
        [
            T.StructField("s_suppkey", T.LongType()),
            T.StructField("s_name", T.StringType()),
            T.StructField("s_nationkey", T.IntegerType()),
            T.StructField("s_acctbal", T.DoubleType()),
        ]
    ),
    "customer": T.StructType(
        [
            T.StructField("c_custkey", T.LongType()),
            T.StructField("c_name", T.StringType()),
            T.StructField("c_nationkey", T.IntegerType()),
            T.StructField("c_acctbal", T.DoubleType()),
            T.StructField("c_mktsegment", T.StringType()),
        ]
    ),
    "part": T.StructType(
        [
            T.StructField("p_partkey", T.LongType()),
            T.StructField("p_name", T.StringType()),
            T.StructField("p_brand", T.StringType()),
            T.StructField("p_type", T.StringType()),
            T.StructField("p_size", T.IntegerType()),
            T.StructField("p_retailprice", T.DoubleType()),
        ]
    ),
    "orders": T.StructType(
        [
            T.StructField("o_orderkey", T.LongType()),
            T.StructField("o_custkey", T.LongType()),
            T.StructField("o_orderstatus", T.StringType()),
            T.StructField("o_totalprice", T.DoubleType()),
            T.StructField("o_orderdate", T.TimestampType()),
            T.StructField("o_orderpriority", T.StringType()),
        ]
    ),
    "lineitem": T.StructType(
        [
            T.StructField("l_orderkey", T.LongType()),
            T.StructField("l_partkey", T.LongType()),
            T.StructField("l_suppkey", T.LongType()),
            T.StructField("l_linenumber", T.IntegerType()),
            T.StructField("l_quantity", T.DoubleType()),
            T.StructField("l_extendedprice", T.DoubleType()),
            T.StructField("l_discount", T.DoubleType()),
            T.StructField("l_tax", T.DoubleType()),
            T.StructField("l_returnflag", T.StringType()),
            T.StructField("l_linestatus", T.StringType()),
            T.StructField("l_shipdate", T.TimestampType()),
        ]
    ),
    "events": T.StructType(
        [
            T.StructField("event_id", T.LongType()),
            T.StructField("ts", T.TimestampType()),
            T.StructField("user_id", T.LongType()),
            T.StructField("event_type", T.StringType()),
            T.StructField("value", T.DoubleType()),
            T.StructField("props", T.StringType()),
        ]
    ),
    "documents": T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("text", T.StringType()),
            T.StructField("lang", T.StringType()),
            T.StructField("source", T.StringType()),
            T.StructField("n_chars", T.LongType()),
        ]
    ),
    "embeddings": T.StructType(
        [
            T.StructField("vec_id", T.LongType()),
            T.StructField("embedding", T.ArrayType(T.FloatType())),
            T.StructField("label", T.IntegerType()),
        ]
    ),
}


def path_of(sf_dir: str, name: str) -> str:
    return f"{sf_dir}/{name}.parquet"


def content_stamp(path: str) -> tuple:
    """Cheap content-identity stamp for a parquet table path (file or
    directory of part files): (n_files, total_bytes, max_mtime_ns).
    Keys every in-process cache that would otherwise serve stale state
    after an IN-PLACE testdata regen (the r7 driver did exactly that):
    a regen changes size/mtime, so stamped keys miss and re-derive.
    One stat per part file — microseconds on any local layout, and a
    real catalog gets the same identity from its snapshot id."""
    import os as _os

    if _os.path.isdir(path):
        n, total, mt = 0, 0, 0
        for root, dirs, files in _os.walk(path):
            for f in files:
                if f.endswith(".parquet"):
                    st = _os.stat(_os.path.join(root, f))
                    n += 1
                    total += st.st_size
                    mt = max(mt, st.st_mtime_ns)
        return (n, total, mt)
    st = _os.stat(path)
    return (1, st.st_size, st.st_mtime_ns)


#: footer-inferred schema cache, keyed (sf_dir, table). Schema
#: inference launches 1-2 driver jobs per ``spark.read.parquet`` call;
#: uncached, EVERY query construction paid that — measurable fixed
#: overhead across 159 registered ids, and a driver sync a catalog
#: (metastore) would never do. First touch per (dir, table) still
#: infers from the footer (a1 schema-on-file semantics, drift caught
#: once per session); later constructions are job-free.
_INFERRED: dict[tuple[str, str], T.StructType] = {}


def _read_cached(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    # content-stamped key: an in-place regen (same path, new bytes)
    # must re-infer, not serve the dead generation's schema
    key = (sf_dir, name, content_stamp(path_of(sf_dir, name)))
    cached = _INFERRED.get(key)
    if cached is not None:
        return spark.read.schema(cached).parquet(path_of(sf_dir, name))
    df = spark.read.parquet(path_of(sf_dir, name))
    # keep ONE stamp per (sf_dir, name): an in-place regen would
    # otherwise leak the dead generation's entry for the process
    # lifetime (the r10 ADVICE class fixed for _STAGED). This runs
    # outside _SCAN_DF_LOCK (cold misses are concurrent under the
    # bench's 20-thread drain), so iterate a snapshot and pop() —
    # two threads listing the same stale key must not double-del,
    # and a concurrent insert must not break the iteration.
    for stale in list(_INFERRED):
        if stale[:2] == key[:2] and stale != key:
            _INFERRED.pop(stale, None)
    _INFERRED[key] = df.schema
    return df


def _scan_build(
    spark: SparkSession, sf_dir: str, name: str
) -> tuple[DataFrame, bool]:
    """Uncached scan body — see :func:`scan` for the semantics. Returns
    (df, needs_utc): needs_utc marks the NTZ-events generation whose
    cast resolves against the session tz at execution."""
    if name == "events":
        df = _read_cached(spark, sf_dir, name)
        ts_type = dict(df.dtypes)["ts"]
        if ts_type == "bigint":  # ns-as-long generation
            return (
                df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000"))),
                False,
            )
        # NTZ→TimestampType keeps the wall-clock ONLY in a UTC session;
        # any other tz would silently shift every event. Fail loudly.
        _require_utc(spark)
        return df.withColumn("ts", F.col("ts").cast(T.TimestampType())), True
    return _read_cached(spark, sf_dir, name), False


_SCAN_DF_LOCK = threading.Lock()


def scan(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """a1 semantics: footer-schema parquet scan (pushdown/pruning free).

    `events.ts` has shipped as either TIMESTAMP(NANOS) or
    TIMESTAMP(MICROS) across testdata generations, so normalize from the
    *footer* type, not an assumption:

    - NANOS: Spark 4 refuses to read it natively → read as raw nanos
      (``nanosAsLong``) and truncate to µs with exact integer division
      (`div`), matching DuckDB's ``CAST(ts AS TIMESTAMP)`` truncation
      (FIXTURES.md parity notes).
    - MICROS (isAdjustedToUTC=false): reads as TIMESTAMP_NTZ → cast to
      the session-tz TimestampType (UTC session ⇒ identical wall-clock)
      so every downstream consumer (windows, watermarks, oracles) sees
      ONE stable ts type regardless of the file generation.

    The returned DataFrame is CACHED per (session, sf_dir, table,
    content-stamp) — it is an immutable plan fragment, so serving the
    same object to every consumer is exactly what a catalog's resolved
    relation cache does, and it removes the dominant fixed cost of
    query construction (~13-20 ms of py4j/analysis per scan × every
    scan of every query; the r10 drain profile measured construction
    as the concurrency floor of the whole workload). Correctness
    guards: the cache dict rides ON the session object (dies with it
    — no id()-reuse hazard across context restarts, and a stopped
    session's fragments can never serve a live one), the key carries
    the content stamp (an in-place testdata regen misses and
    re-derives, superseded generations are evicted), and derivations
    (.select/.filter/...) always create NEW DataFrames so sharing the
    base object leaks nothing between queries."""
    key = (sf_dir, name, content_stamp(path_of(sf_dir, name)))
    with _SCAN_DF_LOCK:
        cache = getattr(spark, "_cmdb_scan_df_cache", None)
        if cache is None:
            cache = {}
            spark._cmdb_scan_df_cache = cache
        hit = cache.get(key)
    if hit is not None:
        df, needs_utc = hit
        if needs_utc:
            # the NTZ→TimestampType cast resolves against the session tz
            # at execution — a cache hit must fail as loudly under a
            # hostile tz as the original build did
            _require_utc(spark)
        return df
    df, needs_utc = _scan_build(spark, sf_dir, name)
    with _SCAN_DF_LOCK:
        # two threads can cold-miss the same key and both build
        # (_scan_build runs unlocked by design — it does py4j I/O);
        # the FIRST writer's fragment wins so the 'same stamp -> same
        # OBJECT' identity contract holds even across the race
        won = cache.get(key)
        if won is not None:
            return won[0]
        for stale in [k for k in cache if k[:2] == key[:2] and k != key]:
            del cache[stale]
        cache[key] = (df, needs_utc)
    return df


def _require_utc(spark: SparkSession) -> None:
    tz = spark.conf.get("spark.sql.session.timeZone")
    if tz not in ("UTC", "Etc/UTC", "GMT", "+00:00", "Z"):
        raise ValueError(
            f"events ts conversion requires a UTC session timezone, got "
            f"{tz!r}: the TIMESTAMP_NTZ->TIMESTAMP cast reinterprets the "
            "stored wall-clock in the session tz and would silently shift "
            "every event. Set spark.sql.session.timeZone=UTC (session.py "
            "does) or convert explicitly."
        )


def spread(df: DataFrame, *cols: str) -> DataFrame:
    """Repartition a narrow projection up to the session's parallelism
    when the plan currently has fewer input partitions than cores.

    Why: a single-row-group parquet file reads as ONE input split no
    matter what ``maxPartitionBytes`` says (splits are assigned by
    row-group start offset), so every downstream map — explodes,
    regex tokenizers, per-row feature extraction — runs on one core.
    The testdata files are exactly that shape. The gate makes this a
    no-op at scale: a 100 TB table has thousands of splits, so the
    extra shuffle never happens there; locally it ships only the
    narrow projection (call AFTER selecting the few needed columns).

    ``df.rdd.getNumPartitions()`` plans the query but launches no job
    (plan-construction stays action-free; gated by
    tests/test_plans.py::test_no_eager_jobs_during_plan_construction).
    """
    target = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() >= target:
        return df
    return df.repartition(target, *cols) if cols else df.repartition(target)


def scan_declared(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """a2 semantics: scan + enforce the declared StructType.

    Parquet readers ignore ``.schema()`` column *order* mismatches but
    we also re-select in declared order and cast, so a drifted file
    fails loudly instead of silently changing types downstream.
    """
    st = SCHEMAS[name]
    if name == "events":  # ns-timestamp parquet needs the scan() path
        df = scan(spark, sf_dir, name)
    else:
        df = spark.read.schema(st).parquet(path_of(sf_dir, name))
    return df.select(*[df[f.name].cast(f.dataType).alias(f.name) for f in st.fields])


def load(spark: SparkSession, sf_dir: str, *names: str) -> tuple[DataFrame, ...]:
    """Convenience multi-table loader used by the operator modules."""
    return tuple(scan(spark, sf_dir, n) for n in names)


def scan_evolving(spark: SparkSession, path: str, st: T.StructType) -> DataFrame:
    """a10 semantics: PERMISSIVE scan — cast a drifted file onto the
    declared StructType instead of failing (the counterpart of
    :func:`scan_declared`'s strict mode).

    CMDB admins add/drop columns constantly; the evolving contract is:
    extra file columns are dropped (projection), declared columns
    missing from the file come back as typed NULLs, and type drift is
    resolved by cast to the declared type. Column *order* is the
    declared order. This stays a plain projection over the footer-schema
    scan, so pushdown/pruning still reach the parquet reader."""
    df = spark.read.parquet(path)
    cols = []
    for f in st.fields:
        if f.name in df.columns:
            cols.append(df[f.name].cast(f.dataType).alias(f.name))
        else:
            cols.append(F.lit(None).cast(f.dataType).alias(f.name))
    return df.select(*cols)
