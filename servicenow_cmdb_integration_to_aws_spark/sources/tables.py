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

import json
import os
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
    if os.path.isdir(path):
        n, total, mt = 0, 0, 0
        for root, dirs, files in os.walk(path):
            for f in files:
                if f.endswith(".parquet"):
                    st = os.stat(os.path.join(root, f))
                    n += 1
                    total += st.st_size
                    mt = max(mt, st.st_mtime_ns)
        return (n, total, mt)
    st = os.stat(path)
    return (1, st.st_size, st.st_mtime_ns)


#: footer-inferred schemas, process-wide (see :func:`footer_schema`)
_INFERRED: dict = {}

#: files derived from a table (staged stream sources, a10's drifted
#: copy): dirs under ``scratch.root()``, each removed when superseded
ARTIFACTS: dict = {}

_MEMO_LOCK = threading.Lock()


def memo(cache: dict, sf_dir: str, name: str, build, tag=None, drop=None):
    """``build()``'s value for table ``name`` of ``sf_dir``, memoised in
    ``cache`` until the table's files change: the one way the engine
    keys a derived step to the table it reads.

    The key is ``(sf_dir, name or "name::tag", content_stamp)``, so an
    in-place regen (same path, new bytes) misses and rebuilds.
    ``build()`` runs outside the lock (it does py4j or file I/O, and
    cold misses are concurrent under a client drain) and the first
    writer wins, so one stamp serves one value. A value that leaves the
    cache (the superseded generation's entry for the same key, or a
    build that lost the race) goes to ``drop``, e.g. an rmtree."""
    label = f"{name}::{tag}" if tag else name
    key = (sf_dir, label, content_stamp(path_of(sf_dir, name)))
    with _MEMO_LOCK:
        if key in cache:
            return cache[key]
    value = build()
    with _MEMO_LOCK:
        won = cache.setdefault(key, value)
        gone = [cache.pop(k) for k in list(cache) if k[:2] == key[:2] and k != key]
    if won is not value:
        gone.append(value)
    if drop:
        for v in gone:
            drop(v)
    return won


def frames(spark: SparkSession) -> dict:
    """The session's memo of DataFrame fragments. It rides on the
    session object, so it dies with it: no ``id()`` reuse across
    context restarts, and a stopped session's fragments never serve a
    live one."""
    return spark.__dict__.setdefault("_cmdb_scan_df_cache", {})


#: where Spark's parquet writer stores the row schema in each footer
_SPARK_ROW_KEY = b"org.apache.spark.sql.parquet.row.metadata"


def _skipped(name: str) -> bool:
    """Names Spark's file listing leaves out (hidden and ``_`` names,
    but not ``_col=v`` partition dirs)."""
    return name.startswith(".") or (name.startswith("_") and "=" not in name)


def _root_files(path: str) -> list | None:
    """The data files under one read root, or None where the footers
    would not settle the schema the way inference does: a path the
    driver cannot open, or a streaming sink whose log has no entry yet
    (Spark reads none of the files then, and inference fails)."""
    if os.path.isfile(path):
        return [path]
    if not os.path.isdir(path):
        return None
    log = os.path.join(path, "_spark_metadata")
    if os.path.isdir(log) and all(_skipped(n) for n in os.listdir(log)):
        return None
    files = []
    for root, dirs, names in os.walk(path):
        dirs[:] = [d for d in dirs if not _skipped(d)]
        files += [os.path.join(root, n) for n in names if not _skipped(n)]
    return files


def _written_schema(paths: tuple) -> T.StructType | None:
    """The Spark row schema every data file under ``paths`` carries in
    its footer, or None: a root with no data file, a file without the
    key, two footers that disagree, or any error reading one."""
    import pyarrow.parquet as pq

    found = set()
    try:
        for p in paths:
            files = _root_files(p)
            if not files:
                return None
            for f in files:
                found.add((pq.read_metadata(f).metadata or {}).get(_SPARK_ROW_KEY))
    except Exception:
        return None
    if len(found) != 1 or None in found:
        return None
    return T.StructType.fromJson(json.loads(found.pop()))


def read_written(spark: SparkSession, *paths: str) -> DataFrame:
    """Read parquet the engine wrote itself, with the schema Spark's
    writer stored in the footers, so no schema-inference job runs.

    The footers are read on the driver with pyarrow (no Spark job), and
    they are the ones inference would open; partition columns still
    come from the directory names and nullability from the read, so the
    schema is inference's. Where the footers cannot give it (see
    :func:`_written_schema`) this is a plain inferring
    ``spark.read.parquet`` — the package's only one. Nothing is
    memoised: the inputs are fresh dirs on every call."""
    st = _written_schema(paths)
    if st is None:
        return spark.read.parquet(*paths)
    return spark.read.schema(st).parquet(*paths)


def footer_schema(spark: SparkSession, sf_dir: str, name: str) -> T.StructType:
    """The table's footer schema, as :func:`read_written` gives it. For
    the pyarrow-written testdata that is inference, 1-2 driver jobs
    per ``spark.read.parquet``, a driver sync a catalog would never
    do; memoised, only the first construction per table generation
    pays it (a1 schema-on-file: drift is still caught)."""
    return memo(
        _INFERRED, sf_dir, name, lambda: read_written(spark, path_of(sf_dir, name)).schema
    )


def _scan_build(
    spark: SparkSession, sf_dir: str, name: str
) -> tuple[DataFrame, bool]:
    """Unmemoised scan body — see :func:`scan` for the semantics.
    Returns (df, needs_utc): needs_utc marks the NTZ-events generation
    whose cast resolves against the session tz at execution."""
    st = footer_schema(spark, sf_dir, name)
    df = spark.read.schema(st).parquet(path_of(sf_dir, name))
    if name != "events":
        return df, False
    if isinstance(st["ts"].dataType, T.LongType):  # ns-as-long generation
        return df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000"))), False
    return df.withColumn("ts", F.col("ts").cast(T.TimestampType())), True


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

    The returned DataFrame is memoised in :func:`frames` — it is an
    immutable plan fragment, so serving the same object to every
    consumer is exactly what a catalog's resolved relation cache does,
    and it removes the dominant fixed cost of query construction
    (~13-20 ms of py4j/analysis per scan × every scan of every query;
    the r10 drain profile measured construction as the concurrency
    floor of the whole workload). Derivations (.select/.filter/...)
    always create NEW DataFrames, so sharing the base object leaks
    nothing between queries."""
    df, needs_utc = memo(
        frames(spark), sf_dir, name, lambda: _scan_build(spark, sf_dir, name)
    )
    if needs_utc:
        # NTZ→TimestampType keeps the wall-clock ONLY in a UTC session;
        # any other tz would silently shift every event. Fail loudly,
        # on a memo hit as on the build.
        _require_utc(spark)
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
    df = read_written(spark, path)
    cols = []
    for f in st.fields:
        if f.name in df.columns:
            cols.append(df[f.name].cast(f.dataType).alias(f.name))
        else:
            cols.append(F.lit(None).cast(f.dataType).alias(f.name))
    return df.select(*cols)
