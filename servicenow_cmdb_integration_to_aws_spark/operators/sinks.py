"""Category A sinks — a5 (partitioned parquet) and a6 (CSV/JSON export).

Domain mapping [SN-API]: the AWS-side load — S3 objects partitioned by
a key for downstream consumers (Athena/Glue-style layouts), plus flat
CSV/JSON exports.

Both operators verify the full write→read round trip and are therefore
oracle-checkable (output ≡ source table). Writes go to fresh temp dirs.

100 TB notes: `partitionBy` produces hive-style directories that give
every downstream reader partition pruning; the partition column should
be low-cardinality (status/date/region). CSV/JSON are exchange formats
only — never intermediate storage at scale (no pushdown, no stats).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from .. import scratch
from ..registry import query
from ..sources.tables import SCHEMAS, read_written, scan


@query(
    "a5_sink_partitioned",
    oracle="SELECT * FROM orders",
)
def a5_sink_partitioned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partitioned parquet sink (a5): write orders partitioned by
    status, read back (partition pruning now applies to the layout).
    Round trip must be lossless — the oracle is the source table."""
    o = scan(spark, sf_dir, "orders")
    out = scratch.mkdtemp("sink_a5_")
    o.write.mode("overwrite").partitionBy("o_orderstatus").parquet(out)
    # Explicit schema on the read-back: schema inference needs ≥1 data
    # file, so an empty source (legitimate for a status partition that
    # matched nothing) would fail UNABLE_TO_INFER_SCHEMA. The declared
    # schema also covers the partition column (parsed from dir names).
    back = spark.read.schema(SCHEMAS["orders"]).parquet(out)
    # partitionBy moves the column to the directory key; restore order/types
    return back.select(*[f.name for f in SCHEMAS["orders"].fields])


@query(
    "a6_sink_csv_json",
    oracle="SELECT * FROM customer",
)
def a6_sink_csv_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CSV + JSON sinks (a6): export customer to both formats, read the
    CSV back with the declared schema (header on; JSON written for the
    side-effect check). Lossless round trip ≡ source table."""
    c = scan(spark, sf_dir, "customer")
    csv_dir = scratch.mkdtemp("sink_a6_csv_")
    json_dir = scratch.mkdtemp("sink_a6_json_")
    c.write.mode("overwrite").option("header", True).csv(csv_dir)
    c.write.mode("overwrite").json(json_dir)
    return spark.read.schema(SCHEMAS["customer"]).option("header", True).csv(csv_dir)


@query(
    "b15_dynamic_pruning",
    oracle="""
    SELECT o_orderkey, o_custkey, o_totalprice, o_orderstatus
    FROM orders
    WHERE o_orderstatus IN (SELECT DISTINCT o_orderstatus FROM orders
                            WHERE o_orderpriority = '1-URGENT'
                              AND o_totalprice > 450000)
    """,
)
def b15_dynamic_pruning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dynamic partition pruning (b15): the fact side lives in a
    hive-partitioned layout (a5's sink shape) and the partition filter
    is only KNOWN AT RUNTIME — it comes out of the dim-side subquery.
    Spark plans a DPP subquery: the dim filter runs first, its distinct
    partition keys broadcast, and the fact scan reads ONLY matching
    directories. At 100 TB this is the difference between scanning one
    status partition and scanning the table; tests/test_plans.py
    asserts `dynamicpruning` appears in the fact scan."""
    o = scan(spark, sf_dir, "orders")
    out = scratch.mkdtemp("sink_b15_")
    o.write.mode("overwrite").partitionBy("o_orderstatus").parquet(out)
    # explicit schema: empty-write read-back must not fail inference (a5 note)
    fact = spark.read.schema(SCHEMAS["orders"]).parquet(out)
    from pyspark.sql import functions as F

    dim = (
        o.filter(
            (F.col("o_orderpriority") == "1-URGENT")
            & (F.col("o_totalprice") > 450000)
        )
        .select(F.col("o_orderstatus").alias("dim_status"))
        .distinct()
    )
    return fact.join(
        dim, fact["o_orderstatus"] == dim["dim_status"]
    ).select("o_orderkey", "o_custkey", "o_totalprice", "o_orderstatus")


@query(
    "a14_sink_clustered",
    oracle="""
    SELECT l_orderkey, l_linenumber, l_shipdate, l_extendedprice
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1997-03-01'
      AND l_shipdate < TIMESTAMP '1997-06-01'
    """,
)
def a14_sink_clustered(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range-clustered parquet sink (a14): lineitem written with
    `repartitionByRange(l_shipdate) + sortWithinPartitions(l_shipdate)`
    — the poor-man's Z-order for a single sort key. Every output file
    covers a DISJOINT shipdate range and every row group within it is
    sorted, so parquet min/max footer stats let a date-filtered reader
    skip whole files and row groups without any hive partitioning
    (tests/test_operators.py verifies file ranges are disjoint via the
    pyarrow footers). This is the 100 TB layout for high-cardinality
    sort keys where one-directory-per-value (a5) is infeasible; the
    registered query is the filtered read-back, oracle = the same
    filter on the source."""
    li = scan(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_shipdate", "l_extendedprice"
    )
    out = scratch.mkdtemp("sink_a14_")
    (
        li.repartitionByRange(8, "l_shipdate")
        .sortWithinPartitions("l_shipdate")
        .write.mode("overwrite")
        .parquet(out)
    )
    from pyspark.sql import functions as F

    return read_written(spark, out).filter(
        (F.col("l_shipdate") >= "1997-03-01") & (F.col("l_shipdate") < "1997-06-01")
    )


#: a19 compaction target: bytes per output file (tiny here so the
#: testdata still produces >1 file; 128-512 MB in production)
COMPACT_TARGET_BYTES = 256 * 1024


@query(
    "a19_small_file_compact",
    oracle="""
    SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
           o_orderdate, o_orderpriority
    FROM orders
    """,
)
def a19_small_file_compact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small-file compaction (a19): the table-maintenance job every
    streaming/incremental sink needs — a directory fragmented into
    many tiny parquet files (here: a 64-way write simulating
    micro-batch commits) is rewritten into size-targeted files.

    The compactor is SIZE-AWARE, not count-aware: the target file
    count derives from the directory's actual bytes
    (ceil(bytes / COMPACT_TARGET_BYTES), driver-side footer/stat
    metadata only — no data read), then `coalesce(n)` merges splits
    WITHOUT a shuffle — each output task concatenates whole input
    files, so compaction I/O is read-once write-once with zero wire
    cost. `repartition(n)` here would shuffle the full table; that's
    the difference between a nightly maintenance job and a cluster
    hog at 100 TB. Registered result is the compacted read-back
    (oracle: source equality); tests/test_operators.py pins the file
    count and the no-shuffle plan."""
    o = scan(spark, sf_dir, "orders")
    frag = scratch.mkdtemp("sink_a19_frag_")
    o.repartition(64).write.mode("overwrite").parquet(frag)
    out = compact_parquet_dir(spark, frag)
    return read_written(spark, out)


def compact_parquet_dir(
    spark: SparkSession, src: str, target_bytes: int = COMPACT_TARGET_BYTES
) -> str:
    """Size-aware, shuffle-free compaction of a fragmented parquet
    directory (a19's tested machinery). Returns the compacted dir."""
    import math
    import os

    n_bytes = sum(
        e.stat().st_size
        for e in os.scandir(src)
        if e.name.endswith(".parquet")
    )
    n_target = max(1, math.ceil(n_bytes / target_bytes))
    out = scratch.mkdtemp("compacted_")
    (
        read_written(spark, src)
        .coalesce(n_target)
        .write.mode("overwrite")
        .parquet(out)
    )
    return out


def zvalue(a, b, bits: int = 16):
    """Morton/Z-order interleave of two non-negative int columns into
    one sort key (bit i of `a` → bit 2i+1, bit i of `b` → bit 2i).
    Pure shift/mask expression tree — codegen'd, no UDF. 16 bits per
    dim covers the test keyspace; production uses 31+31 into a long."""
    from pyspark.sql import functions as F

    z = F.lit(0).cast("long")
    for i in range(bits):
        z = (
            z.bitwiseOR(
                F.shiftleft(F.shiftright(a.cast("long"), i).bitwiseAND(1), 2 * i + 1)
            ).bitwiseOR(
                F.shiftleft(F.shiftright(b.cast("long"), i).bitwiseAND(1), 2 * i)
            )
        )
    return z


@query(
    "a22_zorder_sink",
    oracle="""
    SELECT l_orderkey, l_partkey, l_suppkey, l_extendedprice
    FROM lineitem
    WHERE l_partkey >= 500 AND l_partkey < 700
      AND l_suppkey >= 20 AND l_suppkey < 40
    """,
)
def a22_zorder_sink(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order clustered sink (a22): lineitem laid out on the Morton
    interleave of (l_partkey, l_suppkey) — the 2-D generalization of
    a14's range clustering. A 1-D sort gives file-skipping on ONE
    column and leaves the other full-width in every file; Z-order
    keeps BOTH columns' per-file min/max ranges narrow, so a 2-D box
    predicate (the "this part from this supplier" lookup) skips files
    on either or both dimensions via plain parquet footer stats — no
    index structure, just row order. This is the standard lakehouse
    layout trick (Delta/Iceberg Z-ORDER BY) built from primitives:
    interleave → repartitionByRange → sortWithinPartitions.

    tests/test_operators.py MEASURES the skip: under the registered
    box predicate, the Z-layout leaves most files prunable while a
    partkey-only sort leaves every file's suppkey range full-width
    (suppkey skips nothing). Registered result = the filtered
    read-back; oracle = the same box on the source."""
    from pyspark.sql import functions as F

    li = scan(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey", "l_suppkey", "l_extendedprice"
    )
    z = zvalue(F.col("l_partkey"), F.col("l_suppkey"))
    out = scratch.mkdtemp("sink_a22_")
    (
        li.withColumn("zv", z)
        .repartitionByRange(8, "zv")
        .sortWithinPartitions("zv")
        .drop("zv")
        .write.mode("overwrite")
        .parquet(out)
    )
    return read_written(spark, out).filter(
        (F.col("l_partkey") >= 500)
        & (F.col("l_partkey") < 700)
        & (F.col("l_suppkey") >= 20)
        & (F.col("l_suppkey") < 40)
    )
