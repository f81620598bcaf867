"""Schema evolution & class-hierarchy ingest (SURVEY §1.2 row 2).

Domain mapping [SN-API]: CMDB table extension. Every CI class is
"base fields + class-specific fields"; admins add and remove columns
continuously. Two contracts cover it:

- a10: PERMISSIVE scan — a drifted file (column added, column dropped,
  type widened) is cast onto the declared StructType instead of
  failing (strict mode is a2 / ``scan_declared``).
- a11: superclass query — per-class frames unioned by NAME with
  missing class-specific columns as typed NULLs
  (``unionByName(allowMissingColumns=True)``), the Spark shape of
  "SELECT base fields FROM all subclasses".

100 TB notes: both stay pure projections/unions — pushdown and column
pruning reach each underlying parquet scan; the union is a no-shuffle
narrow op.
"""

from __future__ import annotations

import os
import shutil
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import scratch
from ..registry import query
from ..sources.tables import ARTIFACTS, SCHEMAS, memo, scan, scan_evolving


def _drifted_supplier_path(spark: SparkSession, sf_dir: str) -> str:
    """Drifted copy of `supplier`, written once per table generation:
    s_acctbal DROPPED, s_rating ADDED, s_nationkey widened int→bigint.
    Deterministic, so the evolved scan has an exact SQL oracle over the
    original table."""

    def build() -> str:
        d = tempfile.mkdtemp(prefix="a10_drift_", dir=scratch.root())
        (
            scan(spark, sf_dir, "supplier")
            .select(
                "s_suppkey",
                "s_name",
                F.col("s_nationkey").cast("bigint").alias("s_nationkey"),
                (F.col("s_suppkey") % 5).cast("int").alias("s_rating"),
            )
            .write.mode("overwrite")
            .parquet(os.path.join(d, "supplier.parquet"))
        )
        return d

    d = memo(
        ARTIFACTS, sf_dir, "supplier", build, tag="a10_drift",
        drop=lambda old: shutil.rmtree(old, ignore_errors=True),
    )
    return os.path.join(d, "supplier.parquet")


@query(
    "a10_schema_evolve",
    oracle="""
    SELECT s_suppkey, s_name,
           CAST(s_nationkey AS INTEGER) AS s_nationkey,
           CAST(NULL AS DOUBLE) AS s_acctbal
    FROM supplier
    """,
)
def a10_schema_evolve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Permissive scan of a drifted file onto the declared schema (a10):
    the dropped column returns as typed NULL, the added column is
    projected away, the widened key is cast back — row set otherwise
    identical to the original table."""
    path = _drifted_supplier_path(spark, sf_dir)
    return scan_evolving(spark, path, SCHEMAS["supplier"])


@query(
    "a11_class_union",
    oracle="""
    SELECT c_custkey AS ci_id, c_name AS ci_name,
           c_nationkey AS nationkey, c_acctbal AS acctbal,
           c_mktsegment AS mktsegment, 'customer' AS ci_class
    FROM customer
    UNION ALL
    SELECT s_suppkey, s_name, s_nationkey, s_acctbal,
           CAST(NULL AS VARCHAR), 'supplier'
    FROM supplier
    """,
)
def a11_class_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Class-hierarchy superclass query (a11): two per-class frames
    (customer has the class-specific `mktsegment`; supplier doesn't)
    unioned by column NAME with missing columns as NULLs — the CMDB
    "query the base class across all extensions" pattern."""
    c = scan(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("ci_id"),
        F.col("c_name").alias("ci_name"),
        F.col("c_nationkey").alias("nationkey"),
        F.col("c_acctbal").alias("acctbal"),
        F.col("c_mktsegment").alias("mktsegment"),
        F.lit("customer").alias("ci_class"),
    )
    s = scan(spark, sf_dir, "supplier").select(
        F.col("s_suppkey").alias("ci_id"),
        F.col("s_name").alias("ci_name"),
        F.col("s_nationkey").alias("nationkey"),
        F.col("s_acctbal").alias("acctbal"),
        F.lit("supplier").alias("ci_class"),
    )
    return c.unionByName(s, allowMissingColumns=True)


@query(
    "a26_mergeschema_read",
    oracle="""
    SELECT o_orderkey, o_orderstatus,
           CASE WHEN o_orderkey % 2 = 0 THEN o_orderpriority
                ELSE NULL END AS o_orderpriority
    FROM orders
    """,
)
def a26_mergeschema_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Parquet schema-merge read (a26): a landing directory whose
    files span TWO schema generations — v1 (before the
    `o_orderpriority` field existed; odd keys) and v2 (with it; even
    keys) — read as ONE table via `mergeSchema`: the union schema,
    with v1 rows null in the new column. This is additive column
    evolution as it actually lands in a feed directory over time;
    a10 casts a DRIFTED schema onto a declared one, this MERGES
    generations without any declaration.

    100 TB notes: schema merge is a footer-only planning step (reads
    every footer ONCE when enabled — which is why it's off by
    default; production pins the merged schema in a catalog after the
    first merge instead of re-merging per query); row decoding is
    unchanged, missing columns materialize as nulls at scan time with
    zero I/O."""
    o = scan(spark, sf_dir, "orders")
    land = scratch.mkdtemp("a26_land_")
    v1 = o.filter(F.col("o_orderkey") % 2 == 1).select(
        "o_orderkey", "o_orderstatus"
    )
    v2 = o.filter(F.col("o_orderkey") % 2 == 0).select(
        "o_orderkey", "o_orderstatus", "o_orderpriority"
    )
    v1.write.mode("overwrite").parquet(f"{land}/gen=1")
    v2.write.mode("overwrite").parquet(f"{land}/gen=2")
    merged = (
        spark.read.option("mergeSchema", "true")
        .option("recursiveFileLookup", "true")
        .parquet(land)
    )
    return merged.select("o_orderkey", "o_orderstatus", "o_orderpriority")
