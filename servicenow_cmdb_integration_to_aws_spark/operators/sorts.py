"""Category F — sorts / limits / top-k (SURVEY §2.F).

Encoded-query analogue: ORDERBY / ORDERBYDESC, `sysparm_limit`,
`sysparm_offset` [SN-API].

The driver's hash is order-insensitive, so the sort itself is made
value-visible: f1 materializes the rank via row_number over a UNIQUE
ordering (ties broken by primary key), f2/f3 return the top/offset
slices whose *membership* is order-determined.

100 TB notes: `orderBy().limit(n)` compiles to TakeOrderedAndProject —
a per-partition top-n + driver merge, NO global sort. f1's full sort is
a range-partitioned sort (sampled boundaries). f4 is a windowed top-k:
one shuffle on the partition key, no global order.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..registry import query
from ..sources.tables import scan


@query(
    "f1_sort",
    oracle="""
    SELECT s_suppkey, s_name, s_acctbal,
           CAST(row_number() OVER (ORDER BY s_acctbal DESC, s_suppkey) AS BIGINT)
             AS sort_pos
    FROM supplier
    """,
)
def f1_sort(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-key global sort (f1), rank materialized for verification."""
    s = scan(spark, sf_dir, "supplier")
    w = Window.orderBy(F.col("s_acctbal").desc_nulls_last(), F.col("s_suppkey"))
    return (
        s.select("s_suppkey", "s_name", "s_acctbal")
        .withColumn("sort_pos", F.row_number().over(w).cast("bigint"))
        .orderBy("sort_pos")
    )


@query(
    "f2_limit",
    oracle="""
    SELECT o_orderkey, o_totalprice FROM orders
    ORDER BY o_totalprice DESC, o_orderkey LIMIT 10
    """,
)
def f2_limit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sort + limit (f2) → TakeOrderedAndProject (no global sort)."""
    o = scan(spark, sf_dir, "orders")
    return (
        o.select("o_orderkey", "o_totalprice")
        .orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey"))
        .limit(10)
    )


@query(
    "f3_offset",
    oracle="""
    SELECT o_orderkey, o_totalprice FROM orders
    ORDER BY o_totalprice DESC, o_orderkey LIMIT 10 OFFSET 10
    """,
)
def f3_offset(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Offset + limit — pagination page 2 (f3)."""
    return spark.sql(
        "SELECT o_orderkey, o_totalprice FROM {o} "
        "ORDER BY o_totalprice DESC, o_orderkey LIMIT 10 OFFSET 10",
        o=scan(spark, sf_dir, "orders"),
    )


@query(
    "f4_topk_group",
    oracle="""
    SELECT o_custkey, o_orderkey, o_totalprice, CAST(rn AS BIGINT) AS rn
    FROM (
        SELECT o_custkey, o_orderkey, o_totalprice,
               row_number() OVER (
                   PARTITION BY o_custkey
                   ORDER BY o_totalprice DESC, o_orderkey) AS rn
        FROM orders
    ) WHERE rn <= 2
    """,
)
def f4_topk_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-k per group (f4): window rank ≤ k, unique tie-break."""
    o = scan(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey")
    )
    return (
        o.select("o_custkey", "o_orderkey", "o_totalprice")
        .withColumn("rn", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rn") <= 2)
    )


@query(
    "f6_keyset_page",
    oracle="""
    SELECT o_orderkey, o_orderdate, o_totalprice
    FROM orders
    WHERE (o_orderdate, o_orderkey) >
          (TIMESTAMP '1997-06-01', 3000)
    ORDER BY o_orderdate, o_orderkey
    LIMIT 100
    """,
)
def f6_keyset_page(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keyset (seek) pagination (f6): the page after cursor
    (o_orderdate, o_orderkey) = ('1997-06-01', 3000), by composite-key
    comparison instead of OFFSET.

    OFFSET pagination (f3) sorts-and-skips O(offset) rows per page —
    page 10,000 of a 100 TB table scans everything before it. The
    keyset predicate is sargable: it pushes to the parquet scan
    (row-group min/max prune everything before the cursor, especially
    under a14's date-clustered layout) and the LIMIT fuses into
    TakeOrderedAndProject — per-page cost is O(page), independent of
    how deep the cursor is. This is the shape sys_created_on-cursor
    sync walkers use [SN-API]."""
    o = scan(spark, sf_dir, "orders")
    cursor_date = F.lit("1997-06-01").cast("timestamp")
    after = (F.col("o_orderdate") > cursor_date) | (
        (F.col("o_orderdate") == cursor_date) & (F.col("o_orderkey") > 3000)
    )
    return (
        o.select("o_orderkey", "o_orderdate", "o_totalprice")
        .filter(after)
        .orderBy("o_orderdate", "o_orderkey")
        .limit(100)
    )


_F7_K = 100


@query(
    "f7_exact_k_sample",
    oracle=f"""
    SELECT doc_id, lang,
           md5('ks:' || CAST(doc_id AS VARCHAR) || ':'
               || coalesce(text, '')) AS h
    FROM documents
    ORDER BY h LIMIT {_F7_K}
    """,
)
def f7_exact_k_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-K deterministic sample (f7): the K smallest content-hash
    draws — a fixed-SIZE reproducible sample, where j14/j43 are
    fixed-RATE (their output size floats with the corpus). Fixed K is
    what an eval set or a human-review queue needs: exactly 100 docs,
    the same 100 every run, engine, and reshard; and because the hash
    ranks are uniform, it IS a uniform sample.

    100 TB notes: orderBy+limit fuses to TakeOrderedAndProject —
    per-partition K-row heaps merged on the driver, ZERO full sort,
    shuffle volume = K x partitions rows (a global sample with no
    global sort is the whole trick; the naive ORDER BY of the corpus
    the oracle runs would be a terabyte shuffle)."""
    d = scan(spark, sf_dir, "documents")
    # coalesce: a NULL-text doc still gets a DEFINED hash draw — bare
    # concat would null the key and the two engines then PLACE the null
    # draws on opposite ends of the order (Spark NULLS FIRST asc,
    # DuckDB NULLS LAST), shifting the whole sample.
    h = F.md5(
        F.concat(
            F.lit("ks:"),
            F.col("doc_id").cast("string"),
            F.lit(":"),
            F.coalesce(F.col("text"), F.lit("")),
        )
    )
    return (
        d.select("doc_id", "lang", h.alias("h"))
        .orderBy("h")
        .limit(_F7_K)
    )


_F8_K = 30  # per-stratum sample size


@query(
    "f8_stratified_exact_k",
    oracle=f"""
    WITH r AS (
        SELECT doc_id, lang,
               row_number() OVER (
                   PARTITION BY lang
                   ORDER BY md5('sk:' || CAST(doc_id AS VARCHAR)
                                || ':' || coalesce(text, ''))
               ) AS rn
        FROM documents
    )
    SELECT doc_id, lang, CAST(rn AS BIGINT) AS rn
    FROM r WHERE rn <= {_F8_K}
    """,
)
def f8_stratified_exact_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stratified exact-K sample (f8): exactly K docs PER LANGUAGE by
    content-hash rank — the balanced eval-set builder. Completes the
    sampling matrix: f5 is rate-stratified (size floats per stratum),
    f7 is exact-K global (strata unrepresented), this is exact-K per
    stratum — same K docs per language every run, engine, reshard.

    100 TB notes: one lang-keyed exchange; the rank window never
    materializes a global order, and per-partition work is a K-bounded
    pass (Spark's WindowGroupLimit pushes the rn <= K filter INTO the
    window operator, so partitions stop ranking after K — the window
    analogue of TakeOrderedAndProject, visible in the plan). Skew
    bound = docs per language, the partition key a corpus naturally
    balances."""
    d = scan(spark, sf_dir, "documents")
    h = F.md5(  # coalesce: defined draw for NULL text (see f7)
        F.concat(
            F.lit("sk:"),
            F.col("doc_id").cast("string"),
            F.lit(":"),
            F.coalesce(F.col("text"), F.lit("")),
        )
    )
    w = Window.partitionBy("lang").orderBy(h)
    return (
        d.select("doc_id", "lang", F.row_number().over(w).cast("bigint").alias("rn"))
        .filter(F.col("rn") <= _F8_K)
    )
