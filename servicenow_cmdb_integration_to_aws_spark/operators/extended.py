"""Round-2 extension operators — reshaping, reconciliation, SQL
surface, and pipeline utilities a CMDB→AWS + training-data user hits
next after the §2 core (ids d13/d15, c13, t4, e9, b13, h12, f5, k6,
g5/g6, j15).

Domain mapping: d13/d15 are the Aggregate-API "display as columns"
pivot and its inverse (CMDB attribute melt); c13 is Identification &
Reconciliation (IRE) two-source CI merge [SN-API]; the rest extend the
training-data pipeline surface ([NS]): deterministic stratified
sampling, exact-dup clustering, vocabulary counts, Arrow-native
transforms.

100 TB notes per operator are on each docstring; the module-wide rule
is unchanged — built-in expressions only (no Python row UDFs), every
shuffle keyed, small sides broadcast.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..registry import query
from ..sources.tables import scan
from .numeric import dec

# TPC-H market segments are a fixed enum — pivoting on EXPLICIT values
# skips the extra distinct-scan job Spark otherwise runs to discover
# them, and keeps the output schema static (a 100 TB pivot with
# unknown pivot values is a two-pass query; with known values it's one
# partial-aggregated shuffle, same as any groupBy).
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]


@query(
    "d13_pivot",
    oracle="""
    SELECT c_nationkey,
           CAST(SUM(CASE WHEN c_mktsegment = 'AUTOMOBILE'
                THEN CAST(c_acctbal AS DECIMAL(18,2)) END) AS DOUBLE) AS AUTOMOBILE,
           CAST(SUM(CASE WHEN c_mktsegment = 'BUILDING'
                THEN CAST(c_acctbal AS DECIMAL(18,2)) END) AS DOUBLE) AS BUILDING,
           CAST(SUM(CASE WHEN c_mktsegment = 'FURNITURE'
                THEN CAST(c_acctbal AS DECIMAL(18,2)) END) AS DOUBLE) AS FURNITURE,
           CAST(SUM(CASE WHEN c_mktsegment = 'HOUSEHOLD'
                THEN CAST(c_acctbal AS DECIMAL(18,2)) END) AS DOUBLE) AS HOUSEHOLD,
           CAST(SUM(CASE WHEN c_mktsegment = 'MACHINERY'
                THEN CAST(c_acctbal AS DECIMAL(18,2)) END) AS DOUBLE) AS MACHINERY
    FROM customer
    GROUP BY c_nationkey
    """,
)
def d13_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot (d13): balance by nation × market segment as columns —
    the Aggregate API's "group by, display per-choice columns" shape.

    Implemented as conditional aggregates over the explicit segment
    enum rather than `DataFrame.pivot`: with known pivot values the
    conditional form is ONE partial-aggregated shuffle on the group
    key, whereas `.pivot` plans two exchanges — a (key,segment) agg
    followed by a pivotfirst re-agg on key (verified via
    explain("formatted"); tests/test_plans.py pins the 1-exchange
    shape). `.pivot` without explicit values would add a third job
    just to discover the segment enum — never do that at 100 TB."""
    c = scan(spark, sf_dir, "customer")
    aggs = [
        F.sum(F.when(F.col("c_mktsegment") == s, dec("c_acctbal")))
        .cast("double")
        .alias(s)
        for s in SEGMENTS
    ]
    return c.groupBy("c_nationkey").agg(*aggs)


@query(
    "d15_unpivot",
    oracle="""
    SELECT l_orderkey, l_linenumber, 'l_quantity' AS measure, l_quantity AS value
    FROM lineitem
    UNION ALL
    SELECT l_orderkey, l_linenumber, 'l_extendedprice', l_extendedprice FROM lineitem
    UNION ALL
    SELECT l_orderkey, l_linenumber, 'l_discount', l_discount FROM lineitem
    UNION ALL
    SELECT l_orderkey, l_linenumber, 'l_tax', l_tax FROM lineitem
    """,
)
def d15_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unpivot/melt (d15): lineitem measures wide→long — the inverse
    of d13 and the standard shape-normalization before generic
    per-measure aggregation. `DataFrame.unpivot` compiles to a
    generator Expand node: each input row emits 4 output rows in the
    same task — NO shuffle, no join, scales linearly."""
    li = scan(spark, sf_dir, "lineitem")
    return li.unpivot(
        ["l_orderkey", "l_linenumber"],
        ["l_quantity", "l_extendedprice", "l_discount", "l_tax"],
        "measure",
        "value",
    )


@query(
    "c13_reconcile",
    oracle="""
    WITH discovery AS (
        SELECT c_custkey, c_name, c_acctbal
        FROM customer WHERE c_custkey % 3 <> 0
    ),
    imported AS (
        SELECT c_custkey, c_name, c_mktsegment
        FROM customer WHERE c_custkey % 2 = 0
    )
    SELECT COALESCE(d.c_custkey, i.c_custkey) AS ci_key,
           COALESCE(d.c_name, i.c_name) AS name,
           d.c_acctbal AS acctbal,
           i.c_mktsegment AS segment,
           CASE WHEN d.c_custkey IS NOT NULL AND i.c_custkey IS NOT NULL
                THEN 'both'
                WHEN d.c_custkey IS NOT NULL THEN 'discovery'
                ELSE 'imported' END AS provenance
    FROM discovery d FULL OUTER JOIN imported i USING (c_custkey)
    """,
)
def c13_reconcile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IRE-style reconciliation (c13) [SN-API]: two sources report
    overlapping CI sets with different attribute coverage; the merge
    is identification (full outer join on the identity key) +
    field-level precedence (COALESCE, authoritative source first) +
    provenance tagging. One co-partitioned shuffle on the identity
    key; at 100 TB both sides hash-partition once and the coalesce is
    row-local."""
    c = scan(spark, sf_dir, "customer")
    discovery = c.filter(F.col("c_custkey") % 3 != 0).select(
        "c_custkey", "c_name", "c_acctbal"
    )
    imported = c.filter(F.col("c_custkey") % 2 == 0).select(
        F.col("c_custkey").alias("i_custkey"),
        F.col("c_name").alias("i_name"),
        "c_mktsegment",
    )
    j = discovery.join(
        imported, discovery["c_custkey"] == imported["i_custkey"], "full_outer"
    )
    return j.select(
        F.coalesce("c_custkey", "i_custkey").alias("ci_key"),
        F.coalesce("c_name", "i_name").alias("name"),
        F.col("c_acctbal").alias("acctbal"),
        F.col("c_mktsegment").alias("segment"),
        F.when(
            F.col("c_custkey").isNotNull() & F.col("i_custkey").isNotNull(),
            "both",
        )
        .when(F.col("c_custkey").isNotNull(), "discovery")
        .otherwise("imported")
        .alias("provenance"),
    )


@query(
    "t4_golden_q18",
    oracle="""
    SELECT c_name, c_custkey, o_orderkey,
           CAST(o_orderdate AS TIMESTAMP) AS o_orderdate,
           o_totalprice,
           SUM(l_quantity) AS sum_qty
    FROM customer
    JOIN orders ON c_custkey = o_custkey
    JOIN lineitem ON o_orderkey = l_orderkey
    GROUP BY c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice
    HAVING SUM(l_quantity) > 250
    """,
)
def t4_golden_q18(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Golden TPC-H Q18 analogue (t4): large-volume orders — 3-way
    join, group on the join spine, HAVING on the aggregate. l_quantity
    is integral-valued, so SUM(double) is exact. Plan shape: lineitem
    pre-aggregates per order BEFORE the customer join (partial agg on
    the shuffle key), customer side joins broadcast-or-shuffle by AQE;
    the HAVING prunes rows before the final projection."""
    c = scan(spark, sf_dir, "customer")
    o = scan(spark, sf_dir, "orders")
    li = scan(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_orderkey")
        .agg(F.sum("l_quantity").alias("sum_qty"))
        .filter(F.col("sum_qty") > 250)
        .join(o, F.col("l_orderkey") == o["o_orderkey"])
        .join(c, o["o_custkey"] == c["c_custkey"])
        .select(
            "c_name",
            "c_custkey",
            "o_orderkey",
            F.col("o_orderdate").cast("timestamp").alias("o_orderdate"),
            "o_totalprice",
            "sum_qty",
        )
    )


@query(
    "e9_ntile_dist",
    oracle="""
    SELECT c_custkey, c_nationkey,
           NTILE(4) OVER w AS quartile,
           PERCENT_RANK() OVER w AS pct_rank,
           CUME_DIST() OVER w AS cume
    FROM customer WHERE c_acctbal IS NOT NULL
    WINDOW w AS (PARTITION BY c_nationkey ORDER BY c_acctbal, c_custkey)
    """,
)
def e9_ntile_dist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution windows (e9): quartile bucketing + rank normali-
    zation per nation — the per-stratum score-normalization primitive
    (quality-score quantiles per language is the [NS] use). One
    shuffle on the partition key; ties broken by c_custkey so
    percent_rank/cume_dist are deterministic cross-engine."""
    # a NULL score carries no rank: filtered on BOTH sides, else the
    # engines' opposite null placement (Spark NULLS FIRST asc, DuckDB
    # NULLS LAST) shifts every rank denominator (r7 null sweep)
    c = scan(spark, sf_dir, "customer").where(F.col("c_acctbal").isNotNull())
    w = Window.partitionBy("c_nationkey").orderBy("c_acctbal", "c_custkey")
    return c.select(
        "c_custkey",
        "c_nationkey",
        F.ntile(4).over(w).alias("quartile"),
        F.percent_rank().over(w).alias("pct_rank"),
        F.cume_dist().over(w).alias("cume"),
    )


@query(
    "b13_exists",
    oracle="""
    SELECT c_custkey, c_name
    FROM customer c
    WHERE EXISTS (SELECT 1 FROM orders o
                  WHERE o.o_custkey = c.c_custkey
                    AND o.o_orderpriority = '1-URGENT')
      AND NOT EXISTS (SELECT 1 FROM orders o
                      WHERE o.o_custkey = c.c_custkey
                        AND o.o_orderstatus = 'F'
                        AND o.o_totalprice > 300000)
    """,
)
def b13_exists(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated EXISTS / NOT EXISTS (b13) through the SQL surface:
    Catalyst decorrelates both into left-semi and left-anti hash
    joins on o_custkey — same physical shape as c5/c6, proving the
    SQL entry point hits identical plans as the DataFrame DSL."""
    return spark.sql(
        """
        SELECT c_custkey, c_name
        FROM {customer} c
        WHERE EXISTS (SELECT 1 FROM {orders} o
                      WHERE o.o_custkey = c.c_custkey
                        AND o.o_orderpriority = '1-URGENT')
          AND NOT EXISTS (SELECT 1 FROM {orders} o
                          WHERE o.o_custkey = c.c_custkey
                            AND o.o_orderstatus = 'F'
                            AND o.o_totalprice > 300000)
        """,
        customer=scan(spark, sf_dir, "customer"),
        orders=scan(spark, sf_dir, "orders"),
    )


@query(
    "h12_wordcount",
    oracle="""
    SELECT w AS word, COUNT(*) AS n
    FROM (SELECT UNNEST(string_split(text, ' ')) AS w FROM documents)
    WHERE w <> ''
    GROUP BY w
    """,
)
def h12_wordcount(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus vocabulary count (h12): split→explode→count over
    documents.text — the degenerate-but-ubiquitous token histogram
    (BPE vocab prep, stopword mining). Explode happens map-side; the
    only shuffle is the partially-aggregated (word,count) stream, so
    wire volume is O(vocab) per partition, not O(tokens)."""
    d = scan(spark, sf_dir, "documents")
    return (
        d.select(F.explode(F.split("text", " ")).alias("word"))
        .filter(F.col("word") != "")
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("n"))
    )


@query(
    "f5_stratified_sample",
    oracle="""
    SELECT doc_id, lang, source
    FROM documents
    WHERE substr(md5(CAST(doc_id AS VARCHAR) || '/' || lang), 1, 2) <
          CASE lang WHEN 'en' THEN '14' WHEN 'zh' THEN '80' ELSE '40' END
    """,
)
def f5_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic stratified sampling (f5, [NS]): per-language keep
    rates (en ~8%, zh ~50%, others 25%) via content-hash thresholds —
    the language-rebalancing primitive of corpus construction. Unlike
    `sampleBy`, the hash predicate is reproducible across engines and
    runs, evaluates scan-side (no shuffle, no state), and a document
    keeps one fate across pipeline stages."""
    d = scan(spark, sf_dir, "documents")
    h = F.substring(
        F.md5(F.concat(F.col("doc_id").cast("string"), F.lit("/"), F.col("lang"))),
        1,
        2,
    )
    thr = (
        F.when(F.col("lang") == "en", "14")
        .when(F.col("lang") == "zh", "80")
        .otherwise("40")
    )
    return d.filter(h < thr).select("doc_id", "lang", "source")


@query(
    "k6_arrow_map",
    oracle="""
    SELECT event_id, value * 2.0 AS double_value,
           CAST(length(event_type) AS BIGINT) AS type_len
    FROM events
    """,
)
def k6_arrow_map(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arrow-native batch transform (k6): `mapInArrow` — the
    zero-copy escape hatch between pandas-UDF ergonomics and raw
    mapPartitions. The lambda sees pyarrow.RecordBatch objects;
    compute stays columnar end-to-end (no pandas conversion, no
    per-row Python). This is the template for plugging Arrow-speaking
    native libs (tokenizers, codecs) into the hot path."""
    import pyarrow as pa
    import pyarrow.compute as pc

    def doubler(batches):
        for b in batches:
            yield pa.RecordBatch.from_arrays(
                [
                    b.column("event_id"),
                    pc.multiply(b.column("value"), pa.scalar(2.0)),
                    pc.cast(
                        pc.utf8_length(b.column("event_type")), pa.int64()
                    ),
                ],
                ["event_id", "double_value", "type_len"],
            )

    e = scan(spark, sf_dir, "events").select("event_id", "value", "event_type")
    return e.mapInArrow(
        doubler, "event_id long, double_value double, type_len long"
    )


@query(
    "g5_intersect_all",
    oracle="""
    SELECT c_nationkey AS k FROM customer WHERE c_acctbal > 4000
    INTERSECT ALL
    SELECT c_nationkey FROM customer WHERE c_mktsegment = 'BUILDING'
    """,
)
def g5_intersect_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERSECT ALL (g5): bag-semantics intersection — each key
    survives min(count_left, count_right) times. Spark plans a single
    co-partitioned aggregate over both tagged inputs (one shuffle),
    not a join explosion."""
    c = scan(spark, sf_dir, "customer")
    left = c.filter(F.col("c_acctbal") > 4000).select(
        F.col("c_nationkey").alias("k")
    )
    right = c.filter(F.col("c_mktsegment") == "BUILDING").select(
        F.col("c_nationkey").alias("k")
    )
    return left.intersectAll(right)


@query(
    "g6_except_all",
    oracle="""
    SELECT c_nationkey AS k FROM customer WHERE c_acctbal > 4000
    EXCEPT ALL
    SELECT c_nationkey FROM customer WHERE c_mktsegment = 'BUILDING'
    """,
)
def g6_except_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXCEPT ALL (g6): bag-semantics difference — each key survives
    max(count_left - count_right, 0) times. Same single-shuffle
    tagged-aggregate plan as g5."""
    c = scan(spark, sf_dir, "customer")
    left = c.filter(F.col("c_acctbal") > 4000).select(
        F.col("c_nationkey").alias("k")
    )
    right = c.filter(F.col("c_mktsegment") == "BUILDING").select(
        F.col("c_nationkey").alias("k")
    )
    return left.exceptAll(right)


@query(
    "j15_dup_clusters",
    oracle="""
    SELECT doc_id,
           MIN(doc_id) OVER (PARTITION BY md5(text)) AS cluster_rep,
           COUNT(*) OVER (PARTITION BY md5(text)) AS cluster_size
    FROM documents
    """,
)
def j15_dup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-duplicate cluster assignment (j15, [NS]): every document
    gets a canonical representative (min doc_id among its exact-text
    clones) and its cluster size — the keep-one-emit-mapping shape a
    dedup stage feeds to downstream provenance. Hashing text to md5
    BEFORE the shuffle moves 16-byte keys instead of document bodies;
    one window shuffle on the digest. (Near-dup clustering = same
    shape over j2's LSH candidate pairs + c12's closure.)"""
    d = scan(spark, sf_dir, "documents")
    w = Window.partitionBy(F.md5("text"))
    return d.select(
        "doc_id",
        F.min("doc_id").over(w).alias("cluster_rep"),
        F.count(F.lit(1)).over(w).alias("cluster_size"),
    )


@query(
    "b14_null_safe_eq",
    oracle="""
    SELECT a.c_custkey,
           (NULLIF(a.c_mktsegment, 'BUILDING') IS NOT DISTINCT FROM
            NULLIF(b.c_mktsegment, 'BUILDING')) AS same_seg,
           (NULLIF(a.c_mktsegment, 'BUILDING') = 
            NULLIF(b.c_mktsegment, 'BUILDING')) AS same_seg_sqlnull
    FROM customer a JOIN customer b ON b.c_custkey = a.c_custkey + 1
    """,
)
def b14_null_safe_eq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Null-safe equality (b14): `<=>` / IS NOT DISTINCT FROM vs plain
    `=` side by side on a manufactured-null column — the comparison
    semantics every reconcile/merge keys on (null identity keys must
    MATCH each other, not vanish). Adjacent-id self-join keeps the
    pair set deterministic."""
    c = scan(spark, sf_dir, "customer")
    a = c.select(
        "c_custkey", F.nullif("c_mktsegment", F.lit("BUILDING")).alias("seg_a")
    )
    b = c.select(
        (F.col("c_custkey") - 1).alias("k"),
        F.nullif("c_mktsegment", F.lit("BUILDING")).alias("seg_b"),
    )
    return a.join(b, a["c_custkey"] == b["k"]).select(
        "c_custkey",
        F.col("seg_a").eqNullSafe(F.col("seg_b")).alias("same_seg"),
        (F.col("seg_a") == F.col("seg_b")).alias("same_seg_sqlnull"),
    )


@query(
    "h13_bitops",
    oracle="""
    SELECT c_custkey,
           c_custkey << 2 AS shl,
           c_custkey >> 1 AS shr,
           c_custkey & 255 AS band,
           c_custkey | 4096 AS bor,
           xor(c_custkey, 1365) AS bxor,
           ~c_custkey AS bnot,
           CAST(bit_count(c_custkey) AS INT) AS popcnt
    FROM customer
    """,
)
def h13_bitops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bitwise function surface (h13): shifts, and/or/xor/not,
    popcount — the bit-packed-flag manipulation used by sys_flags
    fields and by sketch internals (j2b's SimHash packs votes with
    exactly these). All codegen'd long arithmetic; scan-side."""
    c = scan(spark, sf_dir, "customer")
    k = F.col("c_custkey")
    return c.select(
        "c_custkey",
        F.shiftleft(k, 2).alias("shl"),
        F.shiftright(k, 1).alias("shr"),
        k.bitwiseAND(F.lit(255)).alias("band"),
        k.bitwiseOR(F.lit(4096)).alias("bor"),
        k.bitwiseXOR(F.lit(1365)).alias("bxor"),
        F.bitwise_not(k).alias("bnot"),
        F.bit_count(k).alias("popcnt"),
    )


@query(
    "h14_struct_ops",
    oracle="""
    SELECT o_orderkey,
           struct_extract(s, 'status') AS status,
           struct_extract(s, 'bucket') AS bucket,
           struct_extract(struct_extract(s, 'inner'), 'price') AS price
    FROM (SELECT o_orderkey,
                 struct_pack(
                     status := o_orderstatus,
                     bucket := CAST(o_orderkey % 10 AS BIGINT),
                     inner := struct_pack(price := o_totalprice)
                 ) AS s
          FROM orders)
    """,
)
def h14_struct_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Struct construct + nested field access (h14): named_struct /
    dot-path extraction — the typed-record layer under every
    multimodal metadata column (m2's payload struct is this). The
    struct is built and immediately field-projected, so Catalyst's
    nested-schema pruning collapses it to plain column references —
    zero runtime cost (the output stays scalar for the driver
    compare)."""
    o = scan(spark, sf_dir, "orders")
    s = F.struct(
        F.col("o_orderstatus").alias("status"),
        (F.col("o_orderkey") % 10).alias("bucket"),
        F.struct(F.col("o_totalprice").alias("price")).alias("inner"),
    )
    return o.select(
        "o_orderkey",
        s.getField("status").alias("status"),
        s.getField("bucket").alias("bucket"),
        s.getField("inner").getField("price").alias("price"),
    )


@query(
    "d16_conditional_aggs",
    oracle="""
    SELECT c_nationkey,
           CAST(count_if(c_acctbal > 5000) AS BIGINT) AS n_rich,
           bool_and(c_acctbal > -1000) AS all_above_floor,
           bool_or(c_mktsegment = 'BUILDING') AS any_building,
           arg_max(c_name, c_custkey) AS last_name_by_key,
           arg_min(c_name, c_custkey) AS first_name_by_key
    FROM customer
    GROUP BY c_nationkey
    """,
)
def d16_conditional_aggs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conditional / argmax aggregate surface (d16): count_if,
    bool_and/bool_or (compliance-style "all CIs patched / any CI
    exposed" rollups) and max_by/min_by (the per-group argmax that
    otherwise costs a window + filter). The ordering key (c_custkey)
    is unique, so argmax is deterministic cross-engine. All are
    partial-aggregable — one shuffle, same as d2."""
    c = scan(spark, sf_dir, "customer")
    return c.groupBy("c_nationkey").agg(
        F.count_if(F.col("c_acctbal") > 5000).alias("n_rich"),
        F.bool_and(F.col("c_acctbal") > -1000).alias("all_above_floor"),
        F.bool_or(F.col("c_mktsegment") == "BUILDING").alias("any_building"),
        F.max_by("c_name", "c_custkey").alias("last_name_by_key"),
        F.min_by("c_name", "c_custkey").alias("first_name_by_key"),
    )


@query(
    "c24_ire_identify",
    oracle="""
    WITH staged AS (
        SELECT c_custkey AS stage_id,
               CASE WHEN c_custkey % 3 = 0 THEN NULL
                    ELSE c_custkey END AS serial,
               CASE WHEN c_custkey % 5 = 0 THEN NULL
                    ELSE c_name END AS name,
               c_nationkey AS nk, c_acctbal AS bal
        FROM customer
    ),
    corr AS (
        SELECT s.stage_id, COUNT(*) AS n_corr
        FROM staged s JOIN customer t
          ON t.c_nationkey = s.nk AND t.c_acctbal = s.bal
        GROUP BY s.stage_id
    ),
    ident AS (
        SELECT s.stage_id,
               CASE WHEN s.serial IS NOT NULL
                         AND t1.c_custkey IS NOT NULL THEN 1
                    WHEN s.name IS NOT NULL
                         AND t2.c_custkey IS NOT NULL THEN 2
                    WHEN corr.n_corr = 1 THEN 3
                    ELSE 0 END AS matched_rule
        FROM staged s
        LEFT JOIN customer t1 ON t1.c_custkey = s.serial
        LEFT JOIN customer t2 ON t2.c_name = s.name
        LEFT JOIN corr ON corr.stage_id = s.stage_id
    )
    SELECT CAST(matched_rule AS BIGINT) AS matched_rule,
           COUNT(*) AS n,
           MIN(stage_id) AS min_id, MAX(stage_id) AS max_id
    FROM ident GROUP BY 1
    """,
)
def c24_ire_identify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IRE identification rule chain (c24): ServiceNow's Identification
    & Reconciliation Engine identifies an incoming record against the
    CMDB by an ORDERED rule list — authoritative serial first, then
    name, then a correlation attribute set — and refuses ambiguous
    matches (multi-hit correlation ⇒ no identify, never a guess).
    Staging here is the customer table deterministically degraded
    (serial dropped every 3rd row, name every 5th), so all three
    identify tiers fire (1000/400/100 rows at sf0.01); the rule-0
    ambiguity path is wired but unexercised on this data (account
    balances are unique within a nation) — the guard exists for the
    data that needs it. c13 reconciles two ALREADY-keyed sources —
    this is the step that ASSIGNS the key.

    Parity: fault injection is key arithmetic; rule precedence is one
    CASE over three left joins; the ambiguity guard is an exact match
    COUNT (doubles compared for equality come from the same parquet
    bytes on both engines).

    100 TB notes: each rule tier is a co-keyed or broadcast-able
    equi-join probing the SAME target table — the chain is three
    probes of one dimension, not three scans of the import; the
    correlation tier's count-aggregate is import-keyed and
    partial-aggs. Precedence resolves in the CASE (map-side), so
    adding a rule adds a join, never a rescan of prior tiers."""
    c = scan(spark, sf_dir, "customer")
    staged = c.select(
        F.col("c_custkey").alias("stage_id"),
        F.when(F.col("c_custkey") % 3 == 0, F.lit(None))
        .otherwise(F.col("c_custkey"))
        .alias("serial"),
        F.when(F.col("c_custkey") % 5 == 0, F.lit(None))
        .otherwise(F.col("c_name"))
        .alias("name"),
        F.col("c_nationkey").alias("nk"),
        F.col("c_acctbal").alias("bal"),
    )
    t1 = c.select(F.col("c_custkey").alias("t1_key"))
    t2 = c.select(F.col("c_name").alias("t2_name"), F.col("c_custkey").alias("t2_key"))
    corr = (
        staged.join(
            c.select("c_nationkey", "c_acctbal"),
            (F.col("c_nationkey") == F.col("nk"))
            & (F.col("c_acctbal") == F.col("bal")),
        )
        .groupBy("stage_id")
        .agg(F.count(F.lit(1)).alias("n_corr"))
    )
    ident = (
        staged.join(t1, staged["serial"] == t1["t1_key"], "left")
        .join(t2, staged["name"] == t2["t2_name"], "left")
        .join(corr, "stage_id", "left")
        .select(
            "stage_id",
            F.when(
                F.col("serial").isNotNull() & F.col("t1_key").isNotNull(), 1
            )
            .when(F.col("name").isNotNull() & F.col("t2_key").isNotNull(), 2)
            .when(F.col("n_corr") == 1, 3)
            .otherwise(0)
            .cast("bigint")
            .alias("matched_rule"),
        )
    )
    return ident.groupBy("matched_rule").agg(
        F.count(F.lit(1)).alias("n"),
        F.min("stage_id").alias("min_id"),
        F.max("stage_id").alias("max_id"),
    )
