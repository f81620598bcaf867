"""ServiceNow encoded-query compiler (SURVEY §3.2) — entry point 2.

The domain's native filter language is the encoded query string
[SN-API], e.g. ``active=true^priority=1^ORpriority=2^ORDERBYname``.
This module compiles that grammar onto DataFrame Column expressions —
the one hand-written "parser → plan" component in the engine; after
hand-off, Catalyst owns everything (predicate pushdown applies to the
compiled filters exactly as to hand-built ones).

Grammar (public encoded-query operators [SN-API]):
- term separators: ``^`` (AND), ``^OR`` (attaches to the previous term
  as a disjunction group: ``a^b^ORc`` ≡ ``a AND (b OR c)``),
  ``^NQ`` (top-level query union).
- operators per term (longest-match): ``=``, ``!=``, ``>=``, ``<=``,
  ``>``, ``<``, ``LIKE``, ``NOT LIKE``, ``STARTSWITH``, ``ENDSWITH``,
  ``IN`` (comma list), ``NOT IN``, ``BETWEEN`` (``lo@hi``),
  ``SAMEAS``, ``NSAMEAS``, ``ISEMPTY``, ``ISNOTEMPTY``.
- directives: ``ORDERBYfield``, ``ORDERBYDESCfield``.
- global text search: the ``123TEXTQUERY321=term`` pseudo-field
  (case-insensitive contains across every string column) [SN-API].

Values are passed to Spark as string literals; Catalyst's analyzer
applies the same implicit casts the DataFrame DSL gets (numeric /
timestamp comparisons resolve against the column type).

100 TB notes (whole module): the compiler emits ordinary Column
expressions, so every compiled query inherits the engine's scan-time
behavior — predicate pushdown, column pruning, partition pruning —
identically to hand-written DataFrame code; compilation itself is
driver-side string work, O(query length), launching zero jobs
(tests/test_plans.py::test_no_eager_jobs_during_plan_construction).
Dot-walk terms compile to broadcast dim joins; ^NQ unions compile to
unionByName of independently-pushed branches.
"""

from __future__ import annotations

import datetime
import re
from dataclasses import dataclass, field
from functools import reduce

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..registry import query
from ..sources.tables import scan

# longest-match order matters: ISNOTEMPTY before ISEMPTY, >= before >, ...
_OPS = [
    "ISNOTEMPTY",
    "ISEMPTY",
    "NSAMEAS",
    "SAMEAS",
    "NOT LIKE",
    "LIKE",
    "STARTSWITH",
    "ENDSWITH",
    "NOT IN",
    "IN",
    "BETWEEN",
    "!=",
    ">=",
    "<=",
    "=",
    ">",
    "<",
]


@dataclass
class Term:
    field: str
    op: str
    value: str


@dataclass
class CompiledQuery:
    """One ``^NQ`` branch: AND of OR-groups + order-by directives."""

    groups: list[list[Term]] = field(default_factory=list)
    order_by: list[tuple[str, bool]] = field(default_factory=list)  # (col, desc)


_FIELD_RE = re.compile(r"(123TEXTQUERY321|[A-Za-z_][A-Za-z0-9_.]*)\Z")
_OPS_BY_LEN = sorted(_OPS, key=len, reverse=True)


def parse_term(raw: str) -> Term:
    """Split `<field><op><value>` where alphabetic ops (LIKE, IN, …)
    are not self-delimiting. Rule: the *earliest* position whose prefix
    is a complete identifier and which starts an operator wins (so the
    IN inside a value like 'BUILDING' or a LIKE inside a field name
    can't match); at equal positions the longest op wins (>= over >)."""
    best: Term | None = None
    for op in _OPS_BY_LEN:
        start = 1
        while True:
            idx = raw.find(op, start)
            if idx < 0:
                break
            if _FIELD_RE.match(raw[:idx]):
                if best is None or idx < len(best.field):
                    best = Term(raw[:idx], op, raw[idx + len(op):])
                break  # earliest occurrence for this op found
            start = idx + 1
    if best is None:
        raise ValueError(f"unparseable encoded term: {raw!r}")
    return best


def parse(encoded: str) -> list[CompiledQuery]:
    """Parse an encoded query into one CompiledQuery per ^NQ branch.

    Prefix ambiguity: ServiceNow field names are lowercase by platform
    convention [SN-API], so a token starting 'OR'/'ORDERBY' is read as
    a disjunction/directive when the remainder parses; if the remainder
    does NOT parse (e.g. 'OR=5', field literally named 'OR', or
    'ORDERBY' followed by a non-identifier), the whole raw token is
    re-tried as a plain term before failing."""
    out = []
    for branch in encoded.split("^NQ"):
        cq = CompiledQuery()
        for raw in branch.split("^"):
            if not raw:
                continue
            if raw.startswith("ORDERBYDESC") and _FIELD_RE.match(
                raw[len("ORDERBYDESC"):]
            ):
                cq.order_by.append((raw[len("ORDERBYDESC"):], True))
            elif raw.startswith("ORDERBY") and _FIELD_RE.match(
                raw[len("ORDERBY"):]
            ):
                cq.order_by.append((raw[len("ORDERBY"):], False))
            elif raw.startswith("OR"):
                try:
                    term = None if not cq.groups else parse_term(raw[2:])
                except ValueError:
                    term = None
                if term is not None:
                    cq.groups[-1].append(term)
                else:
                    # no antecedent to disjoin with, or the remainder is
                    # unparseable: the field itself starts with 'OR'
                    cq.groups.append([parse_term(raw)])
            else:
                cq.groups.append([parse_term(raw)])
        out.append(cq)
    return out


def _term_to_column(t: Term) -> Column:
    c = F.col(t.field)
    if t.op == "=":
        return c == t.value
    if t.op == "!=":
        return c != t.value
    if t.op == ">":
        return c > t.value
    if t.op == ">=":
        return c >= t.value
    if t.op == "<":
        return c < t.value
    if t.op == "<=":
        return c <= t.value
    if t.op == "LIKE":
        return c.contains(t.value)
    if t.op == "NOT LIKE":
        return ~c.contains(t.value)
    if t.op == "STARTSWITH":
        return c.startswith(t.value)
    if t.op == "ENDSWITH":
        return c.endswith(t.value)
    if t.op == "IN":
        return c.isin(*t.value.split(","))
    if t.op == "NOT IN":
        return ~c.isin(*t.value.split(","))
    if t.op == "BETWEEN":
        lo, hi = t.value.split("@", 1)
        return c.between(lo, hi)
    if t.op == "SAMEAS":
        return c == F.col(t.value)
    if t.op == "NSAMEAS":
        return c != F.col(t.value)
    if t.op == "ISEMPTY":
        return c.isNull() | (c.cast("string") == "")
    if t.op == "ISNOTEMPTY":
        return c.isNotNull() & (c.cast("string") != "")
    raise ValueError(f"unsupported op {t.op!r}")  # pragma: no cover


#: ServiceNow global text-search pseudo-field: `123TEXTQUERY321=term`
#: matches the term case-insensitively across EVERY string column.
TEXT_QUERY_FIELD = "123TEXTQUERY321"


def _text_search_column(df: DataFrame, term_value: str) -> Column:
    from pyspark.sql import types as T

    needle = term_value.lower()
    scols = [f.name for f in df.schema.fields if isinstance(f.dataType, T.StringType)]
    if not scols:
        return F.lit(False)
    pred = None
    for c in scols:
        tcol = F.lower(F.col(c)).contains(needle)
        pred = tcol if pred is None else (pred | tcol)
    return pred


def _compile(base: DataFrame, encoded: str, walk=None) -> DataFrame:
    """The one body of both compilers: each ``^NQ`` branch ANDs its
    OR-groups into one filter over ``base`` (a `123TEXTQUERY321` term
    searches ``base``'s string columns), applies its ORDERBY
    directives, and the branches union by name. A group holding a
    dotted field goes to ``walk(out, group) -> out`` instead; without
    ``walk`` a dotted field is read as a plain column name."""
    outs = []
    for cq in parse(encoded):
        out, pred = base, None
        for group in cq.groups:
            if walk is not None and any("." in t.field for t in group):
                out = walk(out, group)
                continue
            gcol = None
            for term in group:
                if term.field == TEXT_QUERY_FIELD:
                    tcol = _text_search_column(base, term.value)
                else:
                    tcol = _term_to_column(term)
                gcol = tcol if gcol is None else (gcol | tcol)
            pred = gcol if pred is None else (pred & gcol)
        if pred is not None:
            out = out.filter(pred)
        if cq.order_by:
            out = out.orderBy(
                *[F.col(c).desc() if d else F.col(c).asc() for c, d in cq.order_by]
            )
        outs.append(out)
    return reduce(DataFrame.unionByName, outs)


def compile_encoded(df: DataFrame, encoded: str) -> DataFrame:
    """Compile + apply an encoded query against a DataFrame. ``^NQ``
    branches union by name (SURVEY §3.2 → g1 semantics); the
    `123TEXTQUERY321` pseudo-field compiles to a case-insensitive
    any-string-column search (the platform's global text query)."""
    return _compile(df, encoded)


@query(
    "p1_encoded_filter",
    oracle="""
    SELECT * FROM orders
    WHERE o_orderstatus = 'O'
      AND (o_totalprice > 300000 OR o_orderpriority = '1-URGENT')
    """,
)
def p1_encoded_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Encoded-query path (§3.2): AND/OR grouping compiled to Column
    predicates — `a^b^ORc` ≡ a AND (b OR c)."""
    o = scan(spark, sf_dir, "orders")
    return compile_encoded(
        o, "o_orderstatus=O^o_totalprice>300000^ORo_orderpriority=1-URGENT"
    )


@query(
    "p2_encoded_nq",
    oracle="""
    SELECT * FROM customer WHERE c_mktsegment = 'BUILDING' AND c_acctbal > 5000
    UNION ALL
    SELECT * FROM customer WHERE c_mktsegment = 'MACHINERY' AND c_acctbal < 1000
    """,
)
def p2_encoded_nq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Encoded `^NQ` query union (§3.2 → g1)."""
    c = scan(spark, sf_dir, "customer")
    return compile_encoded(
        c,
        "c_mktsegment=BUILDING^c_acctbal>5000"
        "^NQc_mktsegment=MACHINERY^c_acctbal<1000",
    )


@query(
    "p3_encoded_ops",
    oracle="""
    SELECT * FROM part
    WHERE p_name LIKE '%gear%'
      AND p_type IN ('ECONOMY', 'SMALL')
      AND p_size BETWEEN 10 AND 30
      AND p_brand IS NOT NULL AND CAST(p_brand AS VARCHAR) <> ''
    """,
)
def p3_encoded_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Encoded operator breadth (§3.2): LIKE / IN / BETWEEN / ISNOTEMPTY."""
    p = scan(spark, sf_dir, "part")
    return compile_encoded(
        p,
        "p_nameLIKEgear^p_typeINECONOMY,SMALL^p_sizeBETWEEN10@30"
        "^p_brandISNOTEMPTY",
    )


#: Reference-field map — the ServiceNow dot-walk analogue [SN-API]:
#: (table, reference field) -> (referenced table, its key). In the CMDB
#: these edges come from the dictionary (sys_dictionary reference
#: columns); here they are the TPC-H-ish foreign keys.
REFERENCE_FIELDS = {
    ("orders", "o_custkey"): ("customer", "c_custkey"),
    ("customer", "c_nationkey"): ("nation", "n_nationkey"),
    ("nation", "n_regionkey"): ("region", "r_regionkey"),
    ("lineitem", "l_orderkey"): ("orders", "o_orderkey"),
    ("lineitem", "l_partkey"): ("part", "p_partkey"),
    ("lineitem", "l_suppkey"): ("supplier", "s_suppkey"),
    ("supplier", "s_nationkey"): ("nation", "n_nationkey"),
}


def _walk_steps(table: str, field: str) -> tuple[list[tuple[str, str, str]], str, str]:
    """Resolve `f1.f2...fn` from `table` through REFERENCE_FIELDS.
    Returns ([(src_table, ref_field, dst_table_key)...], leaf_table,
    leaf_field)."""
    segs = field.split(".")
    steps = []
    cur = table
    for seg in segs[:-1]:
        try:
            dst, key = REFERENCE_FIELDS[(cur, seg)]
        except KeyError:
            raise ValueError(
                f"{cur}.{seg} is not a reference field (no dictionary entry)"
            ) from None
        steps.append((cur, seg, key))
        cur = dst
    return steps, cur, segs[-1]


def compile_encoded_dotwalk(
    spark: SparkSession, sf_dir: str, table: str, encoded: str
) -> DataFrame:
    """Encoded query with dot-walking: a term whose field contains '.'
    traverses reference fields (`o_custkey.c_nationkey.n_name=NATION_7`
    reads "orders whose customer's nation is NATION_7") and compiles to
    a chain of LEFT SEMI joins against the referenced tables — the
    result keeps the base table's schema and cardinality exactly (semi
    join can never duplicate rows, and every hop is many-to-one
    anyway).

    Scale shape: predicates evaluate on the LEAF table first (pushed to
    its scan), then the surviving keys semi-join back down the chain;
    reference tables are dims, so every hop is a broadcast semi join —
    the base table never shuffles. Dot-walk terms are AND-level only
    (a walk inside an ^OR group raises — same restriction the platform
    imposes on list queries vs GlideRecord joins [SN-API])."""
    from ..sources.tables import scan as _scan

    def walk(out: DataFrame, group: list[Term]) -> DataFrame:
        if len(group) > 1:
            raise ValueError(
                "dot-walk terms must be top-level AND terms, not ^OR "
                f"alternatives: {[t.field for t in group]}"
            )
        (term,) = group
        steps, leaf_table, leaf_field = _walk_steps(table, term.field)
        keys = _scan(spark, sf_dir, leaf_table).filter(
            _term_to_column(Term(leaf_field, term.op, term.value))
        )
        # fold the surviving keys back down the chain, deepest first
        for src_table, ref_field, dst_key in reversed(steps[1:]):
            keys = _scan(spark, sf_dir, src_table).join(
                F.broadcast(keys.select(dst_key).distinct()),
                F.col(ref_field) == F.col(dst_key),
                "left_semi",
            )
        _, ref_field, dst_key = steps[0]
        return out.join(
            F.broadcast(keys.select(dst_key).distinct()),
            F.col(ref_field) == F.col(dst_key),
            "left_semi",
        )

    return _compile(_scan(spark, sf_dir, table), encoded, walk)


@query(
    "p4_encoded_dotwalk",
    oracle="""
    SELECT o.* FROM orders o
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    WHERE n.n_name = 'NATION_7' AND o.o_totalprice > 100000
    """,
)
def p4_encoded_dotwalk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dot-walk encoded query (§3.2): 2-hop reference traversal
    compiled to broadcast semi joins; base-table schema preserved."""
    return compile_encoded_dotwalk(
        spark,
        sf_dir,
        "orders",
        "o_custkey.c_nationkey.n_name=NATION_7^o_totalprice>100000",
    )


def dotwalk_select(
    spark: SparkSession, sf_dir: str, table: str, cols: list[str]
) -> DataFrame:
    """Dot-walk PROJECTION (display-value resolution [SN-API]): each
    dotted path joins through REFERENCE_FIELDS and lands as a column
    named with '.'→'_' (``o_custkey.c_name`` → ``o_custkey_c_name``).

    Every hop is many-to-one onto a dim, so the joins are broadcast
    LEFT joins (missing references yield NULL display values, matching
    platform behavior) and base cardinality is preserved. Chains
    sharing a prefix reuse one join: the customer table is joined once
    for both ``o_custkey.c_name`` and ``o_custkey.c_nationkey.n_name``."""
    from ..sources.tables import scan as _scan

    base = _scan(spark, sf_dir, table)
    out = base
    # chain key -> (alias, leaf key column name); one join per distinct chain
    joined: dict[tuple, str] = {}
    selects = []
    for path in cols:
        if "." not in path:
            selects.append(F.col(path))
            continue
        steps, leaf_table, leaf_field = _walk_steps(table, path)
        prefix_alias = None
        for depth in range(len(steps)):
            chain = tuple(steps[: depth + 1])
            if chain not in joined:
                src_table, ref_field, dst_key = steps[depth]
                dst_table = (
                    leaf_table
                    if depth == len(steps) - 1
                    else steps[depth + 1][0]
                )
                alias = "__w" + "_".join(s[1] for s in chain)
                ref = _scan(spark, sf_dir, dst_table).alias(alias)
                left_key = (
                    F.col(ref_field)
                    if depth == 0
                    else F.col(f"{prefix_alias}.{ref_field}")
                )
                out = out.join(
                    F.broadcast(ref), left_key == F.col(f"{alias}.{dst_key}"), "left"
                )
                joined[chain] = alias
            prefix_alias = joined[chain]
        selects.append(
            F.col(f"{prefix_alias}.{leaf_field}").alias(path.replace(".", "_"))
        )
    return out.select(*selects)


@query(
    "p5_dotwalk_select",
    oracle="""
    SELECT o.o_orderkey,
           o.o_totalprice,
           c.c_name AS o_custkey_c_name,
           n.n_name AS o_custkey_c_nationkey_n_name
    FROM orders o
    LEFT JOIN customer c ON o.o_custkey = c.c_custkey
    LEFT JOIN nation n ON c.c_nationkey = n.n_nationkey
    """,
)
def p5_dotwalk_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dot-walk display-value projection (p5): one shared customer join
    serves both walked columns; nation hangs off it. Base row count is
    exactly preserved (LEFT joins onto unique-keyed dims)."""
    return dotwalk_select(
        spark,
        sf_dir,
        "orders",
        [
            "o_orderkey",
            "o_totalprice",
            "o_custkey.c_name",
            "o_custkey.c_nationkey.n_name",
        ],
    )


def aggregate_encoded(
    df: DataFrame,
    query: str | None = None,
    group_by: list[str] | None = None,
    count: bool = True,
    sum_fields: list[str] | None = None,
    avg_fields: list[str] | None = None,
    min_fields: list[str] | None = None,
    max_fields: list[str] | None = None,
    having: str | None = None,
    order_by: list[tuple[str, bool]] | None = None,
) -> DataFrame:
    """The Aggregate/Stats-API surface (public ServiceNow
    ``/api/now/stats`` parameter model [SN-API]): an encoded row query
    (sysparm_query), GROUP BY fields (sysparm_group_by), COUNT /
    SUM / AVG / MIN / MAX field lists, a HAVING term in the same
    encoded-term grammar over the aggregated columns
    (sysparm_having), and result ordering — compiled to one
    filter→groupBy→agg→filter→sort Catalyst plan.

    Column naming contract: ``row_count``, ``sum_<f>``, ``avg_<f>``,
    ``min_<f>``, ``max_<f>`` — HAVING terms reference these names.
    Money-parity policy (numeric.py): SUM folds DECIMAL(18,2) and AVG
    is that exact sum divided by the count in double, so both engines
    agree bit-exactly on 2dp money fields.

    100 TB notes: the row predicate pushes to the scan (it is compiled
    BEFORE the aggregate); the aggregate is one partial-agg shuffle on
    the group keys; HAVING filters group-cardinality rows; ordering
    group-cardinality output is driver-cheap."""
    from ..operators.numeric import dec

    out = compile_encoded(df, query) if query else df
    aggs: list[Column] = []
    if count:
        aggs.append(F.count(F.lit(1)).alias("row_count"))
    for f in sum_fields or []:
        aggs.append(F.sum(dec(f)).cast("double").alias(f"sum_{f}"))
    for f in avg_fields or []:
        aggs.append(
            (F.sum(dec(f)).cast("double") / F.count(F.lit(1)))
            .cast("double")
            .alias(f"avg_{f}")
        )
    for f in min_fields or []:
        aggs.append(F.min(f).alias(f"min_{f}"))
    for f in max_fields or []:
        aggs.append(F.max(f).alias(f"max_{f}"))
    if not aggs:
        raise ValueError("aggregate_encoded: no aggregates requested")
    grouped = (
        out.groupBy(*group_by).agg(*aggs) if group_by else out.agg(*aggs)
    )
    if having:
        grouped = grouped.filter(_term_to_column(parse_term(having)))
    if order_by:
        grouped = grouped.orderBy(
            *[F.col(c).desc() if d else F.col(c).asc() for c, d in order_by]
        )
    return grouped


@query(
    "p6_encoded_agg",
    oracle="""
    SELECT o_orderpriority,
           COUNT(*) AS row_count,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
             AS sum_o_totalprice,
           CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
                / COUNT(*) AS DOUBLE) AS avg_o_totalprice,
           MIN(o_totalprice) AS min_o_totalprice,
           MAX(o_totalprice) AS max_o_totalprice
    FROM orders
    WHERE o_orderstatus = 'F'
    GROUP BY o_orderpriority
    HAVING COUNT(*) > 100
    ORDER BY row_count DESC, o_orderpriority
    """,
)
def p6_encoded_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Aggregate-API path (p6): the Stats-API parameter model compiled
    end-to-end — encoded row filter, group-by, COUNT/SUM/AVG/MIN/MAX,
    encoded HAVING over the aggregate columns, ordered output. The
    domain's second query surface (the REST Aggregate API) alongside
    the Table-API encoded filters (p1–p5)."""
    o = scan(spark, sf_dir, "orders")
    return aggregate_encoded(
        o,
        query="o_orderstatus=F",
        group_by=["o_orderpriority"],
        count=True,
        sum_fields=["o_totalprice"],
        avg_fields=["o_totalprice"],
        min_fields=["o_totalprice"],
        max_fields=["o_totalprice"],
        having="row_count>100",
        order_by=[("row_count", True), ("o_orderpriority", False)],
    )


@query(
    "p7_sql_passthrough",
    oracle="""
    SELECT n_name AS nation, o_orderpriority AS priority,
           COUNT(*) AS n_orders,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
             AS total_price
    FROM orders
    JOIN customer ON c_custkey = o_custkey
    JOIN nation   ON n_nationkey = c_nationkey
    WHERE o_orderdate >= TIMESTAMP '1999-01-01'
    GROUP BY n_name, o_orderpriority
    ORDER BY nation, priority
    """,
)
def p7_sql_passthrough(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Raw SQL entry point (p7): the engine's third query surface —
    ANSI SQL strings over DataFrames bound into the text
    (`spark.sql(text, orders=df)`, no session view left behind), for the
    users who bypass both the encoded-query grammar (p1–p5) and the
    DataFrame API. The SAME Catalyst plan space as the DataFrame
    build: the optimizer sees one logical plan regardless of surface,
    so every plan gate (pushdown, broadcast, partial agg) holds here
    too.

    100 TB notes: identical to the equivalent DataFrame query — SQL is
    a frontend, not an execution path; dims broadcast, the fact
    shuffles once on the groupBy keys after partial aggregation."""
    return spark.sql(
        """
        SELECT n_name AS nation, o_orderpriority AS priority,
               COUNT(*) AS n_orders,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
                 AS total_price
        FROM {orders}
        JOIN {customer} ON c_custkey = o_custkey
        JOIN {nation}   ON n_nationkey = c_nationkey
        WHERE o_orderdate >= TIMESTAMP '1999-01-01'
        GROUP BY n_name, o_orderpriority
        ORDER BY nation, priority
        """,
        **{t: scan(spark, sf_dir, t) for t in ("orders", "customer", "nation")},
    )


@query(
    "p9_sql_recursive",
    oracle="""
    WITH RECURSIVE months(m) AS (
        SELECT TIMESTAMP '1995-01-01'
        UNION ALL
        SELECT m + INTERVAL 1 MONTH FROM months
        WHERE m < TIMESTAMP '2001-12-01'
    )
    SELECT months.m AS month_start,
           CAST(COUNT(o_orderkey) AS BIGINT) AS n_orders
    FROM months
    LEFT JOIN orders ON date_trunc('month', o_orderdate) = months.m
    GROUP BY months.m
    """,
)
def p9_sql_recursive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Native recursive CTE (p9): Spark 4's WITH RECURSIVE — the
    calendar-spine pattern every warehouse report needs (a month axis
    with NO gaps, so zero-activity months appear as 0 instead of
    vanishing; a bare GROUP BY month silently drops them). c11/c12
    express recursion as driver-side DataFrame loops; this is the
    same fixpoint machinery surfaced through plain SQL — the fourth
    frontend capability proof (encoded / DataFrame / SQL / recursive
    SQL), one optimizer under all of them.

    100 TB notes: the recursion generates the 84-row spine — O(depth)
    tiny steps, then ONE broadcast of the spine into the fact join
    (84 rows vs 150k orders: Catalyst broadcasts the spine side); the
    orders aggregate partial-aggs on month before the exchange. The
    recursive side of a spine join must always be the broadcast side
    — recursing over the FACT is the antipattern."""
    return spark.sql(
        """
        WITH RECURSIVE months(m) AS (
            SELECT TIMESTAMP '1995-01-01'
            UNION ALL
            SELECT m + INTERVAL 1 MONTH FROM months
            WHERE m < TIMESTAMP '2001-12-01'
        )
        SELECT months.m AS month_start,
               COUNT(o_orderkey) AS n_orders
        FROM months
        LEFT JOIN {orders} ON date_trunc('MONTH', o_orderdate) = months.m
        GROUP BY months.m
        """,
        orders=scan(spark, sf_dir, "orders"),
    )


@query(
    "b18_lateral_topk",
    oracle="""
    SELECT o.o_orderkey, l.l_linenumber, l.l_extendedprice
    FROM orders o, LATERAL (
        SELECT l_linenumber, l_extendedprice
        FROM lineitem
        WHERE l_orderkey = o.o_orderkey
        ORDER BY l_extendedprice DESC, l_linenumber
        LIMIT 2
    ) l
    WHERE o.o_orderdate >= TIMESTAMP '2001-06-01'
    """,
)
def b18_lateral_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated LATERAL subquery (b18): per-order top-2 priciest
    lineitems via a lateral ORDER BY … LIMIT — the "for each row,
    query something about it" form analysts write naturally; Spark 4
    decorrelates it into a join + per-key windowed rank instead of
    executing the subquery N times (the plan is f4's top-k-per-group
    shape, arrived at from SQL).

    100 TB notes: after decorrelation both sides co-partition on the
    orderkey; the pushed date filter prunes the outer before the
    join. A literal row-at-a-time lateral execution would be 150k
    subqueries — the decorrelation IS the scalability, and the parity
    gate proves semantics survived it."""
    return spark.sql(
        """
        SELECT o.o_orderkey, l.l_linenumber, l.l_extendedprice
        FROM {orders} o, LATERAL (
            SELECT l_linenumber, l_extendedprice
            FROM {lineitem}
            WHERE l_orderkey = o.o_orderkey
            ORDER BY l_extendedprice DESC, l_linenumber
            LIMIT 2
        ) l
        WHERE o.o_orderdate >= TIMESTAMP '2001-06-01'
        """,
        orders=scan(spark, sf_dir, "orders"),
        lineitem=scan(spark, sf_dir, "lineitem"),
    )


@query(
    "p10_text_search",
    oracle="""
    SELECT o_orderkey, o_orderstatus, o_orderpriority, o_totalprice
    FROM orders
    WHERE (lower(o_orderstatus) LIKE '%urgent%'
           OR lower(o_orderpriority) LIKE '%urgent%')
      AND o_totalprice > 250000
    """,
)
def p10_text_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global text search (p10): the platform's `123TEXTQUERY321`
    pseudo-field — `123TEXTQUERY321=urgent^o_totalprice>250000`
    compiles to a case-insensitive contains across EVERY string column
    OR-folded, AND-composed with the rest of the encoded query. This
    is how a user's list-view search box actually queries [SN-API];
    the compiler resolves the column set from the DataFrame schema at
    compile time, so the same string works on any table.

    100 TB notes: the OR-of-contains is a single codegen'd predicate
    evaluated scan-side — no index is simulated; on a real deployment
    this pairs with a14/a22 layouts or an external text index, and
    the compiled form is exactly what you push to either."""
    o = scan(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_orderpriority", "o_totalprice"
    )
    return compile_encoded(
        o, "123TEXTQUERY321=URGENT^o_totalprice>250000"
    )


@query(
    "b19_scalar_subquery",
    oracle="""
    SELECT o.o_orderkey, o.o_totalprice,
           round(o.o_totalprice
                 / (SELECT MAX(o2.o_totalprice) FROM orders o2
                    WHERE o2.o_custkey = o.o_custkey), 6)
             AS share_of_cust_max
    FROM orders o
    WHERE o.o_orderdate >= TIMESTAMP '2001-06-01'
    """,
)
def b19_scalar_subquery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated scalar subquery (b19): each order's price as a share
    of ITS customer's maximum — the "compare each row to a statistic
    about its group" form analysts write as a subselect. Catalyst
    decorrelates it into one per-customer MAX aggregate joined back —
    evaluated once per customer, not once per row (150k subquery
    re-executions at this SF, billions at 100 TB, is what the naive
    reading costs). Completes the subquery surface: b13 EXISTS →
    semi/anti, b18 LATERAL → join+rank, this scalar → agg+join.

    Parity: identical double division, 6dp round; the outer date
    filter pushes to the scan while the aggregate still covers ALL
    the customer's orders (the correlation is on the UNFILTERED
    table — a subtle correctness trap the oracle pins)."""
    return spark.sql(
        """
        SELECT o.o_orderkey, o.o_totalprice,
               round(o.o_totalprice
                     / (SELECT MAX(o2.o_totalprice) FROM {orders} o2
                        WHERE o2.o_custkey = o.o_custkey), 6)
                 AS share_of_cust_max
        FROM {orders} o
        WHERE o.o_orderdate >= TIMESTAMP '2001-06-01'
        """,
        orders=scan(spark, sf_dir, "orders"),
    )


@query(
    "p11_parameterized_sql",
    oracle="""
    SELECT o_orderpriority,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
             AS revenue
    FROM orders
    WHERE o_orderdate >= TIMESTAMP '2001-01-01'
      AND o_totalprice >= 150000.0
      AND o_orderstatus = 'O'
    GROUP BY o_orderpriority
    """,
)
def p11_parameterized_sql(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Parameterized SQL (p11): `spark.sql(query, args={...})` — the
    values travel as TYPED PARAMETERS, never spliced into the query
    text. For this engine that's a security property, not sugar: the
    encoded-query surface (p1–p5) takes user input by definition, and
    its REST pushdown already refuses metacharacter values precisely
    because string splicing can't be made safe (rest_source's guard);
    the parameter marker is the principled fix at the SQL layer — a
    value containing `' OR 1=1--` is just a string that matches no
    status.

    100 TB notes: identical plan to the literal query (parameters
    bind during parsing — pushdown, pruning, AQE all unaffected);
    parameter reuse with different values re-plans cheaply because
    the parse tree is cache-shaped, which is exactly how a
    dashboard's repeated filter queries should hit the engine."""
    return spark.sql(
        """
        SELECT o_orderpriority,
               COUNT(*) AS n_orders,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
                 AS revenue
        FROM {orders}
        WHERE o_orderdate >= :lo_date
          AND o_totalprice >= :min_price
          AND o_orderstatus = :status
        GROUP BY o_orderpriority
        """,
        args={
            "lo_date": datetime.datetime(2001, 1, 1),
            "min_price": 150000.0,
            "status": "O",
        },
        orders=scan(spark, sf_dir, "orders"),
    )
