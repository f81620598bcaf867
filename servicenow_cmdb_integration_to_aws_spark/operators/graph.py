"""Graph analytics beyond reachability (SURVEY §2.C cont.): c16
PageRank over the customer→supplier shipment graph — the influence /
centrality primitive that complements the closure (c11/c12) and
connected-components (j16) coverage.

Parity policy: fixed iteration count unrolled identically in the
DuckDB oracle (the j37 pattern); per-iteration ranks rounded to 12dp —
per-node contribution sums accumulate in engine-specific order, but
their drift (~1e-18 abs at rank scale 1e-3..1e-5) is ten orders below
the 5e-13 rounding boundary, so both engines feed bit-identical ranks
into the next iteration.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..registry import query
from ..sources.tables import scan
from .fixpoint import _MAD, cut_lineage

_DAMP = 0.85
_PR_ITERS = 2


def _pagerank_oracle() -> str:
    """Unrolled-_PR_ITERS DuckDB mirror of c16 (same graph, damping,
    rounding), generated from the same constants."""
    sql = """
    WITH edges AS (
        SELECT DISTINCT 'C' || o_custkey AS src, 'S' || l_suppkey AS dst
        FROM orders JOIN lineitem ON l_orderkey = o_orderkey
    ),
    nodes AS (
        SELECT 'C' || c_custkey AS node FROM customer
        UNION ALL
        SELECT 'S' || s_suppkey AS node FROM supplier
    ),
    n1 AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM nodes),
    outdeg AS (SELECT src, CAST(COUNT(*) AS DOUBLE) AS deg
               FROM edges GROUP BY src),
    pr0 AS (SELECT node, (SELECT 1.0 / n FROM n1) AS pr FROM nodes)"""
    prev = "pr0"
    for it in range(1, _PR_ITERS + 1):
        sql += f""",
    dang{it} AS (
        SELECT COALESCE(SUM(p.pr), 0.0) AS mass
        FROM {prev} p LEFT JOIN outdeg o ON o.src = p.node
        WHERE o.src IS NULL
    ),
    contrib{it} AS (
        SELECT e.dst AS node, SUM(p.pr / o.deg) AS c
        FROM edges e
        JOIN {prev} p ON p.node = e.src
        JOIN outdeg o ON o.src = e.src
        GROUP BY e.dst
    ),
    pr{it} AS (
        SELECT nd.node,
               round((1.0 - {_DAMP}) / n1.n
                     + {_DAMP} * (COALESCE(c.c, 0.0)
                                  + (SELECT mass FROM dang{it}) / n1.n),
                     12) AS pr
        FROM nodes nd LEFT JOIN contrib{it} c ON c.node = nd.node, n1
    )"""
        prev = f"pr{it}"
    sql += f"""
    SELECT node, pr FROM pr{_PR_ITERS}
    ORDER BY pr DESC, node LIMIT 20
    """
    return sql


@query("c16_pagerank", oracle=_pagerank_oracle())
def c16_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank (c16): damping 0.85, 2 unrolled power iterations over
    the bipartite customer→supplier shipment graph (edge = "customer
    ordered from supplier at least once"), dangling mass (suppliers
    have no out-edges) redistributed uniformly; top-20 by final rank —
    the classic "which suppliers matter most" centrality read.

    Determinism: fixed iteration count (static plan, no driver-side
    convergence actions); per-iteration ranks rounded 12dp (module
    docstring); final ordering tie-broken on the node id.

    100 TB notes: the edge list derives once — orders⋈lineitem on the
    orderkey (the only fact-fact shuffle) then a distinct on the pair;
    per iteration the rank table joins edges co-partitioned on src
    (edges carry deg pre-joined ONCE outside the loop, so the loop
    body is join → dst-keyed partial-agg sum → map), and the dangling
    mass is a 1-row aggregate crossJoin-broadcast — never a driver
    collect. State per iteration is node-cardinality, edge-cardinality
    work partial-aggs before the dst exchange. At petabyte scale the
    same loop runs with persisted rank tables and AQE-coalesced
    exchanges; a convergence-checked variant adds one 1-row delta
    aggregate per iteration."""
    o = scan(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    li = scan(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    # Node ids are ENCODED LONGS through the whole iteration —
    # custkey*2 for customers, suppkey*2+1 for suppliers (injective,
    # namespaces disjoint by parity) — decoded to the "C…"/"S…"
    # string form once per OUTPUT row. Every distinct/join/agg then
    # hashes and shuffles fixed 8-byte longs instead of variable-width
    # strings (guide §2.3 narrower types). Rank math is untouched:
    # groups map 1:1, the 12dp rounding policy absorbs sum-order
    # drift exactly as before. r14 A/B at sf0.1, interleaved medians:
    # 5.07 s → 3.79 s, results EQUAL.
    edges = (
        o.join(li, F.col("o_orderkey") == F.col("l_orderkey"))
        .select(
            (F.col("o_custkey") * 2).alias("src"),
            (F.col("l_suppkey") * 2 + 1).alias("dst"),
        )
        .distinct()
    )
    nodes = (
        scan(spark, sf_dir, "customer")
        .select((F.col("c_custkey") * 2).alias("node"))
        .unionByName(
            scan(spark, sf_dir, "supplier").select(
                (F.col("s_suppkey") * 2 + 1).alias("node")
            )
        )
    )
    n1 = nodes.agg(F.count(F.lit(1)).cast("double").alias("n"))
    outdeg = edges.groupBy("src").agg(F.count(F.lit(1)).cast("double").alias("deg"))
    # deg rides the edge list once, outside the loop. NOTE (measured):
    # do NOT eagerly checkpoint these loop invariants here — the whole
    # query is ONE job, so AQE already serves every repeat of the edge
    # subtree from a ReusedExchange; eager checkpoints add job
    # barriers and blocked that reuse (A/B at sf0.1: 3.8 s → 4.5 s
    # warm). The persist/checkpoint discipline pays off only when the
    # loop is MULTIPLE jobs (c12's isEmpty fixpoint probes, c22's
    # eager rounds) or iterations are many enough that plan size
    # itself becomes the cost.
    ewd = edges.join(outdeg, "src")
    pr = nodes.crossJoin(F.broadcast(n1)).select(
        "node", (F.lit(1.0) / F.col("n")).alias("pr")
    )
    for _ in range(_PR_ITERS):
        dang = (
            pr.join(outdeg, pr["node"] == outdeg["src"], "left_anti")
            .agg(F.coalesce(F.sum("pr"), F.lit(0.0)).alias("mass"))
        )
        contrib = (
            ewd.join(pr, ewd["src"] == pr["node"])
            .groupBy("dst")
            .agg(F.sum(F.col("pr") / F.col("deg")).alias("c"))
        )
        pr = (
            nodes.join(contrib, nodes["node"] == contrib["dst"], "left")
            .crossJoin(F.broadcast(n1))
            .crossJoin(F.broadcast(dang))
            .select(
                "node",
                F.round(
                    (1.0 - _DAMP) / F.col("n")
                    + _DAMP
                    * (F.coalesce(F.col("c"), F.lit(0.0)) + F.col("mass") / F.col("n")),
                    12,
                ).alias("pr"),
            )
        )
    out = pr.select(
        F.when(
            F.col("node") % 2 == 0,
            F.concat(F.lit("C"), F.expr("node div 2").cast("string")),
        )
        .otherwise(
            F.concat(F.lit("S"), F.expr("(node - 1) div 2").cast("string"))
        )
        .alias("node"),
        "pr",
    )
    return out.orderBy(F.col("pr").desc(), "node").limit(20)


#: c17 scopes the co-supply graph to one order month: projection
#: graphs densify quadratically with window size, so production runs
#: window the projection and union counts across windows.
_TRI_LO, _TRI_HI = "1995-03-01", "1995-04-01"


@query(
    "c17_triangle_count",
    oracle=f"""
    WITH o AS (
        SELECT o_orderkey FROM orders
        WHERE o_orderdate >= TIMESTAMP '{_TRI_LO}'
          AND o_orderdate <  TIMESTAMP '{_TRI_HI}'
    ),
    lo AS (
        SELECT l.l_orderkey, l.l_suppkey
        FROM lineitem l JOIN o ON l.l_orderkey = o.o_orderkey
    ),
    pairs AS (
        SELECT DISTINCT x.l_suppkey AS a, y.l_suppkey AS b
        FROM lo x JOIN lo y
          ON x.l_orderkey = y.l_orderkey AND x.l_suppkey < y.l_suppkey
    ),
    tri AS (
        SELECT e1.a, e1.b, e2.b AS c
        FROM pairs e1
        JOIN pairs e2 ON e2.a = e1.b
        JOIN pairs e3 ON e3.a = e1.a AND e3.b = e2.b
    ),
    nodes AS (
        SELECT a AS node FROM tri
        UNION ALL SELECT b FROM tri
        UNION ALL SELECT c FROM tri
    )
    SELECT node, COUNT(*) AS n_tri
    FROM nodes GROUP BY node
    ORDER BY n_tri DESC, node LIMIT 20
    """,
)
def c17_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-node triangle counting (c17): suppliers are linked when
    they co-supply an order in the scoped month; a triangle is three
    mutually-linked suppliers. Top-20 nodes by triangle membership —
    the clustering-coefficient numerator, the classic community /
    anomaly signal on the co-occurrence graph (c16 ranks influence;
    this measures cohesion).

    Each triangle a<b<c is enumerated exactly ONCE via the oriented
    edge list (every edge stored low->high key), then exploded to its
    three corners for the per-node count.

    100 TB notes: orientation is THE triangle-counting scale lever —
    the candidate join e1(a,b)⋈e2(b,c) fans out by the out-degree of
    b, and orienting edges toward the higher-degree endpoint (here:
    key order, degree order at production scale) caps that fan-out at
    O(sqrt(|E|)) per node (the Ortmann/Brandes bound). The month
    window bounds the projection's densification; the pair list
    (|E| << lineitem) broadcasts for e2/e3, so the only fact-sized
    shuffle is the orderkey self-join that builds it. Counting rides
    partial aggs; no global sort (TakeOrderedAndProject).

    Size assumption, stated: the two explicit broadcasts here — the
    month-scoped orderkey list and the supplier-pair edge list — are
    node/edge-universe-sized (dims-like), not fact-sized; that holds
    while the supplier graph fits executor memory (the usual triangle
    -counting regime). On a corpus where it doesn't, DROP the hints:
    both joins are equi-joins that degrade to co-keyed shuffles, and
    the orientation bound on the e1⋈e2 fan-out is what actually
    protects the pair space — it is independent of join strategy."""
    o = (
        scan(spark, sf_dir, "orders")
        .filter(
            (F.col("o_orderdate") >= F.lit(_TRI_LO).cast("timestamp"))
            & (F.col("o_orderdate") < F.lit(_TRI_HI).cast("timestamp"))
        )
        .select("o_orderkey")
    )
    li = scan(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    lo = li.join(F.broadcast(o), li["l_orderkey"] == o["o_orderkey"]).select(
        "l_orderkey", "l_suppkey"
    )
    x, y = lo.alias("x"), lo.alias("y")
    pairs = (
        x.join(
            y,
            (F.col("x.l_orderkey") == F.col("y.l_orderkey"))
            & (F.col("x.l_suppkey") < F.col("y.l_suppkey")),
        )
        .select(F.col("x.l_suppkey").alias("a"), F.col("y.l_suppkey").alias("b"))
        .distinct()
    )
    e1, e2, e3 = pairs.alias("e1"), pairs.alias("e2"), pairs.alias("e3")
    tri = (
        e1.join(F.broadcast(e2), F.col("e2.a") == F.col("e1.b"))
        .join(
            F.broadcast(e3),
            (F.col("e3.a") == F.col("e1.a")) & (F.col("e3.b") == F.col("e2.b")),
            "left_semi",
        )
        .select(F.col("e1.a").alias("a"), F.col("e1.b").alias("b"), F.col("e2.b").alias("c"))
    )
    nodes = (
        tri.select(F.col("a").alias("node"))
        .unionByName(tri.select(F.col("b").alias("node")))
        .unionByName(tri.select(F.col("c").alias("node")))
    )
    return (
        nodes.groupBy("node")
        .agg(F.count(F.lit(1)).alias("n_tri"))
        .orderBy(F.col("n_tri").desc(), "node")
        .limit(20)
    )


#: c19 scopes co-purchase similarity to one year of orders
_C19_LO, _C19_HI = "1995-01-01", "1996-01-01"
_C19_MIN_CO = 2  # pairs sharing a single customer are noise


@query(
    "c19_cooccur_similarity",
    oracle=f"""
    WITH edges AS (
        SELECT DISTINCT o_custkey AS c, l_suppkey AS s
        FROM orders JOIN lineitem ON l_orderkey = o_orderkey
        WHERE o_orderdate >= TIMESTAMP '{_C19_LO}'
          AND o_orderdate <  TIMESTAMP '{_C19_HI}'
    ),
    deg AS (SELECT s, COUNT(*) AS d FROM edges GROUP BY s),
    co AS (
        SELECT a.s AS s1, b.s AS s2, COUNT(*) AS co
        FROM edges a JOIN edges b ON a.c = b.c AND a.s < b.s
        GROUP BY a.s, b.s
        HAVING COUNT(*) >= {_C19_MIN_CO}
    )
    SELECT s1, s2, CAST(co AS BIGINT) AS n_shared,
           round(CAST(co AS DOUBLE) / (d1.d + d2.d - co), 6) AS jaccard
    FROM co JOIN deg d1 ON d1.s = co.s1 JOIN deg d2 ON d2.s = co.s2
    ORDER BY jaccard DESC, s1, s2 LIMIT 20
    """,
)
def c19_cooccur_similarity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Item-item co-occurrence similarity (c19): supplier pairs ranked
    by Jaccard over their customer sets in the scoped year — the
    collaborative-filtering / "related items" primitive (c16 ranks
    global influence, c17 counts 3-cliques; this scores 2-paths).

    Parity: counts and degrees are exact integers; the Jaccard
    co/(d1+d2-co) evaluates once per surviving pair in double,
    6dp-rounded; min-co floor keeps single-shared-customer noise out.

    100 TB notes: the (customer, supplier) edge list distincts down
    BEFORE pairing, so the self-join fan-out is per-customer distinct
    breadth (catalog behavior, not order volume); the pair aggregate
    partial-aggs into (s1,s2) keys bounded by catalog^2, not events.
    A whale customer touching everything is the known hazard — the
    production form caps per-customer breadth with the j12 chunked
    triangle join; degrees broadcast (catalog-sized); top-K is
    TakeOrderedAndProject. The distinct edge list feeds four lineage
    consumers (self-join a/b + deg via d1/d2) — a lazy persist
    materializes the join+distinct once instead of four times (the
    lineage-duplication class; 12 parquet scans -> 2, it is an
    int-pair table with no payload so the copy is cheap at any SF)."""
    o = (
        scan(spark, sf_dir, "orders")
        .filter(
            (F.col("o_orderdate") >= F.lit(_C19_LO).cast("timestamp"))
            & (F.col("o_orderdate") < F.lit(_C19_HI).cast("timestamp"))
        )
        .select("o_orderkey", "o_custkey")
    )
    li = scan(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    edges = (
        o.join(li, F.col("o_orderkey") == F.col("l_orderkey"))
        .select(F.col("o_custkey").alias("c"), F.col("l_suppkey").alias("s"))
        .distinct()
        .persist(_MAD)
    )
    deg = edges.groupBy("s").agg(F.count(F.lit(1)).alias("d"))
    a, b = edges.alias("a"), edges.alias("b")
    co = (
        a.join(b, (F.col("a.c") == F.col("b.c")) & (F.col("a.s") < F.col("b.s")))
        .groupBy(F.col("a.s").alias("s1"), F.col("b.s").alias("s2"))
        .agg(F.count(F.lit(1)).alias("n_shared"))
        .filter(F.col("n_shared") >= _C19_MIN_CO)
    )
    d1 = deg.select(F.col("s").alias("s1"), F.col("d").alias("d1"))
    d2 = deg.select(F.col("s").alias("s2"), F.col("d").alias("d2"))
    return (
        co.join(F.broadcast(d1), "s1")
        .join(F.broadcast(d2), "s2")
        .select(
            "s1",
            "s2",
            "n_shared",
            F.round(
                F.col("n_shared").cast("double")
                / (F.col("d1") + F.col("d2") - F.col("n_shared")),
                6,
            ).alias("jaccard"),
        )
        .orderBy(F.col("jaccard").desc(), "s1", "s2")
        .limit(20)
    )


_HITS_ITERS = 2


def _hits_oracle() -> str:
    """Unrolled DuckDB mirror of c21 (same edges, max-normalization,
    12dp rounding), generated from _HITS_ITERS."""
    sql = """
    WITH edges AS (
        SELECT DISTINCT o_custkey AS c, l_suppkey AS s
        FROM orders JOIN lineitem ON l_orderkey = o_orderkey
    ),
    h0 AS (SELECT DISTINCT c, 1.0 AS h FROM edges)"""
    prev_h = "h0"
    for it in range(1, _HITS_ITERS + 1):
        sql += f""",
    ar{it} AS (
        SELECT e.s, round(SUM(p.h), 12) AS a
        FROM edges e JOIN {prev_h} p ON p.c = e.c
        GROUP BY e.s
    ),
    a{it} AS (
        SELECT s, round(a / (SELECT MAX(a) FROM ar{it}), 12) AS a
        FROM ar{it}
    ),
    hr{it} AS (
        SELECT e.c, round(SUM(x.a), 12) AS h
        FROM edges e JOIN a{it} x ON x.s = e.s
        GROUP BY e.c
    ),
    h{it} AS (
        SELECT c, round(h / (SELECT MAX(h) FROM hr{it}), 12) AS h
        FROM hr{it}
    )"""
        prev_h = f"h{it}"
    sql += f"""
    SELECT s AS supplier, a AS authority
    FROM a{_HITS_ITERS}
    ORDER BY authority DESC, supplier LIMIT 20
    """
    return sql


@query("c21_hits", oracle=_hits_oracle())
def c21_hits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HITS hub/authority (c21): Kleinberg's mutual-reinforcement
    iteration on the bipartite customer→supplier graph — a supplier
    is authoritative when good hubs (broad, discerning customers) buy
    from it; the complement of c16's PageRank (flow centrality vs
    endorsement centrality). Top-20 authorities after 2 unrolled
    iterations.

    Determinism: scores max-normalize each iteration (MAX is
    order-free-exact, unlike L2-norm sums) and round 12dp after every
    aggregate (the c16 policy: sum-order drift ~1e-18 ≪ the 5e-13
    boundary) so both engines iterate in bit-lockstep.

    100 TB notes: each half-iteration is one co-keyed join + one
    partial-aggregable sum over the edge list (score tables are
    node-sized, broadcast); the max is a 1-row agg
    crossJoin-broadcast — no driver collect, fixed plan depth."""
    o = scan(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    li = scan(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    edges = (
        o.join(li, F.col("o_orderkey") == F.col("l_orderkey"))
        .select(F.col("o_custkey").alias("c"), F.col("l_suppkey").alias("s"))
        .distinct()
    )
    h = edges.select("c").distinct().withColumn("h", F.lit(1.0))
    a = None
    for _ in range(_HITS_ITERS):
        ar = (
            edges.join(F.broadcast(h), "c")
            .groupBy("s")
            .agg(F.round(F.sum("h"), 12).alias("a"))
        )
        amax = ar.agg(F.max("a").alias("m"))
        a = ar.crossJoin(F.broadcast(amax)).select(
            "s", F.round(F.col("a") / F.col("m"), 12).alias("a")
        )
        hr = (
            edges.join(F.broadcast(a), "s")
            .groupBy("c")
            .agg(F.round(F.sum("a"), 12).alias("h"))
        )
        hmax = hr.agg(F.max("h").alias("m"))
        h = hr.crossJoin(F.broadcast(hmax)).select(
            "c", F.round(F.col("h") / F.col("m"), 12).alias("h")
        )
    return (
        a.select(F.col("s").alias("supplier"), F.col("a").alias("authority"))
        .orderBy(F.col("authority").desc(), "supplier")
        .limit(20)
    )


_KCORE_K = 25
_KCORE_ROUNDS = 2


def _kcore_oracle() -> str:
    """Unrolled-_KCORE_ROUNDS DuckDB mirror of c22."""
    sql = f"""
    WITH e0 AS (
        SELECT DISTINCT o_custkey AS a, l_suppkey AS b
        FROM orders JOIN lineitem ON l_orderkey = o_orderkey
    ),
    edges0 AS (
        SELECT 'C' || a AS u, 'S' || b AS v FROM e0
        UNION ALL
        SELECT 'S' || b AS u, 'C' || a AS v FROM e0
    )"""
    prev = "edges0"
    for it in range(1, _KCORE_ROUNDS + 1):
        sql += f""",
    deg{it} AS (SELECT u, COUNT(*) AS d FROM {prev} GROUP BY u),
    keep{it} AS (SELECT u FROM deg{it} WHERE d >= {_KCORE_K}),
    edges{it} AS (
        SELECT e.u, e.v FROM {prev} e
        JOIN keep{it} ku ON ku.u = e.u
        JOIN keep{it} kv ON kv.u = e.v
    )"""
        prev = f"edges{it}"
    sql += f"""
    SELECT u AS node, CAST(COUNT(*) AS BIGINT) AS degree
    FROM {prev} GROUP BY u
    ORDER BY degree DESC, node LIMIT 20
    """
    return sql


@query("c22_k_core", oracle=_kcore_oracle())
def c22_k_core(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K-core pruning (c22): iteratively drop nodes with degree < K
    from the (undirected, bipartite) shipment graph — after each
    round, surviving degrees shrink, so the loop repeats (2 unrolled
    rounds here; production iterates to fixpoint). The k-core is the
    standard "dense engaged subgraph" extraction — the cohort both
    c16 (influence) and c21 (authority) scores are most meaningful
    on, and the cheap pre-filter that shrinks expensive downstream
    graph ops.

    Parity: degrees are exact integers; the keep test and the
    symmetric edge filter (BOTH endpoints must survive) are
    deterministic set operations; output ties break on node id.

    100 TB notes: the whole fixpoint runs on the DIRECTED pair list
    (one row per undirected edge — half the rows/bytes of the
    symmetric expansion; per-endpoint counts over it ARE the
    undirected degrees on a bipartite graph, since cu/sv namespaces
    are disjoint). Each round = two partial-aggregable degree counts
    + two semi-joins, all co-keyed — pairs shuffle, never more than
    once per key per round; the surviving set only shrinks, so round
    cost is monotonically decreasing. Intermediate rounds go through
    `fixpoint.cut_lineage` (the c12 discipline — executor-local by
    default, reliable `checkpoint()` when FIXPOINT_CKPT_CONF names a
    fault-tolerant dir): without it every round's THREE consumers
    (degree counts + semi-joins) and the next round re-evaluate the
    whole upstream lineage — the orders⋈lineitem distinct ran up to
    ~6× (warm sf0.1: 6.1 s → 3.3 s checkpointed; the r11 half-width
    pairs fixpoint + last-round fusion takes it to ~2.85 s). The
    LAST round is deliberately NOT checkpointed: its only consumer
    is the final degree output, so fusing it into that job saves a
    full materialization. The keep sets stay as shuffle semi-joins,
    not broadcasts: measured no win at sf0.1 and node sets at 100 TB
    can exceed broadcast limits. Fixpoint detection at scale is a
    1-row count comparison per round (the c16 convergence note)."""
    o = scan(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    li = scan(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    # The fixpoint runs on RAW LONG keys (cu=custkey, sv=suppkey in
    # their own disjoint columns — the bipartite namespaces never mix
    # until the final output), not on the "C"/"S"-prefixed strings:
    # every distinct/degree-count/semi-join then hashes and shuffles
    # 8-byte longs instead of variable-width strings (guide §2.3
    # narrower types). The string form is applied once, per OUTPUT
    # row, after the last degree count. r14 A/B at sf0.1, interleaved
    # medians: 3.33 s → 2.16 s, results EQUAL.
    pairs = (
        o.join(li, F.col("o_orderkey") == F.col("l_orderkey"))
        .select(F.col("o_custkey").alias("cu"), F.col("l_suppkey").alias("sv"))
        .distinct()
    )
    pairs = cut_lineage(pairs)
    for i in range(_KCORE_ROUNDS):
        keep_c = (
            pairs.groupBy("cu")
            .agg(F.count(F.lit(1)).alias("d"))
            .filter(F.col("d") >= _KCORE_K)
            .select("cu")
        )
        keep_s = (
            pairs.groupBy("sv")
            .agg(F.count(F.lit(1)).alias("d"))
            .filter(F.col("d") >= _KCORE_K)
            .select("sv")
        )
        pairs = pairs.join(keep_c, "cu", "left_semi").join(
            keep_s, "sv", "left_semi"
        )
        if i < _KCORE_ROUNDS - 1:
            pairs = cut_lineage(pairs)
    # Final degrees per endpoint run as TWO long-keyed aggs (namespaces
    # are disjoint, so per-column counts ARE the union's counts) and
    # unify to the string node id after — no string-keyed shuffle.
    node_c = (
        pairs.groupBy("cu")
        .agg(F.count(F.lit(1)).alias("degree"))
        .select(
            F.concat(F.lit("C"), F.col("cu").cast("string")).alias("node"),
            "degree",
        )
    )
    node_s = (
        pairs.groupBy("sv")
        .agg(F.count(F.lit(1)).alias("degree"))
        .select(
            F.concat(F.lit("S"), F.col("sv").cast("string")).alias("node"),
            "degree",
        )
    )
    return (
        node_c.unionByName(node_s)
        .orderBy(F.col("degree").desc(), "node")
        .limit(20)
    )


@query(
    "c23_clustering_coefficient",
    oracle=f"""
    WITH o AS (
        SELECT o_orderkey FROM orders
        WHERE o_orderdate >= TIMESTAMP '{_TRI_LO}'
          AND o_orderdate <  TIMESTAMP '{_TRI_HI}'
    ),
    lo AS (
        SELECT l.l_orderkey, l.l_suppkey
        FROM lineitem l JOIN o ON l.l_orderkey = o.o_orderkey
    ),
    pairs AS (
        SELECT DISTINCT x.l_suppkey AS a, y.l_suppkey AS b
        FROM lo x JOIN lo y
          ON x.l_orderkey = y.l_orderkey AND x.l_suppkey < y.l_suppkey
    ),
    deg AS (
        SELECT node, COUNT(*) AS d FROM (
            SELECT a AS node FROM pairs UNION ALL SELECT b FROM pairs
        ) GROUP BY node
    ),
    tri AS (
        SELECT e1.a, e1.b, e2.b AS c
        FROM pairs e1
        JOIN pairs e2 ON e2.a = e1.b
        JOIN pairs e3 ON e3.a = e1.a AND e3.b = e2.b
    ),
    tcnt AS (
        SELECT node, COUNT(*) AS t FROM (
            SELECT a AS node FROM tri
            UNION ALL SELECT b FROM tri
            UNION ALL SELECT c FROM tri
        ) GROUP BY node
    )
    SELECT deg.node AS node, CAST(deg.d AS BIGINT) AS degree,
           CAST(COALESCE(tcnt.t, 0) AS BIGINT) AS n_tri,
           round(2.0 * COALESCE(tcnt.t, 0) / (deg.d * (deg.d - 1)), 6)
             AS clustering
    FROM deg LEFT JOIN tcnt ON tcnt.node = deg.node
    WHERE deg.d >= 5
    ORDER BY clustering DESC, deg.node LIMIT 20
    """,
)
def c23_clustering_coefficient(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Local clustering coefficient (c23): per node, the fraction of
    its neighbor pairs that are themselves connected —
    2·tri/(deg·(deg−1)) — the canonical cohesion metric the c17
    triangle counts exist to feed (c16 influence, c21 authority, c22
    density, this closes the suite with local transitivity; a high-CC
    supplier's partners also trade with each other — an ecosystem,
    not a hub). Degree floor 5 keeps trivial near-cliques of tiny
    degree out of the top-20.

    Parity: triangles and degrees are exact integers; the coefficient
    is one double division rounded 6dp.

    100 TB notes: same oriented edge list and broadcast triangle join
    as c17 (one fact shuffle total); degrees and per-node triangle
    counts are partial-aggable unions of id columns — the metric adds
    only catalog-sized work on top of the triangle enumeration."""
    o = (
        scan(spark, sf_dir, "orders")
        .filter(
            (F.col("o_orderdate") >= F.lit(_TRI_LO).cast("timestamp"))
            & (F.col("o_orderdate") < F.lit(_TRI_HI).cast("timestamp"))
        )
        .select("o_orderkey")
    )
    li = scan(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    lo = li.join(F.broadcast(o), li["l_orderkey"] == o["o_orderkey"]).select(
        "l_orderkey", "l_suppkey"
    )
    x, y = lo.alias("x"), lo.alias("y")
    pairs = (
        x.join(
            y,
            (F.col("x.l_orderkey") == F.col("y.l_orderkey"))
            & (F.col("x.l_suppkey") < F.col("y.l_suppkey")),
        )
        .select(F.col("x.l_suppkey").alias("a"), F.col("y.l_suppkey").alias("b"))
        .distinct()
    )
    deg = (
        pairs.select(F.col("a").alias("node"))
        .unionByName(pairs.select(F.col("b").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("d"))
    )
    e1, e2, e3 = pairs.alias("e1"), pairs.alias("e2"), pairs.alias("e3")
    tri = (
        e1.join(F.broadcast(e2), F.col("e2.a") == F.col("e1.b"))
        .join(
            F.broadcast(e3),
            (F.col("e3.a") == F.col("e1.a")) & (F.col("e3.b") == F.col("e2.b")),
            "left_semi",
        )
        .select(F.col("e1.a").alias("a"), F.col("e1.b").alias("b"), F.col("e2.b").alias("c"))
    )
    tcnt = (
        tri.select(F.col("a").alias("node"))
        .unionByName(tri.select(F.col("b").alias("node")))
        .unionByName(tri.select(F.col("c").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("t"))
    )
    return (
        deg.join(tcnt, "node", "left")
        .filter(F.col("d") >= 5)
        .select(
            "node",
            F.col("d").alias("degree"),
            F.coalesce(F.col("t"), F.lit(0)).alias("n_tri"),
            F.round(
                2.0 * F.coalesce(F.col("t"), F.lit(0)) / (F.col("d") * (F.col("d") - 1)),
                6,
            ).alias("clustering"),
        )
        .orderBy(F.col("clustering").desc(), "node")
        .limit(20)
    )
