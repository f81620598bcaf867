"""LLM-pipeline vector operators (SURVEY §2.J: j3–j6) [NS].

Similarity search over the `embeddings` table (array<float>, dim 64).
All vector math is native higher-order functions (`zip_with`,
`aggregate`, `transform`) in DOUBLE — JVM-side, codegen'd, no UDFs.

Parity: float32 elements cast to double are exact; dot/norm folds
accumulate in list order on both engines; final scores round to 6dp
(accumulated error ≤1e-13 ≪ 5e-7 boundary) so fold-order differences
can never flip a value.

100 TB design:
- j3 brute-force is the *baseline*: one broadcast of the query vector,
  embarrassingly parallel scan, TakeOrderedAndProject top-k (per-
  partition heaps + driver merge — no global sort).
- j3b is the scale path: IVF-style pruning — assign every vector to its
  nearest of K centroids offline, search only the closest partitions.
  Here centroids come from j5 (per-label means) to stay deterministic.
- j4's query side is broadcast (small); never a shuffle of the corpus.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .canon import canon_oracle, canon_vecs
from .. import scratch
from ..operators.fixpoint import _MAD
from ..registry import query
from ..sources.tables import read_written, scan

_D = lambda x: x.cast("double")  # noqa: E731


def dot(a: str | Column, b: str | Column) -> Column:
    """Σ aᵢ·bᵢ in double, strictly in index order (zip_with/aggregate
    fold — one specialized ArrayAggregate eval per pair).

    An unrolled ``when(size==64, 0.0 + a₀b₀ + a₁b₁ + …)`` codegen fast
    path was tried in r14 and REJECTED on a 10-query interleaved A/B
    at sf0.1 (warm, noop sink): the fold won EVERYWHERE — j41 2.96 vs
    7.89 s, j3 0.28 vs 1.55 s, j3b 0.55 vs 2.34 s, j3c 1.67 vs 4.68 s,
    j47 0.60 vs 1.84 s, j50 2.25 vs 2.81 s median. The 64-term ×
    128-`get` expression tree blows up plan construction and lands in
    interpreted eval wherever Catalyst duplicates the expression
    (filter+project collapse, aggregate buffers), where 192 virtual
    Expression.eval calls lose badly to the single fused fold loop.
    Do not re-add without an interleaved per-consumer A/B."""
    if isinstance(a, str):
        a = F.col(a)
    if isinstance(b, str):
        b = F.col(b)
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: _D(x) * _D(y)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def l2norm(a: str | Column) -> Column:
    return F.sqrt(dot(a, a))


def cosine(a: str | Column, b: str | Column) -> Column:
    return dot(a, b) / (l2norm(a) * l2norm(b))


def vec_ok(c: str | Column = "embedding") -> Column:
    """Vector-quality gate (r9 --vec-extremes sweep; the embedding twin
    of numeric.finite_metric): a vector is similarity-usable iff it is
    non-NULL, every component is finite, and at least one component is
    non-zero. A NaN/±Inf component NaN-poisons every dot product it
    touches (and NaN ordering is engine-defined), and the zero vector
    has no direction — cosine against it divides by zero, an ANSI
    job-kill in Spark. At 100 TB a handful of glitched embeddings
    (failed encoder, truncated fetch) must never abort an index build
    or corrupt a centroid: they carry no signal and are EXCLUDED,
    identically in both engines (SQL twin: :data:`VOK`)."""
    col = F.col(c) if isinstance(c, str) else c
    # the bad-component leg leads with x IS NULL so the predicate is
    # never three-valued: without it, a NULL component makes exists()
    # NULL in Spark (row silently dropped) while DuckDB's list_filter
    # DROPS NULL predicate results (row silently kept) — a latent
    # engine split the r10 ADVICE pinned. NULL component = glitched
    # vector = EXCLUDED, deterministically, in both engines.
    return (
        col.isNotNull()
        & ~F.exists(
            col,
            lambda x: x.isNull()
            | F.isnan(_D(x))
            | (F.abs(x) == F.lit(float("inf"))),
        )
        & F.exists(col, lambda x: x != F.lit(0.0))
    )


#: DuckDB twin of :func:`vec_ok` — textually adjacent, same three legs.
SQL_VEC_OK = (
    "({c} IS NOT NULL"
    " AND len(list_filter({c}, x -> x IS NULL OR isnan(x) OR isinf(x))) = 0"
    " AND len(list_filter({c}, x -> x <> 0)) > 0)"
)


def sql_vec_ok(c: str = "embedding") -> str:
    return SQL_VEC_OK.format(c=c)


#: the common `embeddings.embedding` form + a ready-made gated CTE
VOK = sql_vec_ok()
EMB_OK = f"emb AS (SELECT * FROM embeddings WHERE {VOK})"


#: shared DuckDB lambda fragments (mirror the Spark fold semantics)
_SQL_DOT = (
    "list_sum(list_transform(list_zip({a}, {b}), "
    "p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)))"
)
_SQL_NORM = (
    "sqrt(list_sum(list_transform({a}, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))"
)


@query(
    "j3_cosine_knn",
    oracle=f"""
    WITH {EMB_OK},
    q AS (SELECT embedding AS qv FROM emb WHERE vec_id = 0),
    scored AS (
        SELECT vec_id,
               round({_SQL_DOT.format(a='embedding', b='qv')}
                     / ({_SQL_NORM.format(a='embedding')}
                        * {_SQL_NORM.format(a='qv')}), 6) AS cos_sim
        FROM emb, q
        WHERE vec_id <> 0
    )
    SELECT vec_id, cos_sim FROM scored
    ORDER BY cos_sim DESC, vec_id LIMIT 10
    """,
)
def j3_cosine_knn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-k (j3): query = vec_id 0's embedding,
    broadcast; top-10 most similar."""
    e = scan(spark, sf_dir, "embeddings").filter(vec_ok())
    q = e.filter(F.col("vec_id") == 0).select(F.col("embedding").alias("qv"))
    return (
        e.filter(F.col("vec_id") != 0)
        .crossJoin(F.broadcast(q))
        .select(
            "vec_id", F.round(cosine("embedding", "qv"), 6).alias("cos_sim")
        )
        .orderBy(F.col("cos_sim").desc(), "vec_id")
        .limit(10)
    )


@query(
    "j4_knn_join",
    oracle=f"""
    WITH {EMB_OK},
    q AS (SELECT vec_id AS q_id, embedding AS qv FROM emb
               WHERE vec_id < 5),
    c AS (SELECT vec_id, embedding FROM emb WHERE vec_id >= 5),
    scored AS (
        SELECT q.q_id, c.vec_id,
               round({_SQL_DOT.format(a='c.embedding', b='q.qv')}
                     / ({_SQL_NORM.format(a='c.embedding')}
                        * {_SQL_NORM.format(a='q.qv')}), 6) AS cos_sim
        FROM q CROSS JOIN c
    )
    SELECT q_id, vec_id, cos_sim, CAST(rn AS BIGINT) AS rn
    FROM (SELECT *, row_number() OVER (
              PARTITION BY q_id ORDER BY cos_sim DESC, vec_id) AS rn
          FROM scored)
    WHERE rn <= 3
    """,
)
def j4_knn_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-NN join (j4): for each of 5 query vectors, top-3 neighbors in
    the rest of the corpus. Query side broadcast; corpus scanned once;
    windowed top-k per query."""
    e = scan(spark, sf_dir, "embeddings").filter(vec_ok())
    q = e.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("qv")
    )
    c = e.filter(F.col("vec_id") >= 5)
    scored = c.crossJoin(F.broadcast(q)).select(
        "q_id",
        "vec_id",
        F.round(cosine("embedding", "qv"), 6).alias("cos_sim"),
    )
    w = Window.partitionBy("q_id").orderBy(F.col("cos_sim").desc(), "vec_id")
    return (
        scored.withColumn("rn", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rn") <= 3)
        .select("q_id", "vec_id", "cos_sim", "rn")
    )


@query(
    "j5_centroids",
    oracle=f"""
    WITH {EMB_OK},
    elem AS (
        SELECT label, pos, CAST(embedding[pos] AS DOUBLE) AS val
        FROM emb,
             LATERAL (SELECT unnest(generate_series(1, len(embedding))) AS pos)
    ),
    m AS (
        SELECT label, pos, round(SUM(val) / COUNT(*), 6) AS mean_val
        FROM elem GROUP BY label, pos
    ),
    c AS (SELECT label, COUNT(*) AS n_members FROM emb GROUP BY label)
    SELECT m.label, CAST(m.pos AS BIGINT) AS pos, m.mean_val, c.n_members
    FROM m JOIN c ON m.label = c.label
    """,
)
def j5_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label centroid (j5): element-wise mean of 64-dim vectors.

    posexplode → two-level agg. The explode keeps rows narrow (label,
    pos, val): at 100 TB this is the shape that lets partial
    aggregation crush the shuffle (64·K rows out per partition
    regardless of input size). The centroid is returned exploded —
    one (label, pos, mean_val) row per dimension — so the driver
    compare sees only scalar columns; ``assemble_centroids`` in this
    module re-packs the array form for downstream consumers (j3b)."""
    e = scan(spark, sf_dir, "embeddings").filter(vec_ok())
    elem = e.select(
        "label", F.posexplode("embedding").alias("pos", "val")
    ).select("label", (F.col("pos") + 1).alias("pos"), _D(F.col("val")).alias("val"))
    means = elem.groupBy("label", "pos").agg(
        F.round(F.sum("val") / F.count(F.lit(1)), 6).alias("mean_val")
    )
    counts = e.groupBy("label").agg(F.count(F.lit(1)).alias("n_members"))
    return (
        means.join(counts, "label")
        .select("label", F.col("pos").cast("bigint").alias("pos"),
                "mean_val", "n_members")
    )


def assemble_centroids(exploded: DataFrame) -> DataFrame:
    """Re-pack j5's exploded (label, pos, mean_val) rows into
    (label, centroid array<double>, n_members) — the array form
    downstream vector ops consume."""
    return (
        exploded.groupBy("label", "n_members")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "mean_val"))),
                lambda s: s["mean_val"],
            ).alias("centroid")
        )
        .select("label", "centroid", "n_members")
    )


@query(
    "j6_l2norm",
    oracle=f"""
    SELECT vec_id,
           CAST(pos AS BIGINT) AS pos,
           round(CAST(embedding[pos] AS DOUBLE)
                 / {_SQL_NORM.format(a='embedding')}, 6) AS unit_val,
           round({_SQL_NORM.format(a='embedding')}, 6) AS norm
    FROM (SELECT * FROM embeddings WHERE {VOK}),
         LATERAL (SELECT unnest(generate_series(1, len(embedding))) AS pos)
    """,
)
def j6_l2norm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L2 normalization (j6): unit vectors via transform(x / ‖v‖).
    Property `‖unit_vec‖ ≈ 1` pinned in unit tests.

    Output is posexploded — (vec_id, pos, unit_val, norm) — so the
    driver compare sees only scalar columns; the array-producing
    transform itself is still the computed expression."""
    e = (
        scan(spark, sf_dir, "embeddings")
        .filter(vec_ok())
        .withColumn("nrm", l2norm("embedding"))
    )
    ex = e.select(
        "vec_id",
        F.round("nrm", 6).alias("norm"),
        F.posexplode(
            F.transform("embedding", lambda x: F.round(_D(x) / F.col("nrm"), 6))
        ).alias("pos0", "unit_val"),
    )
    return ex.select(
        "vec_id",
        (F.col("pos0") + 1).cast("bigint").alias("pos"),
        "unit_val",
        "norm",
    )


@query(
    "j3b_ivf_knn",
    oracle=canon_oracle(f"""
    WITH {EMB_OK},
    q AS (SELECT embedding AS qv, label AS q_label FROM emb
               WHERE vec_id = 0),
    cent AS (
        SELECT label, pos, SUM(CAST(embedding[pos] AS DOUBLE)) / COUNT(*) AS c
        FROM emb,
             LATERAL (SELECT unnest(generate_series(1, len(embedding))) AS pos)
        GROUP BY label, pos
    ),
    -- nearest centroid to the query by cosine
    csim AS (
        SELECT cent.label,
               SUM(c * CAST(qv[pos] AS DOUBLE)) AS cdot,
               sqrt(SUM(c * c)) AS cn
        FROM cent, q GROUP BY cent.label
    ),
    best AS (
        SELECT label FROM csim, q
        ORDER BY round(cdot / (cn * {_SQL_NORM.format(a='qv')}), 6) DESC,
                 label LIMIT 2
    ),
    scored AS (
        SELECT vec_id,
               round({_SQL_DOT.format(a='embedding', b='qv')}
                     / ({_SQL_NORM.format(a='embedding')}
                        * {_SQL_NORM.format(a='qv')}), 6) AS cos_sim
        FROM emb, q
        WHERE vec_id <> 0 AND label IN (SELECT label FROM best)
    )
    SELECT vec_id, cos_sim FROM scored
    ORDER BY cos_sim DESC, vec_id LIMIT 10
    """, vecs=True),
)
def j3b_ivf_knn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-pruned ANN top-k (j3 scale path): probe only the 2 cells
    (label partitions) whose centroid is nearest the query, then exact
    cosine inside the probed cells. At 100 TB the corpus is partitioned
    by cell on disk → partition pruning skips >90% of the scan; recall
    is tunable via n_probe. Centroids are deterministic (j5)."""
    e = canon_vecs(spark, sf_dir).filter(vec_ok())
    q = e.filter(F.col("vec_id") == 0).select(F.col("embedding").alias("qv"))

    # centroids per label (reuse j5's exact shape, unrounded)
    elem = e.select("label", F.posexplode("embedding").alias("pos", "val")).select(
        "label", (F.col("pos") + 1).alias("pos"), _D(F.col("val")).alias("val")
    )
    cent = elem.groupBy("label", "pos").agg(
        (F.sum("val") / F.count(F.lit(1))).alias("c")
    )
    # score centroids against the broadcast query, keep best 2 cells
    cq = cent.crossJoin(F.broadcast(q)).select(
        "label",
        (F.col("c") * _D(F.element_at("qv", F.col("pos")))).alias("prod"),
        (F.col("c") * F.col("c")).alias("c2"),
    )
    csim = cq.groupBy("label").agg(
        F.sum("prod").alias("cdot"), F.sqrt(F.sum("c2")).alias("cn")
    )
    # cell score ROUNDED before ordering: with bit-identical duplicate
    # centroids (clone cells) the unrounded score ties only up to
    # engine-specific summation order, so the "best 2 cells" pick could
    # diverge across engines at the tie; 6dp quantization makes the
    # (score, label) order key deterministic on both sides.
    best = (
        csim.crossJoin(F.broadcast(q))
        .select(
            "label",
            F.round(F.col("cdot") / (F.col("cn") * l2norm("qv")), 6).alias("s"),
        )
        .orderBy(F.col("s").desc(), "label")
        .limit(2)
        .select("label")
    )
    return (
        e.filter(F.col("vec_id") != 0)
        .join(F.broadcast(best), "label")
        .crossJoin(F.broadcast(q))
        .select("vec_id", F.round(cosine("embedding", "qv"), 6).alias("cos_sim"))
        .orderBy(F.col("cos_sim").desc(), "vec_id")
        .limit(10)
    )


@query(
    "j12_embedding_neardup",
    oracle=f"""
    SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
           round({_SQL_DOT.format(a='a.embedding', b='b.embedding')}
                 / ({_SQL_NORM.format(a='a.embedding')}
                    * {_SQL_NORM.format(a='b.embedding')}), 6) AS cos_sim
    FROM (SELECT * FROM embeddings WHERE {VOK}) a
    JOIN (SELECT * FROM embeddings WHERE {VOK}) b
      ON a.label = b.label AND a.vec_id < b.vec_id
    WHERE round({_SQL_DOT.format(a='a.embedding', b='b.embedding')}
                / ({_SQL_NORM.format(a='a.embedding')}
                   * {_SQL_NORM.format(a='b.embedding')}), 6) >= 0.3
    """,
)
def j12_embedding_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (j2 family, [NS]):
    all pairs with cosine >= tau INSIDE each label block.

    Blocking IS the scale strategy: the O(n²) pair space is cut to
    O(Σ block²) by joining on the cluster/cell key first. Exact
    within-block all-pairs is inherent to the semantics, so the scale
    risk is not total work but a HOT BLOCK landing on one task — fixed
    here by the chunked triangle join (``neardup_blocked``): per-task
    pair work is capped at cap², a hot label spreads over (n/cap)²
    tasks. Verification is native zip_with/aggregate vector math — no
    UDFs. The tau filter is applied to the 6dp-rounded score on both
    engines so an ulp of fold noise can never flip membership."""
    return neardup_blocked(scan(spark, sf_dir, "embeddings"), tau=0.3, cap=128)


def _pair_block_kernel(key, pdf):
    """Per-chunk-pair exact cosine kernel (r15, guide §4.2 — the j39
    precedent: hand a whole block to vectorized native code instead of
    running one interpreted JVM fold per pair).

    BIT-EXACTNESS CONTRACT: reproduces the JVM expression
    ``dot(a,b) / (l2norm(a) * l2norm(b))`` IEEE-op-for-IEEE-op —
    float32 components widened to float64 (exact), dot and norm² folds
    accumulated strictly in index order via one elementwise
    multiply-then-add per dimension (numpy elementwise ops never fuse
    or reassociate), then sqrt, one multiply, one divide. Rounding is
    deliberately NOT done here: the caller applies the same
    ``F.round(_, 6)`` the join form used, so the returned doubles feed
    the identical rounding code path. Verified value-equal against the
    join form over every pair at 3 SFs + the torture chains (multiset
    diff harness, r15).

    Pair semantics mirror the join form exactly: same-chunk groups
    (ci == cj) hold every row in both roles and keep strict
    ``id_a < id_b`` (duplicate-id payload twins never pair with each
    other, but each twin pairs with every other vector — one output
    row per twin, as the join produced); cross-chunk groups keep
    ``id_a != id_b`` and normalize orientation via (min, max) id —
    cosine is symmetric so the score is orientation-free. Vectors of
    UNEQUAL length never pair (zip_with pads with NULL → NULL sim →
    filtered), reproduced by pairing only within equal-length buckets."""
    import numpy as np
    import pandas as pd

    same = key[1] == key[2]  # ci == cj
    A = pdf[pdf["role"] == 0]
    B = pdf[pdf["role"] == 1]
    out_a: list = []
    out_b: list = []
    out_s: list = []
    if len(A) and len(B):
        la = A["embedding"].map(len).to_numpy()
        lb = B["embedding"].map(len).to_numpy()
        for L in np.intersect1d(np.unique(la), np.unique(lb)):
            Ai, Bi = A[la == L], B[lb == L]
            MA = np.stack(Ai["embedding"].to_numpy()).astype(np.float64)
            MB = np.stack(Bi["embedding"].to_numpy()).astype(np.float64)
            ida = Ai["vec_id"].to_numpy()
            idb = Bi["vec_id"].to_numpy()
            dots = np.zeros((len(MA), len(MB)))
            na = np.zeros(len(MA))
            nb = np.zeros(len(MB))
            for d in range(int(L)):  # strict index-order fold
                dots += MA[:, d : d + 1] * MB[None, :, d]
                na += MA[:, d] * MA[:, d]
                nb += MB[:, d] * MB[:, d]
            with np.errstate(divide="ignore", invalid="ignore"):
                sim = dots / (np.sqrt(na)[:, None] * np.sqrt(nb)[None, :])
            mask = (
                ida[:, None] < idb[None, :]
                if same
                else ida[:, None] != idb[None, :]
            )
            ii, jj = np.nonzero(mask)
            out_a.append(np.minimum(ida[ii], idb[jj]))
            out_b.append(np.maximum(ida[ii], idb[jj]))
            out_s.append(sim[ii, jj])
    cat = (lambda xs, dt: np.concatenate(xs) if xs else np.array([], dtype=dt))
    return pd.DataFrame(
        {
            "vec_a": cat(out_a, np.int64),
            "vec_b": cat(out_b, np.int64),
            "sim": cat(out_s, np.float64),
        }
    )


def neardup_blocked(e: DataFrame, tau: float, cap: int = 128) -> DataFrame:
    """Exact within-label near-dup pairs with bounded per-task work.

    Distributed triangle BLOCKING, Arrow-kernel scoring (r15): each
    label's vectors are hashed into ``n_chunks = ceil(|label| / cap)``
    chunks; every vector is replicated to its chunk-pair keys — role-A
    rows to (ci=chunk, cj ≥ chunk), role-B rows to (ci ≤ chunk,
    cj=chunk) — and ONE groupBy(label, ci, cj) ships each block's m
    rows once through Arrow to :func:`_pair_block_kernel`, which
    scores all m·m′ pairs with vectorized numpy folds that are
    bit-identical to the JVM expression (see its docstring). Every
    unordered pair lands on exactly one chunk-pair key, so per-task
    pair work is ≤ cap² no matter how hot one label is, and
    replication cost is ~n_chunks per row (the sqrt-of-pair-space
    optimum) — the same skew bound the r14 join form had.

    Why not the JVM join (the r14 form, two replicated sides joined on
    (label, ci, cj) with a zip_with/aggregate fold per pair): the
    higher-order fold is interpreted per PAIR — measured 60% of j50's
    pipeline at sf0.1 (3.81 vs 1.56 s med with the fold stubbed out);
    the kernel does the same flops in numpy at memory speed and ships
    each block's rows ONCE instead of materializing m·m′ joined rows
    (guide §4.2/§8: decide on proxies, move payloads once). r15
    process-alternated A/B (3 rounds old/new, min of 3 warm runs each,
    medians): j50 5.27 → 1.98 s, j16 4.59 → 1.68 s, j12 2.66 → 1.55 s,
    j41 5.10 → 3.91 s (j41's residual is the assignment stages).
    Exactness evidence: pair multisets HEX-EQUAL to the join form at
    3 SFs × τ∈{0, 0.3, 0.6} and on both 15-axis torture chains;
    oracle parity + determinism + rowshuffle cross-layout all green.

    At 100 TB: no window (chunk = hash % n_chunks — no per-label
    single-task assignment step), counts come from a partial-aggregated
    groupBy broadcast back, and AQE handles residual key skew; the
    groupBy exchange carries the same replicated rows the join's two
    exchanges carried."""
    # ch feeds both role projections, so its lineage (scan + broadcast
    # join) plans twice — acceptable: re-scanning the columnar source
    # beats materializing an embedding-payload copy at 100 TB. The tiny
    # label->n_chunks agg, though, is persisted so the counting scan
    # runs once, not once per side (lineage-duplication class).
    e = e.filter(vec_ok())  # glitched vectors carry no pair signal (r9)
    # NULL labels never pair: the old equi-join dropped them; the
    # groupBy below would keep NULL as its own group (r9 nullkeys
    # class), so the exclusion must be explicit now.
    e = e.filter(F.col("label").isNotNull())
    counts = e.groupBy("label").agg(
        F.ceil(F.count(F.lit(1)) / F.lit(cap)).cast("int").alias("n_chunks")
    ).persist(_MAD)
    ch = e.join(F.broadcast(counts), "label").select(
        "label",
        "vec_id",
        "embedding",
        F.pmod(F.xxhash64("vec_id"), F.col("n_chunks")).cast("int").alias("chunk"),
        "n_chunks",
    )
    rep = ch.select(
        "label",
        F.lit(0).alias("role"),
        "vec_id",
        "embedding",
        F.col("chunk").alias("ci"),
        F.explode(F.sequence(F.col("chunk"), F.col("n_chunks") - 1)).alias("cj"),
    ).unionByName(
        ch.select(
            "label",
            F.lit(1).alias("role"),
            "vec_id",
            "embedding",
            F.explode(F.sequence(F.lit(0), F.col("chunk"))).alias("ci"),
            F.col("chunk").alias("cj"),
        )
    )
    pairs = rep.groupBy("label", "ci", "cj").applyInPandas(
        _pair_block_kernel, "vec_a long, vec_b long, sim double"
    )
    # round + threshold in Spark so the rounding code path is the
    # IDENTICAL F.round the join form used (kernel returns raw doubles)
    return pairs.select(
        "vec_a", "vec_b", F.round("sim", 6).alias("cos_sim")
    ).filter(F.col("cos_sim") >= tau)


@query(
    "j16_neardup_components",
    oracle=canon_oracle(f"""
    WITH RECURSIVE {EMB_OK},
    pairs AS (
        SELECT a.vec_id AS va, b.vec_id AS vb
        FROM emb a
        JOIN emb b ON a.label = b.label AND a.vec_id < b.vec_id
        WHERE round({_SQL_DOT.format(a='a.embedding', b='b.embedding')}
                    / ({_SQL_NORM.format(a='a.embedding')}
                       * {_SQL_NORM.format(a='b.embedding')}), 6) >= 0.6
    ),
    sym AS (
        SELECT va AS s, vb AS d FROM pairs
        UNION
        SELECT vb, va FROM pairs
    ),
    reach AS (
        SELECT vec_id AS node, vec_id AS r FROM emb
        UNION
        SELECT sym.s, reach.r FROM sym JOIN reach ON reach.node = sym.d
    ),
    comp AS (SELECT node AS vec_id, MIN(r) AS component FROM reach GROUP BY node)
    SELECT vec_id, component,
           COUNT(*) OVER (PARTITION BY component) AS cluster_size
    FROM comp
    """, vecs=True),
)
def j16_neardup_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-duplicate CLUSTERING (j16, [NS]) — the full dedup pipeline
    composed from parts that each have their own oracle: discover
    near-dup pairs (j12's bounded triangle join, cosine ≥ 0.6), then
    collapse pairs into clusters with min-label connected components
    (operators/joins.connected_components), then size each cluster.
    Downstream keeps `vec_id == component` (the canonical member) and
    drops the rest — exactly the keep-one-per-cluster contract of a
    corpus dedup stage. Oracle: recursive-CTE reachability over the
    same pair predicate."""
    from ..operators.joins import connected_components

    e = canon_vecs(spark, sf_dir).filter(vec_ok())
    pairs = neardup_blocked(e, tau=0.6, cap=128)
    edges = pairs.select(
        F.col("vec_a").alias("src"), F.col("vec_b").alias("dst")
    )
    comp = connected_components(edges, e.select(F.col("vec_id").alias("id")))
    w = Window.partitionBy("component")
    return comp.select(
        F.col("id").alias("vec_id"),
        "component",
        F.count(F.lit(1)).over(w).alias("cluster_size"),
    )


# Deterministic Rademacher hyperplanes for j3c: sign(band, bit, dim) is
# a parity bit of md5 — fixed forever, reproducible on any cluster.
_LSH_BITS, _LSH_BANDS, _LSH_DIM = 4, 16, 64


def _lsh_planes():
    import hashlib

    rows = []
    for band in range(_LSH_BANDS):
        for bit in range(_LSH_BITS):
            for d in range(_LSH_DIM):
                h = hashlib.md5(f"lsh:{band}:{bit}:{d}".encode()).digest()
                rows.append((band * _LSH_BITS + bit, d + 1, 1 if h[0] & 1 else -1))
    return rows


def hyperplane_buckets(e: DataFrame, planes: DataFrame) -> DataFrame:
    """(vec_id, band, bucket): banded random-hyperplane (SimHash-for-
    cosine) signatures. explode → broadcast plane join → two partial
    aggs; the shuffle carries (vec_id, plane, partial-dot) floats,
    never embeddings. At 100 TB this is the offline indexing job whose
    output is written bucket-partitioned so a query probe prunes to
    L_BANDS partitions."""
    elem = e.select("vec_id", F.posexplode("embedding").alias("p", "val")).select(
        "vec_id", (F.col("p") + 1).alias("pos"), _D(F.col("val")).alias("val")
    )
    dots = (
        elem.join(planes, "pos")
        .groupBy("vec_id", "plane")
        .agg(F.sum(F.col("val") * F.col("sgn")).alias("s"))
    )
    return (
        dots.withColumn("band", F.floor(F.col("plane") / _LSH_BITS))
        .withColumn(
            "bitv",
            F.when(
                F.col("s") >= 0,
                F.pow(F.lit(2.0), F.pmod(F.col("plane"), F.lit(_LSH_BITS))).cast(
                    "long"
                ),
            ).otherwise(F.lit(0)),
        )
        .groupBy("vec_id", "band")
        .agg(F.sum("bitv").alias("bucket"))
    )


@query(
    "j3c_lsh_ann",
    oracle=f"""
    WITH {EMB_OK},
    q AS (SELECT embedding AS qv FROM emb WHERE vec_id = 0)
    SELECT vec_id,
           round({_SQL_DOT.format(a='embedding', b='qv')}
                 / ({_SQL_NORM.format(a='embedding')}
                    * {_SQL_NORM.format(a='qv')}), 6) AS cos_sim,
           TRUE AS lsh_recall_ok
    FROM emb, q
    WHERE vec_id <> 0
    ORDER BY cos_sim DESC, vec_id LIMIT 10
    """,
)
def j3c_lsh_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Random-hyperplane LSH ANN (j3c) — the bucketed alternative to
    j3b's IVF pruning, audited with the d5/d17 checkable-contract
    pattern.

    16 bands x 4 sign-bits of deterministic Rademacher hyperplanes;
    candidates are corpus vectors sharing ANY band bucket with the
    query; exact cosine re-ranks candidates only. The registered
    columns are the TRUE top-10 (oracle-computable brute force — it
    exists in-plan only to audit) plus a boolean certifying the
    LSH-retrieved top-10 hit >= 7/10 of it; with these planes measured
    recall is 10/10 at sf0.01 and sf0.1 while scanning ~26% of the
    corpus at sf0.1 (pruning sharpens as buckets concentrate: near-dup
    queries collide in nearly every band, orthogonal noise in few).
    Knobs: more bands -> recall, more bits -> pruning.

    Cost note: this registered id deliberately runs BOTH the LSH probe
    AND the brute-force audit (~2x the minimal work) because the
    recall boolean is part of the contract. The PRODUCTION path is the
    probe alone — drop the audit branch and the query does ~26% of the
    brute-force scan."""
    e = scan(spark, sf_dir, "embeddings").filter(vec_ok())
    planes = F.broadcast(
        spark.createDataFrame(_lsh_planes(), "plane INT, pos INT, sgn INT")
    )
    buckets = hyperplane_buckets(e, planes)
    qb = buckets.filter(F.col("vec_id") == 0).select("band", "bucket")
    cand = (
        buckets.filter(F.col("vec_id") != 0)
        .join(F.broadcast(qb), ["band", "bucket"])
        .select("vec_id")
        .distinct()
    )
    q = e.filter(F.col("vec_id") == 0).select(F.col("embedding").alias("qv"))
    # ONE exact-cosine pass (r14): the brute-force audit scores the
    # whole corpus anyway, and the LSH top-10 is that same scoring
    # restricted to the candidate set — so score once, persist the
    # tiny (vec_id, cos_sim) table, and derive lsh10 by semi-joining
    # the candidates instead of re-running the cosine fold over the
    # ~26% candidate subset a second time. The probe machinery
    # (buckets → cand) is untouched; a production deployment still
    # drops the audit branch and scores candidates only.
    all_scored = (
        e.filter(F.col("vec_id") != 0)
        .crossJoin(F.broadcast(q))
        .select("vec_id", F.round(cosine("embedding", "qv"), 6).alias("cos_sim"))
    ).persist(_MAD)
    lsh10 = (
        all_scored.join(cand, "vec_id")
        .orderBy(F.col("cos_sim").desc(), "vec_id")
        .limit(10)
    )
    true10 = all_scored.orderBy(F.col("cos_sim").desc(), "vec_id").limit(10)
    n_hit = true10.join(lsh10.select("vec_id"), "vec_id").agg(
        F.count(F.lit(1)).alias("n_hit")
    )
    return true10.crossJoin(F.broadcast(n_hit)).select(
        "vec_id", "cos_sim", (F.col("n_hit") >= 7).alias("lsh_recall_ok")
    )


PQ_S = 4  # product-quantization subspaces (dim 64 → 4 × 16)
PQ_SUBDIM = 16
PQ_K = 16  # codewords per subspace


def _sq_l2(a: Column | str, b: Column | str) -> Column:
    """Σ (aᵢ−bᵢ)² in double, in-order fold (same discipline as dot).

    The PQ_SUBDIM-unrolled codegen fast path was tried in r14 and
    REJECTED like dot's: interleaved A/B on j35 at sf0.1 gave fold
    med 1.36 s vs unrolled 1.53 s (the earlier claimed win did not
    reproduce under interleaving)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (_D(x) - _D(y)) * (_D(x) - _D(y))),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


_SQL_SQ_L2 = (
    "list_sum(list_transform(list_zip({a}, {b}), "
    "p -> (CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE)) "
    "* (CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE))))"
)


@query(
    "j35_pq_adc",
    oracle=canon_oracle(f"""
    WITH {EMB_OK},
    subs AS (
        SELECT vec_id, s,
               embedding[s * {PQ_SUBDIM} + 1 : s * {PQ_SUBDIM} + {PQ_SUBDIM}]
                 AS sub
        FROM emb
        CROSS JOIN (SELECT unnest(range(0, {PQ_S})) AS s)
    ),
    ranked AS (
        SELECT s, sub,
               row_number() OVER (
                   PARTITION BY s
                   ORDER BY md5(CAST(vec_id AS VARCHAR) || ':'
                                || CAST(s AS VARCHAR)), vec_id) AS k
        FROM subs
    ),
    anchors AS (SELECT s, k, sub AS cw FROM ranked WHERE k <= {PQ_K}),
    dists AS (
        SELECT subs.vec_id, subs.s, anchors.k,
               {_SQL_SQ_L2.format(a='subs.sub', b='anchors.cw')} AS d2
        FROM subs JOIN anchors ON subs.s = anchors.s
    ),
    enc AS (
        SELECT vec_id, s, k AS code
        FROM (SELECT vec_id, s, k,
                     row_number() OVER (PARTITION BY vec_id, s
                                        ORDER BY d2, k) AS rn
              FROM dists)
        WHERE rn = 1
    ),
    dtab AS (
        SELECT s, k, d2 AS qd2 FROM dists WHERE vec_id = 0
    )
    SELECT enc.vec_id, ROUND(SUM(dtab.qd2), 6) AS adc_dist
    FROM enc JOIN dtab ON enc.s = dtab.s AND enc.code = dtab.k
    WHERE enc.vec_id <> 0
    GROUP BY enc.vec_id
    ORDER BY adc_dist, vec_id
    LIMIT 10
    """, vecs=True),
)
def j35_pq_adc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ANN with asymmetric distance computation
    (j35, [NS]) — the Jégou-Douze-Schmid PQ scheme: split each 64-dim
    vector into {PQ_S} subvectors, quantize each against a
    {PQ_K}-codeword-per-subspace codebook, and approximate L2 distance
    as the sum of per-subspace query→codeword distances looked up from
    a table (ADC). This is the memory-side scale path the IVF probe
    (j3b) doesn't cover: codes are {PQ_S} bytes per vector instead of
    256, so a 100 TB embedding corpus compresses ~64× before any scan.

    Deterministic-codebook discipline: codewords are the subvectors of
    the {PQ_K} salted-hash-ranked anchor vectors per subspace (no
    k-means iteration — same fate across runs/engines; production
    swaps in trained centroids without touching the plan). Encoding
    argmin ties break on codeword id via a (d2, k) struct-min.

    100 TB notes: the codebook is {PQ_S}×{PQ_K} rows — broadcast
    everywhere; encoding is one partial-aggregable shuffle keyed
    (vec_id, s) carrying (d2, k) pairs, run ONCE offline and stored as
    codes in production; the query-time scan is map-side (codes join a
    broadcast {PQ_S}×{PQ_K} distance table) + a top-k
    TakeOrderedAndProject — no full-vector reads at query time at all.
    Per-subspace d2 folds are in-order doubles; the final ADC sum
    rounds to 6dp (vectors.py parity note)."""
    # vector-quality gate (subsumes the old null filter): a NULL/
    # non-finite/zero vector has nothing to quantize, and one NaN
    # subvector would NaN-poison every argmin it joins (r9 sweep).
    # id-CANONICAL corpus (r11 --dupids): the codebook anchors rank by
    # md5(vec_id:s) with vec_id as tiebreak — a duplicated vec_id ties
    # BOTH keys across two different subvectors, making the anchor
    # pick nondeterministic; canon resolves the id first (canon.py)
    e = canon_vecs(spark, sf_dir).filter(vec_ok())
    subs = e.select(
        "vec_id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(s).alias("s"),
                        F.slice(
                            "embedding", s * PQ_SUBDIM + 1, PQ_SUBDIM
                        ).alias("sub"),
                    )
                    for s in range(PQ_S)
                ]
            )
        ).alias("x"),
    ).select("vec_id", F.col("x.s").alias("s"), F.col("x.sub").alias("sub"))
    w = Window.partitionBy("s").orderBy(
        F.md5(
            F.concat(
                F.col("vec_id").cast("string"),
                F.lit(":"),
                F.col("s").cast("string"),
            )
        ),
        "vec_id",
    )
    anchors = (
        subs.withColumn("k", F.row_number().over(w))
        .filter(F.col("k") <= PQ_K)
        .select("s", "k", F.col("sub").alias("cw"))
    )
    dists = subs.join(F.broadcast(anchors), "s").select(
        "vec_id", "s", "k", _sq_l2("sub", "cw").alias("d2")
    )
    enc = (
        dists.groupBy("vec_id", "s")
        .agg(F.min(F.struct("d2", "k")).alias("m"))
        .select("vec_id", "s", F.col("m.k").alias("code"))
    )
    dtab = dists.filter(F.col("vec_id") == 0).select(
        F.col("s").alias("ds"), F.col("k").alias("dk"), F.col("d2").alias("qd2")
    )
    return (
        enc.filter(F.col("vec_id") != 0)
        .join(
            F.broadcast(dtab),
            (F.col("s") == F.col("ds")) & (F.col("code") == F.col("dk")),
        )
        .groupBy("vec_id")
        .agg(F.round(F.sum("qd2"), 6).alias("adc_dist"))
        .orderBy("adc_dist", "vec_id")
        .limit(10)
    )


_J47_ANCHORS = 10  # hash-chosen anchor queries
_J47_K = 3  # hard negatives per anchor


@query(
    "j47_hard_negatives",
    oracle=f"""
    WITH {EMB_OK},
    a AS (
        SELECT vec_id AS anchor_id, embedding AS av, label AS alabel
        FROM emb
        ORDER BY md5('hn:' || CAST(vec_id AS VARCHAR)) LIMIT {_J47_ANCHORS}
    ),
    scored AS (
        SELECT a.anchor_id, e.vec_id AS neg_id,
               round({_SQL_DOT.format(a='a.av', b='e.embedding')}
                     / ({_SQL_NORM.format(a='a.av')}
                        * {_SQL_NORM.format(a='e.embedding')}), 6) AS cos_sim,
               row_number() OVER (
                   PARTITION BY a.anchor_id
                   ORDER BY round({_SQL_DOT.format(a='a.av', b='e.embedding')}
                         / ({_SQL_NORM.format(a='a.av')}
                            * {_SQL_NORM.format(a='e.embedding')}), 6) DESC,
                            e.vec_id
               ) AS rn
        FROM a JOIN emb e
          ON e.label <> a.alabel AND e.vec_id <> a.anchor_id
    )
    SELECT anchor_id, neg_id, cos_sim FROM scored WHERE rn <= {_J47_K}
    """,
)
def j47_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hard-negative mining (j47): for each anchor, the most-similar
    vectors with a DIFFERENT label — the pairs that teach a
    contrastive/embedding model the most (easy negatives are already
    far; hard ones define the margin). The selection stage of every
    retrieval-model training loop.

    Parity: anchors are hash-chosen (f7's exact-K discipline);
    similarity 6dp-rounded BEFORE ranking so the rank can't flip on a
    fold ulp; ties break on vec_id.

    100 TB notes: the anchor set (tiny, broadcast) crossJoins into the
    corpus scan — one pass, no corpus self-join; per-anchor top-k
    folds into the window over anchor-partitioned rows (anchors ≪
    corpus ⇒ the window input is anchors x corpus rows BUT the
    exchange is anchor-keyed; at production scale the scan side
    pre-prunes with j3b's IVF cells or j3c's LSH buckets and this
    exact ranking runs over candidates only)."""
    e = scan(spark, sf_dir, "embeddings").filter(vec_ok())
    a = (
        e.select(
            F.col("vec_id").alias("anchor_id"),
            F.col("embedding").alias("av"),
            F.col("label").alias("alabel"),
            F.md5(
                F.concat(F.lit("hn:"), F.col("vec_id").cast("string"))
            ).alias("h"),
        )
        .orderBy("h")
        .limit(_J47_ANCHORS)
        .drop("h")
    )
    sim = F.round(cosine("av", "embedding"), 6)
    scored = (
        e.join(
            F.broadcast(a),
            (F.col("label") != F.col("alabel"))
            & (F.col("vec_id") != F.col("anchor_id")),
        )
        .select("anchor_id", F.col("vec_id").alias("neg_id"), sim.alias("cos_sim"))
    )
    w = Window.partitionBy("anchor_id").orderBy(
        F.col("cos_sim").desc(), "neg_id"
    )
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= _J47_K)
        .drop("rn")
    )


@query(
    "j50_tau_sweep",
    oracle=f"""
    WITH {EMB_OK},
    p AS (
        SELECT round({_SQL_DOT.format(a='a.embedding', b='b.embedding')}
                     / ({_SQL_NORM.format(a='a.embedding')}
                        * {_SQL_NORM.format(a='b.embedding')}), 6) AS cos_sim
        FROM emb a
        JOIN emb b ON a.label = b.label AND a.vec_id < b.vec_id
    )
    SELECT CAST(floor(cos_sim * 10) AS BIGINT) AS sim_bucket,
           CAST(COUNT(*) AS BIGINT) AS n_pairs
    FROM p WHERE cos_sim >= 0
    GROUP BY 1
    """,
)
def j50_tau_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup-threshold sensitivity sweep (j50): the within-block pair
    similarity HISTOGRAM (0.1-wide buckets) — how many pairs each
    candidate τ would declare duplicates. Run before committing to a
    threshold (j12/j41 pin τ=0.3/0.35): a τ sitting on a dense bucket
    edge means tiny threshold changes swing the dedup rate — you want
    τ in a valley. One pair computation serves every candidate τ;
    the naive sweep re-runs the pair join per τ.

    100 TB notes: reuses the j12 chunked triangle join (per-task pair
    work capped) with τ=0 on the 6dp-rounded score; the histogram is
    a ≤10-key partial agg — the sweep costs exactly one dedup pass.
    Bucket edges on the ROUNDED score keep membership engine-exact."""
    pairs = neardup_blocked(scan(spark, sf_dir, "embeddings"), tau=0.0, cap=128)
    return (
        pairs.groupBy(
            F.floor(F.col("cos_sim") * 10).cast("bigint").alias("sim_bucket")
        )
        .agg(F.count(F.lit(1)).alias("n_pairs"))
    )


# ---------------------------------------------------------------------------
# j54 — incremental ANN index refresh (IVF stats from a change feed)

#: deterministic change-feed simulation over `embeddings`:
#: base = vec_id % 5 != 0; inserts = vec_id % 5 == 0; deletes = base
#: vectors with vec_id % 7 == 3. Final corpus = base − deletes +
#: inserts = everything except the deletes.
_IVF_BASE_MOD, _IVF_INS_MOD, _IVF_DEL_MOD = 5, 5, 7

_IVF_IDX: dict[str, str] = {}  #: j54's base index dir per sf_dir


@query(
    "j54_incremental_ivf",
    oracle=f"""
    WITH fin AS (
        SELECT * FROM embeddings
        WHERE NOT (vec_id % 5 <> 0 AND vec_id % 7 = 3) AND {VOK}
    ),
    cent AS (
        SELECT label, pos,
               SUM(CAST(embedding[pos] AS DOUBLE)) / COUNT(*) AS c,
               COUNT(*) AS n
        FROM fin,
             LATERAL (SELECT unnest(generate_series(1, len(embedding))) AS pos)
        GROUP BY label, pos
    )
    SELECT label,
           CAST(MAX(n) AS BIGINT) AS n_vectors,
           round(SUM(c), 6) AS centroid_sum,
           round(sqrt(SUM(c * c)), 6) AS centroid_l2
    FROM cent GROUP BY label ORDER BY label
    """,
)
def j54_incremental_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental ANN index refresh (j54): maintain the j3b IVF index
    from a CHANGE FEED without recomputing over the base corpus — the
    streaming-index-maintenance gap named in the r7 verdict. The IVF
    cell statistics (per-cell count + per-dimension value sums) form
    an additive group, so a refresh is pure delta algebra:

        refreshed(cell) = persisted(cell) + Σ inserts − Σ deletes

    and the ORACLE proves the headline contract — the refreshed index
    is EXACTLY the index a full batch rebuild over the post-change
    corpus produces (the oracle computes the batch rebuild; the engine
    runs base-build → persist → delta-merge and must hash-match it).

    The change feed here is a deterministic simulation (base / insert
    / delete split on vec_id residues); in production the delta rows
    are a16's `SnapshotStore.changes()` output and the persisted stats
    live beside the snapshot — the algebra is identical, and the
    refresh job reads ONLY (persisted index stats, delta rows): this
    query materializes the base index to parquet and builds the
    refreshed index from that file, never re-touching base vectors.

    100 TB notes: refresh cost is O(delta × dims) map-side explode +
    one (label, pos)-keyed partial agg, merged against an index of
    size cells × dims (tiny — it is the thing that fits in memory by
    design); the corpus itself is scanned zero times. Cells emptied
    by deletes drop out (n'=0 filter). Query-side j3b is unchanged:
    it reads whatever stats table is current — index refresh and
    index serving decouple exactly like a15 compaction vs readers."""
    import tempfile

    e = scan(spark, sf_dir, "embeddings").filter(vec_ok())
    elem = e.select(
        "vec_id",
        "label",
        F.posexplode("embedding").alias("pos0", "val"),
    ).select(
        "vec_id",
        "label",
        (F.col("pos0") + 1).alias("pos"),
        _D(F.col("val")).alias("val"),
    )
    is_base = F.col("vec_id") % _IVF_BASE_MOD != 0
    is_del = is_base & (F.col("vec_id") % _IVF_DEL_MOD == 3)

    # 1. base index build → persisted stats (the offline artifact),
    # overwritten in one dir per sf_dir that repeated runs reuse: a
    # process cache under the scratch root, never freed by a scope (the
    # read below is lazy — the driver collects after we return).
    # Parity note: the merge computes base + Σins − Σdel in
    # floating point while the oracle sums the post-change corpus
    # directly; the 6dp ROUND absorbs the ulp drift of that
    # reassociation, with the theoretical caveat that a sum landing
    # within an ulp of a .5e-6 rounding boundary could flip — accepted
    # (documented) risk, same policy as the other rounded-double ids.
    idx_dir = _IVF_IDX.get(sf_dir) or _IVF_IDX.setdefault(
        sf_dir, tempfile.mkdtemp(prefix="j54_ivf_", dir=scratch.root())
    )
    elem.filter(is_base).groupBy("label", "pos").agg(
        F.sum("val").alias("s"), F.count(F.lit(1)).alias("n")
    ).write.mode("overwrite").parquet(idx_dir)

    # 2. signed delta stats from the change feed (inserts +1, deletes −1)
    delta = (
        elem.filter(~is_base | is_del)
        .withColumn("sign", F.when(is_del, F.lit(-1.0)).otherwise(F.lit(1.0)))
        .groupBy("label", "pos")
        .agg(
            F.sum(F.col("val") * F.col("sign")).alias("ds"),
            F.sum("sign").cast("long").alias("dn"),
        )
    )

    # 3. merge: persisted stats ⊕ delta — base vectors never re-read
    # NULL-SAFE merge on the cell key (r9 --nullkeys sweep): an
    # unlabeled vector forms the NULL cell — a legitimate index cell
    # the oracle's GROUP BY keeps as one group, but a plain full_outer
    # equi-join would never match base-NULL with delta-NULL (SQL
    # null ≠ null) and the merge would emit two split NULL rows.
    base = read_written(spark, idx_dir).alias("b")
    merged = (
        base.join(
            delta.alias("d"),
            F.col("b.label").eqNullSafe(F.col("d.label"))
            & (F.col("b.pos") == F.col("d.pos")),
            "full_outer",
        )
        .select(
            F.coalesce(F.col("b.label"), F.col("d.label")).alias("label"),
            F.coalesce(F.col("b.pos"), F.col("d.pos")).alias("pos"),
            (
                F.coalesce(F.col("s"), F.lit(0.0))
                + F.coalesce(F.col("ds"), F.lit(0.0))
            ).alias("s2"),
            (
                F.coalesce(F.col("n"), F.lit(0))
                + F.coalesce(F.col("dn"), F.lit(0))
            ).alias("n2"),
        )
        .filter(F.col("n2") > 0)
    )
    c = F.col("s2") / F.col("n2")
    return (
        merged.groupBy("label")
        .agg(
            F.max("n2").cast("long").alias("n_vectors"),
            F.round(F.sum(c), 6).alias("centroid_sum"),
            F.round(F.sqrt(F.sum(c * c)), 6).alias("centroid_l2"),
        )
        .orderBy("label")
    )
