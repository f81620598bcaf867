"""LLM-pipeline retrieval / clustering operators (SURVEY §2.J cont.):
j37 k-means semantic clustering, j38 BM25 retrieval, j39 edit-distance
nearest neighbour — the three classic "find related text" primitives a
curation pipeline needs beyond hash/LSH dedup (semantic grouping,
lexical relevance ranking, and typo-tolerant near-match).

Parity policy: every iterative/float step is made cross-engine
deterministic the same way the rest of the J-series is — seeds and
tie-breaks from md5 hash-ranks (engine-identical hex), element means
rounded to 6dp each iteration (j5's trick: sum-order double drift
~1e-13 ≪ the 5e-7 rounding boundary), argmins tie-broken on id, and
scores rounded 6dp at emission.

100 TB notes per-op in docstrings; the shared discipline: centroid /
query-term / threshold tables are tiny and broadcast; the corpus
shuffles at most once per logical step; raw text/vectors never ride a
shuffle that a digest or id could ride instead.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .canon import canon_docs, canon_oracle, canon_vecs
from ..operators.fixpoint import _MAD
from ..registry import query
from ..sources.tables import scan
from .vectors import VOK  # vector-quality gate, SQL twin (r9)

_K = 8  # j37 cluster count
_ITERS = 2  # j37 Lloyd iterations (unrolled identically in the oracle)

#: DuckDB fragment: squared L2 distance between two DOUBLE lists
_SQL_SQDIST = (
    "list_sum(list_transform(list_zip({a}, {b}), "
    "p -> (p[1] - p[2]) * (p[1] - p[2])))"
)


def _sqdist(a: Column, b: Column) -> Column:
    """Σ (aᵢ-bᵢ)² in double, in-order fold — bit-identical both engines
    for identical inputs (no reassociation: linear aggregate fold)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def _dvec(c: str) -> Column:
    return F.transform(F.col(c), lambda x: x.cast("double"))


def _assign(e: DataFrame, cent: DataFrame) -> DataFrame:
    """One Lloyd assignment step: nearest centroid per vector (squared
    L2, argmin tie-broken on cid via struct-min)."""
    d = e.crossJoin(F.broadcast(cent)).select(
        "vec_id",
        "v",
        "cid",
        _sqdist(F.col("v"), F.col("c")).alias("dist"),
    )
    return (
        d.groupBy("vec_id")
        .agg(
            F.min(F.struct("dist", "cid")).alias("m"),
            F.first("v").alias("v"),  # K identical copies per vec — safe
        )
        .select("vec_id", "v", F.col("m.cid").alias("cid"), F.col("m.dist").alias("dist"))
    )


def _recenter(assigned: DataFrame) -> DataFrame:
    """Element-wise member mean per cluster, rounded 6dp (cross-engine
    determinism — j5's policy), re-packed to array<double>."""
    elem = assigned.select(
        "cid", F.posexplode("v").alias("pos", "val")
    )
    means = elem.groupBy("cid", "pos").agg(
        F.round(F.sum("val") / F.count(F.lit(1)), 6).alias("mv")
    )
    return (
        means.groupBy("cid")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "mv"))),
                lambda s: s["mv"],
            ).alias("c")
        )
    )


def _kmeans_oracle() -> str:
    """Unrolled-_ITERS DuckDB mirror of j37 (same seeds, same rounding,
    same tie-breaks), built programmatically so both engines always
    unroll the SAME number of iterations."""
    dist = _SQL_SQDIST.format(a="v", b="c")
    sql = f"""
    WITH e AS (
        SELECT vec_id,
               list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        FROM embeddings
        WHERE {VOK}
    ),
    cent0 AS (
        SELECT row_number() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR))) AS cid,
               v AS c
        FROM e
        ORDER BY md5(CAST(vec_id AS VARCHAR))
        LIMIT {_K}
    )"""
    prev = "cent0"
    for it in range(1, _ITERS + 1):
        sql += f""",
    d{it} AS (
        SELECT vec_id, v, cid, {dist} AS dist,
               row_number() OVER (PARTITION BY vec_id ORDER BY {dist}, cid)
                 AS rn
        FROM e, {prev}
    ),
    a{it} AS (SELECT vec_id, v, cid, dist FROM d{it} WHERE rn = 1)"""
        if it < _ITERS:
            sql += f""",
    m{it} AS (
        SELECT cid, pos, round(SUM(v[pos]) / COUNT(*), 6) AS mv
        FROM a{it},
             LATERAL (SELECT unnest(generate_series(1, len(v))) AS pos)
        GROUP BY cid, pos
    ),
    cent{it} AS (SELECT cid, list(mv ORDER BY pos) AS c FROM m{it} GROUP BY cid)"""
            prev = f"cent{it}"
    sql += f"""
    SELECT cid AS cluster, COUNT(*) AS n_members,
           round(SUM(dist) / COUNT(*), 6) AS mean_sq_dist
    FROM a{_ITERS}
    GROUP BY cid
    ORDER BY cid
    """
    return sql


@query("j37_kmeans_cluster", oracle=canon_oracle(_kmeans_oracle(), vecs=True))
def j37_kmeans_cluster(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semantic clustering (j37): K-means (K=8, 2 Lloyd iterations)
    over the embedding corpus — the grouping stage of semantic dedup /
    topic balancing (pick one representative per tight cluster, or
    re-weight clusters in the training mixture).

    Determinism across engines AND runs: seed centroids are the K
    vectors with the smallest md5(vec_id) hex rank (no RNG);
    assignment argmin tie-breaks on centroid id via struct-min;
    iteration means round to 6dp (sum-order drift 1e-13 ≪ boundary) so
    both engines feed bit-identical centroids into the next iteration.

    100 TB notes: the centroid table is K rows — broadcast; each
    iteration is one embarrassingly-parallel distance scan plus one
    (cid,pos)-keyed partial-aggregable mean shuffle whose output is
    K·dim rows regardless of corpus size. Fixed iteration count keeps
    the plan static (no driver-side convergence loop over actions); at
    petabyte scale seeds come from a hash-ranked SAMPLE instead of a
    global sort — same determinism, no full-corpus ordering."""
    # glitched vectors (NULL / non-finite / zero) can neither seed nor
    # be assigned: vec_ok gate, symmetric with the oracle's WHERE (r9)
    from .vectors import vec_ok

    # lazy persist (r14): `e` feeds the seed top-K scan, both Lloyd
    # assignment passes and the recenter — four consumers, none served
    # by ReusedExchange (broadcast joins exchange nothing). Interleaved
    # A/B at sf0.1: 1.56 → 1.22 s median, results EQUAL. At 100 TB the
    # persisted projection is (id, vec) only and spills to disk.
    e = (
        canon_vecs(spark, sf_dir)
        .filter(vec_ok())
        .select("vec_id", _dvec("embedding").alias("v"))
    ).persist(_MAD)
    # top-K by hash via orderBy+limit = TakeOrderedAndProject (per-
    # partition heaps + driver merge, never a full corpus sort); the
    # row_number window then ranks only those K rows.
    seed_hash = F.md5(F.col("vec_id").cast("string").cast("binary"))
    topk = e.select(seed_hash.alias("h"), "v").orderBy("h").limit(_K)
    cent = topk.select(
        F.row_number().over(Window.orderBy("h")).alias("cid"),
        F.col("v").alias("c"),
    )
    assigned = None
    for it in range(1, _ITERS + 1):
        assigned = _assign(e, cent)
        if it < _ITERS:
            cent = _recenter(assigned)
    return (
        assigned.groupBy(F.col("cid").alias("cluster"))
        .agg(
            F.count(F.lit(1)).alias("n_members"),
            F.round(F.sum("dist") / F.count(F.lit(1)), 6).alias("mean_sq_dist"),
        )
        .orderBy("cluster")
    )


_BM25_TERMS = ("spark", "join", "vector")
_BM25_K1 = 1.2
_BM25_B = 0.75


def _bm25_oracle() -> str:
    """DuckDB mirror of j38, generated from the same constants: one
    (doc_id, token) aggregate, per-doc conditional term counts, a
    single-row corpus-stats aggregate, then the closed-form score."""
    tf_cols = ",\n               ".join(
        f"CAST(COALESCE(SUM(CASE WHEN token = '{t}' THEN tf END), 0) AS DOUBLE)"
        f" AS tf_{t}"
        for t in _BM25_TERMS
    )
    df_cols = ",\n               ".join(
        f"CAST(SUM(CASE WHEN tf_{t} > 0 THEN 1 ELSE 0 END) AS DOUBLE) AS df_{t}"
        for t in _BM25_TERMS
    )
    terms = " + ".join(
        f"(CASE WHEN tf_{t} > 0 THEN "
        f"ln((n_docs - df_{t} + 0.5) / (df_{t} + 0.5) + 1.0) "
        f"* tf_{t} * ({_BM25_K1} + 1.0) "
        f"/ (tf_{t} + {_BM25_K1} * (1.0 - {_BM25_B} + {_BM25_B} * dl / avgdl)) "
        f"ELSE 0.0 END)"
        for t in _BM25_TERMS
    )
    any_hit = " OR ".join(f"tf_{t} > 0" for t in _BM25_TERMS)
    return f"""
    WITH tok AS (
        SELECT doc_id, unnest(string_split(text, ' ')) AS token
        FROM documents
    ),
    tc AS (SELECT doc_id, token, COUNT(*) AS tf FROM tok GROUP BY doc_id, token),
    perdoc AS (
        SELECT doc_id, CAST(SUM(tf) AS DOUBLE) AS dl,
               {tf_cols}
        FROM tc GROUP BY doc_id
    ),
    g AS (
        SELECT CAST(COUNT(*) AS DOUBLE) AS n_docs,
               SUM(dl) / COUNT(*) AS avgdl,
               {df_cols}
        FROM perdoc
    )
    SELECT doc_id, round({terms}, 6) AS bm25
    FROM perdoc, g
    WHERE {any_hit}
    ORDER BY bm25 DESC, doc_id LIMIT 20
    """


@query("j38_bm25", oracle=_bm25_oracle())
def j38_bm25(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 retrieval (j38): Okapi BM25 (k1=1.2, b=0.75) top-20 for a
    fixed multi-term query — the lexical-relevance ranker of a data-
    curation search/inspection surface (and the classic hard-negative
    miner for retrieval training sets).

    Parity: idf/tf/length-norm are the identical IEEE expression both
    engines; the per-doc score is a FIXED-ORDER sum of the |Q| term
    expressions (not a row-order-dependent SUM), rounded 6dp before
    the top-k.

    100 TB notes: ONE corpus scan total. The explode feeds one
    (doc_id, token) partial-aggregable shuffle; per-doc term counts
    and lengths fold into one doc_id-keyed aggregate via conditional
    aggregation (no per-term joins); corpus stats (N, avgdl, per-term
    df) are a 1-row aggregate over that per-doc table, crossJoin-
    broadcast back — the per-doc exchange is REUSED for both
    consumers, no rescan; top-20 is TakeOrderedAndProject (per-
    partition heaps, no global sort). Raw text never shuffles."""
    docs = scan(spark, sf_dir, "documents").select("doc_id", "text")
    tc = (
        docs.select(
            "doc_id", F.explode(F.split(F.col("text"), " ")).alias("token")
        )
        .groupBy("doc_id", "token")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    perdoc = tc.groupBy("doc_id").agg(
        F.sum("tf").cast("double").alias("dl"),
        *[
            F.coalesce(
                F.sum(F.when(F.col("token") == t, F.col("tf"))), F.lit(0)
            )
            .cast("double")
            .alias(f"tf_{t}")
            for t in _BM25_TERMS
        ],
    )
    g = perdoc.agg(
        F.count(F.lit(1)).cast("double").alias("n_docs"),
        (F.sum("dl") / F.count(F.lit(1))).alias("avgdl"),
        *[
            F.sum(F.when(F.col(f"tf_{t}") > 0, 1).otherwise(0))
            .cast("double")
            .alias(f"df_{t}")
            for t in _BM25_TERMS
        ],
    )

    def term(t: str) -> Column:
        tf = F.col(f"tf_{t}")
        dfc = F.col(f"df_{t}")
        idf = F.log(
            (F.col("n_docs") - dfc + 0.5) / (dfc + 0.5) + 1.0
        )
        score = (
            idf
            * tf
            * (_BM25_K1 + 1.0)
            / (
                tf
                + _BM25_K1
                * (1.0 - _BM25_B + _BM25_B * F.col("dl") / F.col("avgdl"))
            )
        )
        return F.when(tf > 0, score).otherwise(F.lit(0.0))

    total = term(_BM25_TERMS[0])
    for t in _BM25_TERMS[1:]:
        total = total + term(t)
    any_hit = F.col(f"tf_{_BM25_TERMS[0]}") > 0
    for t in _BM25_TERMS[1:]:
        any_hit = any_hit | (F.col(f"tf_{t}") > 0)
    return (
        perdoc.crossJoin(F.broadcast(g))
        .filter(any_hit)
        .select("doc_id", F.round(total, 6).alias("bm25"))
        .orderBy(F.col("bm25").desc(), "doc_id")
        .limit(20)
    )


_LEV_PREFIX = 48  # chars compared
_LEV_BUCKET = 16  # n_chars blocking width
#: printable-ASCII projection applied to the compared prefix on BOTH
#: engine and oracle sides. DuckDB's levenshtein counts UTF-8 BYTES,
#: Spark's (and the Myers kernel's) counts CODEPOINTS — they agree
#: only when the compared strings are pure ASCII, so a unicode-bearing
#: corpus would silently diverge. Restricting both sides to the same
#: ASCII subsequence makes byte==codepoint by construction.
_LEV_ASCII_RE = r"[^\x20-\x7E]"


@query(
    "j39_edit_distance_nn",
    oracle=canon_oracle(f"""
    WITH d AS (
        SELECT doc_id, lang, n_chars // {_LEV_BUCKET} AS bucket,
               substr(regexp_replace(text, '[^\\x20-\\x7E]', '', 'g'),
                      1, {_LEV_PREFIX}) AS prefix
        FROM documents
        WHERE text IS NOT NULL AND n_chars IS NOT NULL
    ),
    pairs AS (
        SELECT a.doc_id AS doc_id, b.doc_id AS other_id,
               levenshtein(a.prefix, b.prefix) AS dist,
               row_number() OVER (
                   PARTITION BY a.doc_id
                   ORDER BY levenshtein(a.prefix, b.prefix), b.doc_id
               ) AS rn
        FROM d a JOIN d b
          -- NULL-SAFE lang blocking (r9 --nullkeys): unknown-language
          -- docs are mutually comparable — they form their own block,
          -- exactly as the engine's groupBy treats the NULL group
          ON a.lang IS NOT DISTINCT FROM b.lang
         AND a.bucket = b.bucket
         AND a.doc_id <> b.doc_id
    )
    SELECT doc_id, other_id, dist FROM pairs WHERE rn = 1
    ORDER BY doc_id
    """, docs=True),
)
def j39_edit_distance_nn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Edit-distance nearest neighbour (j39): per document, the
    closest other document by Levenshtein distance on a 48-char
    prefix of the text's printable-ASCII projection, candidates
    blocked by (lang, length-bucket) — the typo-tolerant near-match
    primitive (OCR-noise dedup, template detection) that hash
    families like j2/j2b structurally miss (one character edit
    changes every shingle).

    UNICODE CONTRACT: the prefix is taken AFTER stripping non-ASCII
    (``_LEV_ASCII_RE``, applied identically in the oracle) because the
    two engines count different units — DuckDB levenshtein is UTF-8
    bytes, Spark/Myers is codepoints. On the ASCII subsequence the
    units coincide, so the comparison is engine-independent for ANY
    corpus, not just an ASCII-only one (pinned by the unicode parity
    unit test).

    Determinism: argmin tie-breaks on the neighbour id; Levenshtein
    is integer-exact in both engines (and in the kernel below).

    ENGINE CHOICE (measured, r7): the within-block scoring runs in an
    Arrow-batched ``applyInPandas`` with a NUMPY-VECTORIZED MYERS
    BIT-PARALLEL kernel (:func:`_myers_block_nn`) — a 48-char pattern
    fits one 64-bit word, so a pair costs ~48 word-ops instead of the
    48×48 DP cell sweep ``F.levenshtein`` runs per pair; the pair
    space is also halved (distance is symmetric — the SQL join form
    computes both orientations). sf0.1: 4.3 s (JVM codegen join) →
    ~0.7 s single-thread for ALL blocks, exact-equal argmins. This is
    the documented "UDF only when built-ins genuinely lose" case: the
    Arrow transfer ships each block's m rows once, not m² pair rows.

    100 TB notes: blocking bounds the quadratic — pair work is
    per-block O(m²) with m = block size, on a fixed 48-char payload.
    A (lang,bucket) equi-join lands ALL of a block's pairs on one
    task anyway, so the group-map shape does not change the skew
    story: mega-blocks get the j14 salted-hash pre-trim to a
    per-block candidate cap before pairing, exactly as before. The
    per-block argmin leaves one row per doc; raw full text never
    moves."""
    # NULL text/n_chars rows carry no comparable prefix: filter them
    # SYMMETRICALLY (the oracle's WHERE) — without this, Spark's
    # groupBy treats the NULL bucket as a real group (SQL equi-join
    # drops it) and the kernel sees None prefixes (task death).
    d = (
        canon_docs(spark, sf_dir)
        .filter(F.col("text").isNotNull() & F.col("n_chars").isNotNull())
        .select(
            "doc_id",
            "lang",
            (F.col("n_chars") / _LEV_BUCKET).cast("int").alias("bucket"),
            F.substring(
                F.regexp_replace("text", _LEV_ASCII_RE, ""), 1, _LEV_PREFIX
            ).alias("prefix"),
        )
    )

    def nn(pdf):
        import pandas as pd

        if len(pdf) < 2:
            return pd.DataFrame(
                {"doc_id": [], "other_id": [], "dist": []}
            ).astype({"doc_id": "int64", "other_id": "int64", "dist": "int32"})
        di, do, dd = _myers_block_nn(
            list(pdf["prefix"]), pdf["doc_id"].to_numpy(), _LEV_PREFIX
        )
        return pd.DataFrame(
            {"doc_id": di, "other_id": do, "dist": dd.astype("int32")}
        )

    # lazy persist BEFORE the global sort (r15, guide §5/§2.4): a
    # range exchange SAMPLES its child to pick partition bounds, and
    # the stage between the last exchange and the sort here is the
    # Myers kernel itself — without the persist the whole
    # FlatMapGroupsInPandas re-runs for the sample pass (process-
    # alternated A/B, one run per fresh session with python workers
    # pre-warmed — the bench-serial model: 4.05 → 2.60 s med of 4).
    # The cached frame is one row per doc (3 scalars), disk-spillable
    # and lineage-recoverable; at 100 TB prefer writing the NN table
    # and sorting on read, same one-materialization principle.
    return (
        d.groupBy("lang", "bucket")
        .applyInPandas(nn, "doc_id long, other_id long, dist int")
        .persist(_MAD)
        .orderBy("doc_id")
    )


def _myers_block_nn(strs, ids, width: int):
    """Exact within-block Levenshtein nearest neighbour: for every
    string, min (dist, other_id) over all other block members.

    Myers' bit-parallel edit distance (Hyyrö's formulation),
    vectorized over the PAIR axis with numpy uint64 ops: each
    pattern's match positions per character live in one machine word
    (``width`` ≤ 63 enforced), one text column updates every pair in
    a handful of array ops. Pattern bit-tables (Peq) are built once
    per ROW, not per pair, and each unordered pair is scored once
    (symmetry). Codepoint semantics ('<U' arrays are UTF-32) — same
    unit Spark's levenshtein counts; lengths come from Python len()
    so NUL-bearing strings stay correct (pad positions never enter
    Peq: the build loop stops at each row's length)."""
    import numpy as np

    if width > 63:
        # a plain raise, not assert: under `python -O` a silently
        # skipped guard would let >63-char patterns overflow the
        # one-word bit kernel into WRONG distances, not a crash
        raise ValueError(
            "bit-parallel kernel needs the pattern in one word "
            f"(width {width} > 63)"
        )
    m = len(strs)
    U = np.array(strs, dtype=f"<U{width}")
    A = U.view(np.uint32).reshape(m, width)
    la = np.fromiter((len(s) for s in strs), dtype=np.int64, count=m)
    alph = np.unique(A)
    Ai = np.searchsorted(alph, A)
    Peq = np.zeros((m, len(alph)), dtype=np.uint64)
    rows = np.arange(m)
    for i in range(int(la.max(initial=0))):
        valid = i < la
        np.bitwise_or.at(
            Peq, (rows[valid], Ai[valid, i]), np.uint64(1) << np.uint64(i)
        )
    ii, jj = np.triu_indices(m, 1)
    lp, lt = la[ii], la[jj]
    VP = (np.uint64(1) << lp.astype(np.uint64)) - np.uint64(1)
    VN = np.zeros(len(ii), dtype=np.uint64)
    score = lp.copy()
    msb = np.where(
        lp > 0, np.uint64(1) << (lp - 1).astype(np.uint64), np.uint64(0)
    )
    one = np.uint64(1)
    for col in range(int(lt.max(initial=0))):
        act = col < lt
        Eq = Peq[ii, Ai[jj, col]]
        D0 = (((Eq & VP) + VP) ^ VP) | Eq | VN
        HP = VN | ~(D0 | VP)
        HN = VP & D0
        score = score + (act & ((HP & msb) != 0))
        score = score - (act & ((HN & msb) != 0))
        HPs = (HP << one) | one
        HNs = HN << one
        VPn = HNs | ~(D0 | HPs)
        VNn = HPs & D0
        VP = np.where(act, VPn, VP)
        VN = np.where(act, VNn, VN)
    dist = np.where(lp == 0, lt, score)
    ids = np.asarray(ids, dtype=np.int64)
    di = np.concatenate([ids[ii], ids[jj]])
    do = np.concatenate([ids[jj], ids[ii]])
    dd = np.concatenate([dist, dist])
    order = np.lexsort((do, dd, di))
    di, do, dd = di[order], do[order], dd[order]
    first = np.ones(len(di), dtype=bool)
    first[1:] = di[1:] != di[:-1]
    return di[first], do[first], dd[first]


_VOCAB_SIZE = 256


@query(
    "j40_vocab_oov",
    oracle=f"""
    WITH tok AS (
        SELECT doc_id, lang, unnest(string_split(text, ' ')) AS token
        FROM documents
    ),
    tc AS (SELECT token, COUNT(*) AS cnt FROM tok GROUP BY token),
    vocab AS (
        SELECT token FROM tc ORDER BY cnt DESC, token LIMIT {_VOCAB_SIZE}
    ),
    perdoc AS (
        SELECT t.doc_id, t.lang,
               COUNT(*) AS n_tok,
               SUM(CASE WHEN v.token IS NULL THEN 1 ELSE 0 END) AS n_oov
        FROM tok t LEFT JOIN vocab v ON v.token = t.token
        GROUP BY t.doc_id, t.lang
    )
    SELECT lang, COUNT(*) AS n_docs,
           round(SUM(CAST(n_oov AS DOUBLE) / n_tok) / COUNT(*), 6)
             AS avg_oov_rate
    FROM perdoc
    GROUP BY lang
    ORDER BY lang
    """,
)
def j40_vocab_oov(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary-coverage audit (j40): build a top-256
    frequency vocabulary over the corpus, then report each language's
    average per-document out-of-vocabulary token rate — the tokenizer-
    coverage check run before committing to a vocab/tokenizer (high
    OOV in a language ⇒ the tokenizer will shred it into bytes).

    Parity: per-doc rates are exact-integer ratios in double; the
    per-lang average sums doc-count many doubles (engine order) and
    rounds 6dp. Vocabulary selection ties break on the token string.

    100 TB notes: ONE corpus explode; the global term-count aggregate
    partial-aggs to vocabulary-cardinality rows and its top-K is
    TakeOrderedAndProject; the vocab (K rows) broadcasts back into the
    same exploded lineage (left anti-ish via left join + null test),
    and the per-doc / per-lang aggregates are two partial-aggable
    shuffles on shrinking keys. Raw text never shuffles — tokens do,
    once, into the (doc_id, lang) aggregate."""
    tok = scan(spark, sf_dir, "documents").select(
        "doc_id", "lang", F.explode(F.split(F.col("text"), " ")).alias("token")
    )
    vocab = (
        tok.groupBy("token")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .orderBy(F.col("cnt").desc(), "token")
        .limit(_VOCAB_SIZE)
        .select(F.col("token").alias("vtoken"))
    )
    perdoc = (
        tok.join(F.broadcast(vocab), tok["token"] == vocab["vtoken"], "left")
        .groupBy("doc_id", "lang")
        .agg(
            F.count(F.lit(1)).alias("n_tok"),
            F.sum(F.when(F.col("vtoken").isNull(), 1).otherwise(0)).alias("n_oov"),
        )
    )
    return (
        perdoc.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.round(
                F.sum(F.col("n_oov").cast("double") / F.col("n_tok"))
                / F.count(F.lit(1)),
                6,
            ).alias("avg_oov_rate"),
        )
        .orderBy("lang")
    )


_SD_K = 8  # semdedup(k=...) legacy fixed-K contract demo (not registered)
_SD_TAU = 0.35  # j41 semantic-dup cosine threshold (6dp-rounded compare)
#: j41 target cluster size: one seed centroid per ~_SD_PER vectors,
#: selected by a deterministic hash-rate rule (md5 32-bit prefix below
#: 2^32/_SD_PER). K therefore scales with N automatically — in BOTH
#: engines, with no corpus count and no eager driver-side job — which
#: is what keeps Σ cluster² pair work LINEAR in the corpus (the
#: SemDeDup paper's constant-cluster-size regime).
_SD_PER = 64
_SD_SEED_THRESH = (1 << 32) // _SD_PER
#: second-level (coarse) seed rate: 1/sqrt(N·per) — i.e. the coarse
#: cell count is ~sqrt(K), the classic IVF nlist ≈ sqrt(corpus)
#: balance point. Assignment is two-level — vector → nearest coarse
#: cell → exact argmax among that cell's fine centroids — so
#: per-vector fold work is O(sqrt(K) + K/sqrt(K)) = O(sqrt(K)) and
#: TOTAL assignment work is O(N·sqrt(K)) = O(N^1.5/sqrt(per)). A
#: FIXED coarse fan (K/FAN cells, the first r7 form) only divides the
#: N·K quadratic by FAN — per-vector work still grows ∝ N; the
#: sqrt rate is what actually changes the exponent. The rate is
#: integer-exact and count-derived IN-PLAN (no driver job): coarse
#: iff hv²·N·per < 2^64  ⇔  hv < 2^32/sqrt(N·per), evaluated in
#: DECIMAL(38,0) on the Spark side and HUGEINT in DuckDB — no float
#: sqrt, so the member set can never flip on a rounding boundary.
_SD_2POW64 = "18446744073709551616"  # 2^64 as an exact string literal


def _semdedup_oracle() -> str:
    """DuckDB mirror of j41 (same seeds, argmax tie-break, τ policy).

    Seed rule mirrors the Spark side exactly: hv = first-8-hex-chars
    of md5(vec_id) as an integer (`CAST('0x'||… AS BIGINT)` ≡ Spark
    `conv(…,16,10)`, verified cross-engine in j20); a row seeds iff
    hv < 2^32/_SD_PER OR hv is the corpus minimum (≥1 seed guarantee
    for tiny corpora). cid ranks seeds by the full md5 hex string —
    lowercase-hex lexicographic order agrees across engines."""
    from .vectors import _SQL_DOT, _SQL_NORM

    def cos(a: str, b: str) -> str:
        return (
            f"{_SQL_DOT.format(a=a, b=b)}"
            f" / ({_SQL_NORM.format(a=a)} * {_SQL_NORM.format(a=b)})"
        )

    sim_xy = cos("x.embedding", "y.embedding")
    return f"""
    WITH e0 AS (
        SELECT vec_id, embedding,
               list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v,
               md5(CAST(vec_id AS VARCHAR)) AS h,
               CAST('0x' || substr(md5(CAST(vec_id AS VARCHAR)), 1, 8)
                    AS BIGINT) AS hv
        FROM embeddings
        WHERE {VOK}
    ),
    e AS (SELECT vec_id, embedding, v FROM e0),
    fine AS (
        SELECT vec_id, row_number() OVER (ORDER BY h) AS cid, v AS c, hv
        FROM e0
        WHERE hv < {_SD_SEED_THRESH} OR hv = (SELECT min(hv) FROM e0)
    ),
    coarse AS (
        -- sqrt coarse rate, integer-exact in HUGEINT (mirrors the
        -- Spark side's DECIMAL(38,0) form bit-for-bit):
        -- hv*hv*N*per < 2^64  <=>  hv < 2^32/sqrt(N*per)
        SELECT cid AS ccid, c AS cc
        FROM fine
        WHERE CAST(hv AS HUGEINT) * hv
                * (SELECT COUNT(*) FROM e0) * {_SD_PER}
              < CAST('{_SD_2POW64}' AS HUGEINT)
           OR hv = (SELECT min(hv) FROM e0)
    ),
    vc0 AS (
        SELECT e.vec_id, coarse.ccid, {cos('e.v', 'coarse.cc')} AS sim
        FROM e, coarse
    ),
    vc AS (
        SELECT vec_id, ccid,
               row_number() OVER (PARTITION BY vec_id ORDER BY sim DESC, ccid)
                 AS rn
        FROM vc0
    ),
    v2c AS (SELECT vec_id, ccid FROM vc WHERE rn = 1),
    f2c AS (
        SELECT fine.cid, v2c.ccid
        FROM fine JOIN v2c ON v2c.vec_id = fine.vec_id
    ),
    d0 AS (
        SELECT e.vec_id, e.embedding, fine.cid, {cos('e.v', 'fine.c')} AS sim
        FROM e
        JOIN v2c ON v2c.vec_id = e.vec_id
        JOIN f2c ON f2c.ccid = v2c.ccid
        JOIN fine ON fine.cid = f2c.cid
    ),
    d AS (
        SELECT vec_id, embedding, cid,
               row_number() OVER (PARTITION BY vec_id ORDER BY sim DESC, cid)
                 AS rn
        FROM d0
    ),
    a AS (SELECT vec_id, embedding, cid FROM d WHERE rn = 1),
    dup AS (
        SELECT DISTINCT y.vec_id
        FROM a x JOIN a y ON x.cid = y.cid AND x.vec_id < y.vec_id
        WHERE round({sim_xy}, 6) >= {_SD_TAU}
    )
    SELECT a.vec_id, CAST(a.cid AS BIGINT) AS cluster,
           (dup.vec_id IS NOT NULL) AS is_dup
    FROM a LEFT JOIN dup ON dup.vec_id = a.vec_id
    """


@query("j41_semdedup", oracle=canon_oracle(_semdedup_oracle(), vecs=True))
def j41_semdedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup-style semantic dedup (j41, after Abbas et al. 2023):
    block the corpus by LEARNED clusters (cosine-nearest of K
    hash-ranked seed centroids — one K-means assignment step), then
    mark as duplicate every vector with a smaller-id near-neighbor
    (cosine ≥ τ, 6dp-rounded) in its cluster — the min-id chain
    survivor policy. Complements j12 (metadata-label blocking) with
    blocking learned from the data itself: works when no label exists.

    100 TB notes: the cluster assignment is a K-row broadcast scan
    (never a shuffle); within-cluster all-pairs go through the j12
    chunked triangle join, so per-task pair work is ≤ cap² even if one
    cluster swallows the corpus (the real SemDeDup failure mode —
    k-means on web data is heavily skewed); the dup-mark join carries
    ids only. Raw vectors ride exactly two shuffles (chunk replication
    + the id-keyed mark join), text/metadata none.

    SCALING CONTRACT: total pair work is Σ cluster². The registered
    query selects seeds by HASH RATE — one centroid per ~_SD_PER=64
    vectors (md5 prefix < 2^32/64, min-hash fallback guarantees ≥1) —
    so K ∝ N and cluster size stays ~constant as the corpus grows:
    the paper's regime, pair work linear in N. The rule is a pure
    per-row predicate: no corpus count, no eager job at plan time, and
    the oracle applies the identical predicate so both engines derive
    the same K from the data. (The old fixed-K registration measured
    exponent 1.05 at 8x — SCALING.md round-6; rate-based re-probe in
    the round-7 section.) :func:`semdedup` keeps explicit k for the
    fixed-K contract demo."""
    return semdedup(spark, sf_dir, per=_SD_PER, tau=_SD_TAU)


def semdedup(
    spark: SparkSession,
    sf_dir: str,
    tau: float,
    k: int | None = None,
    per: int | None = None,
    cap: int = 128,
) -> DataFrame:
    """Parametric SemDeDup (see :func:`j41_semdedup`): blocking
    clusters from hash-ranked seeds, dup threshold tau. Exactly one
    of ``k`` (fixed seed count — the legacy demo; quadratic as N
    grows: the N·K assignment crossJoin AND the broadcast of a K-row
    centroid table both scale with the corpus when K does) or ``per``
    (target cluster size — seeds at rate 1/per, so K ∝ N and pair
    work stays linear; assignment runs through the sqrt-rate
    two-level IVF, total O(N^1.5/sqrt(per)) fold work) must be given.
    Residual scale notes for the per= path: the coarse table
    (~sqrt(K) rows) and the fine cell map (K rows of id/vector) are
    broadcast — at a corpus size where K-row broadcasts stop fitting
    (K ~ 10^8+), swap the cellmap broadcast for a ccid-keyed shuffle
    join (values unchanged) and take the next level of the hierarchy
    (three-level: N^1.33); the within-cluster pair stage stays linear
    by the constant-cluster-size rate rule either way."""
    if (k is None) == (per is None):
        raise ValueError("pass exactly one of k= or per=")
    from .vectors import dot, l2norm, neardup_blocked

    # symmetric vector-quality gate (oracle WHERE, r9): a NULL/
    # non-finite/zero vector has no norm, no cell, no pair — and must
    # not become a seed (one NaN seed would NaN every sim in its cell).
    from .vectors import vec_ok

    e = (
        canon_vecs(spark, sf_dir)
        .filter(vec_ok())
        .select("vec_id", "embedding", _dvec("embedding").alias("v"))
    )
    seed_hash = F.md5(F.col("vec_id").cast("string").cast("binary"))

    # Norms are hoisted OUT of every scoring join: l2norm(v) once per
    # vector (N folds) and l2norm(c) once per centroid (K folds)
    # instead of once per PAIR — bit-identical sim values (same
    # per-row fold, same division), ~3× less lambda work. The
    # embedding payload never rides a scoring join: argmax runs on
    # (vec_id, cid, sim) and the array joins back id-keyed after.
    en = e.select("vec_id", "v", l2norm(F.col("v")).alias("nv"))
    sim = dot(F.col("v"), F.col("c")) / (F.col("nv") * F.col("nc"))

    def argmax(scored, key, out):
        return (
            scored.groupBy(key)
            .agg(
                F.min(
                    F.struct((-F.col("sim")).alias("ns"), F.col("cid"))
                ).alias("m")
            )
            .select(key, F.col("m.cid").alias(out))
        )

    if k is not None:
        # Legacy fixed-K contract demo: flat N·K scoring.
        seeds = e.select(seed_hash.alias("h"), "v").orderBy("h").limit(k)
        cent = seeds.select(
            F.row_number().over(Window.orderBy("h")).alias("cid"),
            F.col("v").alias("c"),
        ).withColumn("nc", l2norm(F.col("c")))
        label = argmax(
            en.crossJoin(F.broadcast(cent)).select(
                "vec_id", F.col("cid"), sim.alias("sim")
            ),
            "vec_id",
            "label",
        )
    else:
        # Rate rule: seed iff the 32-bit md5 prefix < 2^32/per, OR it
        # is the corpus-min prefix (≥1 seed even on a tiny corpus).
        # The min and the corpus count ride ONE 1-row aggregate
        # broadcast and the whole rule stays inside the plan (zero
        # driver-side jobs). Assignment is two-level IVF: a
        # 1/sqrt(N·per)-rate subset of the fine seeds forms ~sqrt(K)
        # coarse cells (the min-hv fallback row qualifies for both
        # levels, so coarse is never empty); each fine centroid and
        # each vector argmax-assigns to its nearest coarse cell, then
        # the vector exact-scores ONLY that cell's fine centroids.
        # Per-vector fold work is ~2·sqrt(K) (sqrt(K) coarse cells +
        # expected sqrt(K) fine per cell), so TOTAL assignment work is
        # O(N^1.5/sqrt(per)) — a fixed-FAN coarse level (the first r7
        # form) only divided the N·K/per quadratic by FAN. Every
        # coarse cell contains at least its own fine centroid
        # (sim(c,c)=1 is the argmax), so every vector sees ≥1
        # candidate. Standard IVF cell-border caveat: a vector near a
        # cell boundary may label to a near- rather than
        # global-nearest centroid — acceptable for blocking (the pair
        # stage re-checks real cosine), mirrored exactly by the
        # oracle.
        hv = F.conv(F.substring(seed_hash, 1, 8), 16, 10).cast("long")
        e2 = e.select(
            "vec_id", seed_hash.alias("h"), hv.alias("hv"), "v"
        )
        # one 1-row aggregate carries BOTH the min-hash fallback and
        # the corpus count the sqrt coarse rate needs — still a single
        # broadcast, still zero driver-side jobs at plan time.
        stats = e2.agg(
            F.min("hv").alias("minhv"), F.count(F.lit(1)).alias("nvec")
        )
        seeds = (
            e2.crossJoin(F.broadcast(stats))
            .where(
                (F.col("hv") < F.lit((1 << 32) // per))
                | (F.col("hv") == F.col("minhv"))
            )
            .select("vec_id", "h", "hv", "v", "minhv", "nvec")
        )
        # fine (K rows) and v2c (N id-pairs) each feed two consumers;
        # lazy-persist both so their lineages evaluate once (same
        # values — pure materialization). `en` deliberately NOT
        # persisted: it is corpus-wide WITH vectors, and at scale
        # re-scanning the columnar source per consumer is cheaper
        # than materializing a full corpus copy.
        fine = seeds.select(
            "vec_id",
            F.row_number().over(Window.orderBy("h")).alias("cid"),
            F.col("v").alias("c"),
            "hv",
            "minhv",
            "nvec",
        ).withColumn("nc", l2norm(F.col("c"))).persist(_MAD)
        # sqrt coarse rate, integer-exact: hv²·N·per < 2^64 (see the
        # _SD_2POW64 note). hv² reaches 2^64, so the product evaluates
        # in DECIMAL(38,0) — exact for hv²·N·per up to 10^38.
        coarse = fine.where(
            (
                F.col("hv").cast("decimal(38,0)")
                * F.col("hv")
                * F.col("nvec")
                * F.lit(per)
                < F.expr(f"CAST('{_SD_2POW64}' AS DECIMAL(38,0))")
            )
            | (F.col("hv") == F.col("minhv"))
        ).select(
            F.col("cid").alias("ccid"),
            F.col("c").alias("cc"),
            F.col("nc").alias("ncc"),
        )
        csim = dot(F.col("v"), F.col("cc")) / (F.col("nv") * F.col("ncc"))
        # vector -> nearest coarse cell (N·Kc folds)
        v2c = argmax(
            en.crossJoin(F.broadcast(coarse)).select(
                "vec_id", F.col("ccid").alias("cid"), csim.alias("sim")
            ),
            "vec_id",
            "ccid",
        ).persist(_MAD)
        # fine centroid -> coarse cell: every fine centroid IS a corpus
        # vector, so v2c already holds its argmax — join it out rather
        # than re-scoring a separate fine×coarse pass (one fewer
        # crossJoin + aggregate stage, identical values and tie-break).
        cellmap = fine.select("vec_id", "cid", "c", "nc").join(
            v2c, "vec_id"
        ).select("cid", "c", "nc", "ccid")
        # vector -> exact argmax among its cell's fine centroids
        label = argmax(
            en.join(v2c, "vec_id")
            .join(F.broadcast(cellmap), "ccid")
            .select("vec_id", F.col("cid"), sim.alias("sim")),
            "vec_id",
            "label",
        )
    # Lazy persist: `assigned` feeds FOUR consumers (the pair stage's
    # count/a-side/b-side plus the final mark join), and Spark's tree
    # plans duplicate the entire assignment lineage per consumer —
    # measured 50 embedding scans / 42 broadcast builds / 0
    # ReusedExchange in the un-materialized executed plan. Persisting
    # the N-row assignment once collapses that to one evaluation (same
    # values; warm sf0.1 ~4.7 → ~2 s).
    assigned = e.select("vec_id", "embedding").join(
        label, "vec_id"
    ).persist(_MAD)
    pairs = neardup_blocked(assigned, tau=tau, cap=cap)
    dup = pairs.select(F.col("vec_b").alias("vec_id")).distinct()
    return assigned.join(
        dup.withColumn("d", F.lit(True)), "vec_id", "left"
    ).select(
        "vec_id",
        F.col("label").cast("bigint").alias("cluster"),
        F.coalesce(F.col("d"), F.lit(False)).alias("is_dup"),
    )
