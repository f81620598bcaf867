"""LLM-pipeline curation operators, wave 3 (SURVEY §2-addendum r5):
cross-doc boilerplate removal, quality classification, sequence
packing [NS].

100 TB notes: j27 shuffles 16-byte chunk digests + (doc_id, chunk)
pairs — raw text moves exactly once, into bounded W-word chunks; j28
is a pure map (zero shuffle, whole-stage codegen); j29 is the textbook
two-phase distributed prefix-sum — per-bucket partial sums first, a
bucket-cardinality (tiny) running total second, broadcast back — so no
single task ever sees a whole language partition.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .canon import canon_docs, canon_oracle
from ..operators.fixpoint import _MAD
from ..registry import query
from ..sources.tables import scan, spread

#: j27 chunk width (words). Small on purpose: the synthetic corpus has
#: a ~30-word vocabulary, so 3-grams actually repeat across documents
#: and the removal path is exercised; production pipelines use larger
#: W (e.g. CCNet-style line/paragraph units).
CHUNK_W = 3

#: j29 tokens per packed training sequence.
SEQ_BUDGET = 256

#: j29 docs per prefix-sum bucket (phase-1 parallel unit).
PACK_BUCKET = 100

#: j31 n-gram width (words).
NOVELTY_N = 3


@query(
    "j27_chunk_dedup",
    oracle=canon_oracle(f"""
    WITH d AS (SELECT doc_id, string_split(lower(text), ' ') AS w
               FROM documents),
    -- LINEAR chunk build: one row per token, grouped by its chunk
    -- ordinal — NOT list_slice(w, cid*W+1, ...) per chunk, which
    -- copies the full token list per chunk row in duckdb and ground
    -- 545 s on one 180k-token document (r8 --pathdocs; the Spark
    -- side of the same query runs 9 s)
    tok AS (
        SELECT doc_id, unnest(range(1, length(w) + 1)) AS pos,
               unnest(w) AS word
        FROM d
    ),
    ch AS (
        SELECT doc_id, (pos - 1) // {CHUNK_W} AS cid,
               string_agg(word, ' ' ORDER BY pos) AS chunk_txt
        FROM tok GROUP BY doc_id, (pos - 1) // {CHUNK_W}
    ),
    freq AS (SELECT md5(chunk_txt) AS dig, COUNT(DISTINCT doc_id) AS ndocs
             FROM ch GROUP BY 1)
    SELECT doc_id,
           COUNT(*) AS n_chunks,
           CAST(SUM(CASE WHEN ndocs >= 2 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_removed,
           COALESCE(string_agg(CASE WHEN ndocs < 2 THEN chunk_txt END,
                               ' ' ORDER BY cid), '') AS cleaned_text
    FROM ch JOIN freq ON md5(chunk_txt) = dig
    GROUP BY doc_id
    """, docs=True),
)
def j27_chunk_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-document chunk dedup (j27): the CCNet/RefinedWeb-style
    boilerplate scrub. Every document splits into fixed-width
    CHUNK_W-word chunks; a chunk whose text occurs in ≥2 distinct
    documents is boilerplate and is removed from ALL of them; the
    cleaned document is the surviving chunks re-joined in order.

    Shape: explode → digest-keyed doc-frequency agg (partial-agg
    friendly: countDistinct over 16-byte md5 keys) → digest join back →
    one doc_id-keyed reassembly shuffle. Raw text crosses the wire
    chunk-wise exactly once; the frequency side carries digests only.
    At 100 TB the digest agg is the classic hot-key-free shuffle; the
    reassembly is bounded by document size, not corpus size."""
    d = spread(
        canon_docs(spark, sf_dir).select("doc_id", "text"), "doc_id"
    ).select("doc_id", F.split(F.lower("text"), " ").alias("w"))
    ch = d.select(
        "doc_id",
        F.explode(
            F.sequence(
                F.lit(0),
                F.ceil(F.size("w") / F.lit(float(CHUNK_W))).cast("int") - 1,
            )
        ).alias("cid"),
        "w",
    ).select(
        "doc_id",
        "cid",
        F.array_join(
            F.slice("w", F.col("cid") * CHUNK_W + 1, F.lit(CHUNK_W)), " "
        ).alias("chunk_txt"),
    )
    # digest as a REAL COLUMN + lazy persist before both consumers
    # (r14, the j53 pattern): `ch`'s lineage (split + explode + slice/
    # array_join over raw text) is the dominant compute of the id and
    # feeds BOTH the frequency agg and the join-back side — without
    # the persist it runs twice (the c19 lineage-duplication class; no
    # AQE ReusedExchange serves it because the agg side exchanges a
    # partial-agg projection, not the probe projection). The digest
    # column also drops the old duplicate md5(chunk_txt) evaluation in
    # the join condition.
    #
    # PERSIST LIFECYCLE CONTRACT (r14 ADVICE; applies to every per-query
    # lazy persist in this package — j20/j27/j37/j3c/j41/j52/j53/d18/
    # heavy_hitters and kin): the cached blocks are query-instance-
    # scoped and deliberately NOT unpersisted after the consuming action
    # — the registered query returns an unevaluated DataFrame, so there
    # is no post-action hook inside the query, and an eager cleanup
    # would have to materialize the result first (changing what the
    # query returns). Deployments that run many queries per long-lived
    # session rely on (a) MEMORY_AND_DISK falling back to disk under
    # pressure, (b) the block manager's LRU eviction, and (c) lineage
    # recoverability of every persisted frame (evicted blocks recompute
    # correctly). A 100 TB job runner that wants deterministic release
    # should call df.unpersist() on its own schedule after the sink
    # action completes.
    ch = ch.withColumn("dig", F.md5("chunk_txt")).persist(_MAD)
    freq = ch.groupBy("dig").agg(
        F.count_distinct("doc_id").alias("ndocs")
    )
    joined = ch.join(freq, "dig")
    kept_struct = F.when(
        F.col("ndocs") < 2, F.struct("cid", "chunk_txt")
    )  # collect_list drops nulls -> only kept chunks are gathered
    return (
        joined.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_chunks"),
            F.sum(F.when(F.col("ndocs") >= 2, 1).otherwise(0)).alias(
                "n_removed"
            ),
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(kept_struct)),
                    lambda s: s.chunk_txt,
                ),
                " ",
            ).alias("cleaned_text"),
        )
    )


def quality_columns() -> list:
    """The j28 feature/score column expressions — shared by the batch
    classifier (j28) and its streaming application (i14): one
    definition guarantees batch and stream gate documents
    identically."""
    w = F.split(F.lower("text"), " ")
    n_tok = F.size(w)
    n_chars = F.length("text").cast("double")
    ttr = F.size(F.array_distinct(w)).cast("double") / n_tok
    stop_ratio = (
        F.size(F.filter(w, lambda x: x.isin("a", "the"))).cast("double")
        / n_tok
    )
    mean_len = (n_chars - (n_tok - F.lit(1))) / n_tok
    score = F.round(
        F.lit(0.3)
        + F.lit(1.2) * ttr
        - F.lit(0.8) * stop_ratio
        + F.lit(0.05) * mean_len
        - F.lit(0.002) * n_tok,
        6,
    )
    return [
        F.col("doc_id"),
        F.col("lang"),
        n_tok.cast("long").alias("n_tok"),
        F.round(ttr, 6).alias("ttr"),
        F.round(stop_ratio, 6).alias("stop_ratio"),
        score.alias("score"),
        (score >= 0.5).alias("keep"),
    ]


@query(
    "j28_quality_classifier",
    oracle="""
    WITH f AS (
        SELECT doc_id, lang,
               string_split(lower(text), ' ') AS w,
               CAST(length(text) AS DOUBLE) AS n_chars
        FROM documents
    ),
    feat AS (
        SELECT doc_id, lang,
               CAST(length(w) AS BIGINT) AS n_tok,
               CAST(length(list_distinct(w)) AS DOUBLE) / length(w) AS ttr,
               CAST(length(list_filter(w, x -> x IN ('a', 'the')))
                    AS DOUBLE) / length(w) AS stop_ratio,
               (n_chars - (length(w) - 1)) / length(w) AS mean_len
        FROM f
    )
    SELECT doc_id, lang, n_tok,
           ROUND(ttr, 6) AS ttr,
           ROUND(stop_ratio, 6) AS stop_ratio,
           ROUND(0.3 + 1.2 * ttr - 0.8 * stop_ratio + 0.05 * mean_len
                 - 0.002 * n_tok, 6) AS score,
           ROUND(0.3 + 1.2 * ttr - 0.8 * stop_ratio + 0.05 * mean_len
                 - 0.002 * n_tok, 6) >= 0.5 AS keep
    FROM feat
    """,
)
def j28_quality_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality classifier (j28): fixed-weight linear model over cheap
    engineered features — type-token ratio, stopword ratio, mean word
    length, length penalty — the shape of a fasttext-style quality
    gate with the learned weights pinned as constants.

    Pure map in one whole-stage-codegen span: zero shuffle, pushes to
    the scan, embarrassingly parallel at any scale. Feature divisions
    and the linear combination are written in the identical
    parenthesization on both engines; the 6dp round is insurance, not
    a crutch — each feature is a single IEEE division."""
    d = spread(
        scan(spark, sf_dir, "documents").select("doc_id", "lang", "text")
    )
    return d.select(*quality_columns())


@query(
    "j29_seq_pack",
    oracle=canon_oracle(f"""
    -- a doc with NULL lang has no per-language stream to pack into:
    -- excluded in BOTH engines (r9 --nullkeys; the engine side always
    -- filtered for plan-canonicalization — now it is the documented
    -- semantic, not a plan trick)
    WITH t AS (SELECT doc_id, lang,
                      CAST(length(string_split(text, ' ')) AS BIGINT)
                          AS n_tok
               FROM documents WHERE lang IS NOT NULL),
    c AS (SELECT doc_id, lang, n_tok,
                 SUM(n_tok) OVER (PARTITION BY lang ORDER BY doc_id
                                  ROWS UNBOUNDED PRECEDING) AS cum
          FROM t)
    SELECT doc_id, lang, n_tok,
           CAST(cum - n_tok AS BIGINT) AS stream_off,
           CAST((cum - n_tok) // {SEQ_BUDGET} AS BIGINT) AS seq_id
    FROM c
    """, docs=True),
)
def j29_seq_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence packing (j29): concat-and-chunk pretraining layout.
    Documents stream in deterministic (lang, doc_id) order; each doc's
    start offset in the per-language token stream assigns it to a
    SEQ_BUDGET-token training sequence (seq_id = start div budget).

    The naive plan — one window cumsum per language — funnels every
    document of a language through ONE task (the classic 100 TB
    prefix-sum wall). This runs the two-phase scan instead:
    phase 1 computes within-bucket cumsums in parallel (bucket =
    doc_id div PACK_BUCKET, a window over small bounded partitions);
    phase 2 aggregates one row per bucket (corpus/PACK_BUCKET rows —
    tiny), runs the running total over THAT, and broadcasts the bucket
    base offsets back. Every offset is integer arithmetic ⇒ bit-exact
    vs the oracle's single-window formulation."""
    t = spread(
        canon_docs(spark, sf_dir).select("doc_id", "lang", "text")
    ).select(
        "doc_id",
        "lang",
        F.size(F.split("text", " ")).cast("long").alias("n_tok"),
        (F.col("doc_id") / F.lit(PACK_BUCKET)).cast("long").alias("bucket"),
    )
    # Filter the join keys non-null BEFORE the plan branches: the join
    # below would otherwise infer isnotnull constraints asymmetrically
    # into the two branches, their canonical plans would diverge, and
    # AQE's ReusedExchange would miss — doubling the corpus scan
    # (verified: with this filter the executed plan has ONE FileScan).
    t = t.filter(F.col("lang").isNotNull() & F.col("bucket").isNotNull())
    in_bucket = Window.partitionBy("lang", "bucket").orderBy("doc_id")
    phase1 = t.withColumn(
        "local_cum", F.sum("n_tok").over(in_bucket) - F.col("n_tok")
    )
    bucket_w = Window.partitionBy("lang").orderBy("bucket")
    # Derive bucket totals FROM phase1 (last row's local_cum + n_tok ==
    # the bucket sum), not from a second scan of t: the groupBy hashes
    # on the same (lang, bucket) keys as phase1's window exchange, so
    # AQE serves it from a ReusedExchange — the corpus is scanned and
    # tokenized exactly once.
    offsets = (
        phase1.groupBy("lang", "bucket")
        .agg(F.max(F.col("local_cum") + F.col("n_tok")).alias("btotal"))
        .withColumn(
            "base", F.sum("btotal").over(bucket_w) - F.col("btotal")
        )
        .select("lang", "bucket", "base")
    )
    return (
        phase1.join(F.broadcast(offsets), ["lang", "bucket"])
        .withColumn("stream_off", F.col("base") + F.col("local_cum"))
        .select(
            "doc_id",
            "lang",
            "n_tok",
            "stream_off",
            # integer div, not /: double division truncates silently
            # past 2^53 at real stream lengths
            F.expr(f"stream_off div {SEQ_BUDGET}").alias("seq_id"),
        )
    )


@query(
    "j31_novelty_score",
    oracle=canon_oracle(f"""
    WITH d AS (SELECT doc_id, string_split(lower(text), ' ') AS w
               FROM documents),
    -- LINEAR gram build (lead-chain): list_slice(w, i, i+n) per
    -- position copies the outer token list per gram in duckdb —
    -- quadratic on a giant document (the j22/j53 --pathdocs class)
    tok AS (
        SELECT doc_id, unnest(range(1, length(w) + 1)) AS pos,
               unnest(w) AS word
        FROM d
    ),
    g0 AS (
        SELECT doc_id, word || ' ' || lead(word, 1) OVER lw || ' ' || lead(word, 2) OVER lw AS gram
        FROM tok WINDOW lw AS (PARTITION BY doc_id ORDER BY pos)
    ),
    grams AS (SELECT DISTINCT doc_id, gram FROM g0 WHERE gram IS NOT NULL),
    first_seen AS (SELECT gram, MIN(doc_id) AS first_doc
                   FROM grams GROUP BY gram)
    SELECT g.doc_id,
           COUNT(*) AS n_grams,
           CAST(SUM(CASE WHEN f.first_doc < g.doc_id THEN 1 ELSE 0 END)
                AS BIGINT) AS n_seen_before,
           ROUND(1.0 - CAST(SUM(CASE WHEN f.first_doc < g.doc_id
                                     THEN 1 ELSE 0 END) AS DOUBLE)
                       / COUNT(*), 6) AS novelty
    FROM grams g JOIN first_seen f ON g.gram = f.gram
    GROUP BY g.doc_id
    """, docs=True),
)
def j31_novelty_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N-gram novelty scoring (j31): for each document, the fraction
    of its distinct word-3-grams that no earlier document (lower
    doc_id = earlier in the stream) already contains — the
    memorization-risk / freshness metric run over incoming crawl
    batches. novelty 1.0 = all new text; ≈0 = the doc restates the
    corpus.

    Shape: sliding-gram explode → distinct → gram-keyed MIN(doc_id)
    agg (partial-agg friendly) → gram join back → doc_id agg. Raw
    grams shuffle once; the first-seen side carries (gram, min) pairs.
    Same chassis as j27 with frequency replaced by first-occurrence —
    at 100 TB the gram-keyed agg dominates and has no hot key (grams
    near-unique by construction)."""
    d = spread(
        canon_docs(spark, sf_dir).select("doc_id", "text"), "doc_id"
    ).select("doc_id", F.split(F.lower("text"), " ").alias("w"))
    n = NOVELTY_N
    # sliding 3-gram starts 0..len-3; guard len<3 (Spark's sequence()
    # DESCENDS for start>stop instead of returning empty)
    starts = F.when(
        F.size("w") >= n, F.sequence(F.lit(0), F.size("w") - n)
    ).otherwise(F.array().cast("array<int>"))
    grams = (
        d.select("doc_id", F.explode(starts).alias("i"), "w")
        .select(
            "doc_id",
            F.array_join(F.slice("w", F.col("i") + 1, F.lit(n)), " ").alias(
                "gram"
            ),
        )
        .distinct()
    )
    # first-occurrence via a gram-partitioned window MIN instead of the
    # old groupBy(gram).min + join-back (r14): algebraically identical
    # (every row gets its gram's global min doc_id), but the window
    # consumes the distinct gram set ONCE on a single gram-keyed
    # exchange, where the join shape re-exchanged the grams side a
    # second time for the SMJ probe and re-ran the explode+distinct
    # lineage (the c19 duplication class — same fix family as j27/j53,
    # here join-free so no persist is even needed).
    wg = Window.partitionBy("gram")
    seen = F.sum(
        F.when(F.col("first_doc") < F.col("doc_id"), 1).otherwise(0)
    )
    return (
        grams.withColumn("first_doc", F.min("doc_id").over(wg))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            seen.alias("n_seen_before"),
            F.round(
                F.lit(1.0) - seen.cast("double") / F.count(F.lit(1)), 6
            ).alias("novelty"),
        )
    )


#: ASCII-classed email pattern (Java regex ≡ RE2, j18 discipline) —
#: shared by j23 (batch) and i16 (stream).
#: Bounded quantifiers, NOT +: the unbounded form is O(n²) under
#: Java's backtracking engine on a long match-free [a-z]+ run (a 200KB
#: unbroken token = ~4e10 steps = a wedged executor — r8 --pathdocs
#: sweep). {1,64}/{1,255} are the RFC 5321 local/domain caps: same
#: matches on real emails, bounded backtracking per position, and the
#: pattern stays valid in both Java regex and RE2/DuckDB.
EMAIL_PAT = "[a-z0-9._%+-]{1,64}@[a-z0-9.-]{1,255}\\.[a-z]{2,}"

#: Boundary-guarded form (r9, ADVICE): the bare bounded pattern would
#: match the TRAILING 64 chars of an over-RFC-length local part,
#: leaving its head unredacted — a silent partial-PII leak. RE2 (the
#: DuckDB oracle engine) has no lookbehind, so the guard is a capture
#: group: a match must start at ^ or after a non-local-part char, and
#: the replacement re-emits the guard char via backreference. An
#: over-long token (>64 local chars) now has NO valid match start and
#: fails to match ENTIRELY — all-or-nothing redaction, same result in
#: Java regex and RE2. Group 2 is the email itself (for counting).
EMAIL_PAT_G = "(^|[^a-z0-9._%+-])(" + EMAIL_PAT + ")"


def redact_columns() -> list:
    """The j23 redaction column expressions — shared by the batch
    redactor (j23) and its streaming application (i16): one definition
    guarantees batch backfill and the live scrubber redact
    identically. (The corpus text carries no emails, so each doc gets
    a synthetic contact line appended before redaction — both engines
    count and replace independently.)"""
    combined = F.concat(
        F.col("text"),
        F.lit(" contact: user"),
        F.col("doc_id").cast("string"),
        F.lit("@example.com"),
    )
    redacted = F.regexp_replace(combined, EMAIL_PAT_G, "$1<EMAIL>")
    return [
        F.col("doc_id"),
        F.size(F.regexp_extract_all(combined, F.lit(EMAIL_PAT_G), F.lit(2)))
        .cast("bigint")
        .alias("n_redactions"),
        F.length(redacted).cast("bigint").alias("redacted_len"),
        F.md5(redacted).alias("redacted_md5"),
    ]


@query(
    "j36_cluster_representative",
    oracle="""
    WITH feat AS (
        SELECT doc_id, md5(text) AS dig,
               string_split(lower(text), ' ') AS w,
               CAST(length(text) AS DOUBLE) AS n_chars
        FROM documents
    ),
    scored AS (
        SELECT doc_id, dig,
               ROUND(0.3
                     + 1.2 * (CAST(length(list_distinct(w)) AS DOUBLE)
                              / length(w))
                     - 0.8 * (CAST(length(list_filter(w,
                                   x -> x IN ('a', 'the'))) AS DOUBLE)
                              / length(w))
                     + 0.05 * ((n_chars - (length(w) - 1)) / length(w))
                     - 0.002 * length(w), 6) AS score
        FROM feat
    ),
    ranked AS (
        SELECT doc_id, dig, score,
               row_number() OVER (PARTITION BY dig
                                  ORDER BY score DESC, doc_id) AS rn,
               COUNT(*) OVER (PARTITION BY dig) AS cluster_size
        FROM scored
    )
    SELECT dig AS cluster_digest, doc_id AS rep_doc_id,
           cluster_size, score AS rep_score,
           cluster_size - 1 AS n_discarded
    FROM ranked WHERE rn = 1
    """,
)
def j36_cluster_representative(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate-cluster representative selection (j36): after exact
    dedup groups documents into clusters (j15's md5 digests), KEEP the
    highest-quality copy — ranked by j28's quality score (shared
    quality_columns expressions, tie-broken by doc_id) — and emit one
    row per cluster with the chosen representative and the discard
    count. This is the "which copy survives" policy stage every dedup
    pipeline needs between detection (j1/j2/j15) and the output corpus
    (min-doc_id keeps the oldest; this keeps the best).

    100 TB notes: score is a pure map; ONE shuffle on the 16-byte text
    digest feeds both the rank window and the cluster-size window
    (same partitioning, single exchange); raw text never shuffles —
    only (digest, doc_id, score)."""
    d = spread(scan(spark, sf_dir, "documents"), "doc_id")
    scored = d.select(
        F.md5("text").alias("dig"), *quality_columns()
    ).select("dig", "doc_id", "score")
    w_rank = Window.partitionBy("dig").orderBy(
        F.col("score").desc(), "doc_id"
    )
    w_all = Window.partitionBy("dig")
    return (
        scored.withColumn("rn", F.row_number().over(w_rank))
        .withColumn("cluster_size", F.count(F.lit(1)).over(w_all))
        .filter(F.col("rn") == 1)
        .select(
            F.col("dig").alias("cluster_digest"),
            F.col("doc_id").alias("rep_doc_id"),
            "cluster_size",
            F.col("score").alias("rep_score"),
            (F.col("cluster_size") - 1).alias("n_discarded"),
        )
    )


@query(
    "j46_dataset_card",
    oracle="""
    WITH f AS (
        SELECT doc_id, lang,
               string_split(lower(text), ' ') AS w,
               CAST(length(text) AS DOUBLE) AS n_chars,
               min(doc_id) OVER (PARTITION BY md5(lower(trim(text))))
                 AS canon
        FROM documents
    ),
    feat AS (
        SELECT doc_id, lang, canon,
               CAST(length(w) AS BIGINT) AS n_tok,
               CAST(length(list_distinct(w)) AS DOUBLE) / length(w) AS ttr,
               CAST(length(list_filter(w, x -> x IN ('a', 'the')))
                    AS DOUBLE) / length(w) AS stop_ratio,
               (n_chars - (length(w) - 1)) / length(w) AS mean_len
        FROM f
    ),
    s AS (
        SELECT lang, doc_id, canon, n_tok,
               ROUND(0.3 + 1.2 * ttr - 0.8 * stop_ratio + 0.05 * mean_len
                     - 0.002 * n_tok, 6) AS score
        FROM feat
    )
    SELECT lang,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_tok) AS BIGINT) AS total_tokens,
           ROUND(CAST(COUNT(*) FILTER (score >= 0.5) AS DOUBLE)
                 / COUNT(*), 6) AS keep_rate,
           ROUND(CAST(COUNT(*) FILTER (doc_id <> canon) AS DOUBLE)
                 / COUNT(*), 6) AS dup_rate,
           -- mean over exact integer micro-scores: a float SUM is
           -- summation-ORDER-dependent, and ROUND(...,6) of a mean
           -- sitting exactly on a 6dp boundary flipped between engines
           -- on the r10 12-amplifier chain (0.907961 vs 0.907962).
           -- Integer SUM is order-independent; both engines then divide
           -- the SAME exact integers the same way -> bit-identical.
           CAST(SUM(CAST(ROUND(score * 1000000) AS BIGINT)) AS DOUBLE)
                 / CAST(COUNT(*) AS DOUBLE) / 1000000.0 AS mean_score
    FROM s GROUP BY lang
    """,
)
def j46_dataset_card(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dataset card (j46): the per-language summary artifact every
    released corpus ships — volume (docs, tokens), quality (j28 keep
    rate + mean score, SAME shared expressions), and exact-dup rate
    (j1's digest policy) in one result. This is the composition id:
    three pipeline stages' signals joined into the report a dataset
    consumer actually reads.

    100 TB notes: quality features are map-side; the dup flag rides
    ONE content-digest exchange (16-byte keys); the card aggregate is
    a |langs|-key partial agg. Whole card = two shuffles over the
    corpus regardless of size. Mean-score parity: per-doc scores are
    6dp-rounded BEFORE the per-lang average (j40's discipline), then
    summed as exact integer MICRO-scores — a float sum is
    summation-order-dependent, and the r10 12-amplifier chain landed a
    group mean exactly on a 6dp ROUND boundary, flipping the last
    digit between engines; the integer sum is order-independent and
    both engines divide the same exact integers identically."""
    d = spread(
        scan(spark, sf_dir, "documents").select("doc_id", "lang", "text")
    )
    w = Window.partitionBy(F.md5(F.lower(F.trim("text"))))
    base = d.select(*quality_columns(), F.col("text")).withColumn(
        "canon", F.min("doc_id").over(w)
    )
    return base.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tok").alias("total_tokens"),
        F.round(
            F.sum(F.when(F.col("score") >= 0.5, 1).otherwise(0)).cast("double")
            / F.count(F.lit(1)),
            6,
        ).alias("keep_rate"),
        F.round(
            F.sum(F.when(F.col("doc_id") != F.col("canon"), 1).otherwise(0)).cast(
                "double"
            )
            / F.count(F.lit(1)),
            6,
        ).alias("dup_rate"),
        (
            F.sum(F.round(F.col("score") * 1e6).cast("long")).cast("double")
            / F.count(F.lit(1)).cast("double")
            / F.lit(1e6)
        ).alias("mean_score"),
    )
