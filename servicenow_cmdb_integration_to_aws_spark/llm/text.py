"""LLM-pipeline text-analysis operators (SURVEY §2.J: j7–j10) [NS].

Token statistics, TF-IDF, language slicing, quality scoring, and the
multimodal (text ⋈ embedding) join — all native expressions over the
`documents` / `embeddings` tables.

100 TB notes: every operator here is explode → partial-agg → final-agg;
the shuffle carries (token, count) partials, never raw text. TF-IDF's
document-frequency side is tiny (vocabulary-sized) and broadcast back.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .canon import canon_docs, canon_oracle
from ..operators.fixpoint import _MAD
from ..registry import query
from ..sources.tables import scan, spread


def _doc_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, token) with duplicates — term frequency granularity.

    The explode is the expensive map; spread() parallelizes it when the
    corpus arrives as fewer input splits than cores (single-row-group
    testdata files read as ONE split — no-op at real scale)."""
    return spread(
        scan(spark, sf_dir, "documents").select("doc_id", "text"), "doc_id"
    ).select("doc_id", F.explode(F.split(F.lower("text"), " ")).alias("tok"))


# BPE-ish tokenizer regex (GPT-2 flavor, ASCII-classed so Java regex
# and RE2 agree): contraction suffixes, letter runs, <=3-digit number
# chunks (the GPT-4 number-splitting rule), single punctuation marks.
_BPE_PAT = "'[a-z]{1,2}|[A-Za-z]+|[0-9]{1,3}|[^A-Za-z0-9\\s]"
_BPE_PAT_SQL = _BPE_PAT.replace("'", "''")  # DuckDB string-literal quoting


@query(
    "j18_token_count",
    oracle=f"""
    SELECT lang,
           COUNT(*) AS n_docs,
           CAST(SUM(n_tok) AS BIGINT) AS total_tokens,
           ROUND(AVG(n_tok), 4) AS avg_tokens,
           MAX(n_tok) AS max_tokens,
           ROUND(SUM(n_tok) * 1.0 / SUM(n_chars), 4) AS tokens_per_char
    FROM (SELECT lang, n_chars,
                 length(regexp_extract_all(text, '{_BPE_PAT_SQL}')) AS n_tok
          FROM documents)
    GROUP BY lang
    """,
)
def j18_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting (j18): BPE-ish tokenizer cost model per language.

    The per-doc token count is the pretraining-pipeline budget unit
    (contract sizing, dedup weighting, mixture sampling). Pure map-side
    regex in whole-stage codegen — zero shuffle before the 5-group
    partial agg; tokens themselves never materialize into the shuffle,
    only (lang, count) partials."""
    d = spread(
        scan(spark, sf_dir, "documents").select("lang", "n_chars", "text")
    )
    n_tok = F.size(F.regexp_extract_all("text", F.lit(_BPE_PAT), F.lit(0)))
    return (
        d.select("lang", "n_chars", n_tok.alias("n_tok"))
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tok").alias("total_tokens"),
            F.round(F.avg("n_tok"), 4).alias("avg_tokens"),
            F.max("n_tok").alias("max_tokens"),
            F.round(F.sum("n_tok") / F.sum("n_chars"), 4).alias(
                "tokens_per_char"
            ),
        )
    )


@query(
    "j7_tokenize_tf",
    oracle="""
    SELECT tok AS token, COUNT(*) AS cnt
    FROM (SELECT unnest(string_split(lower(text), ' ')) AS tok FROM documents)
    GROUP BY tok
    ORDER BY cnt DESC, token
    LIMIT 20
    """,
)
def j7_tokenize_tf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting (j7): corpus-wide term frequency, top-20 terms."""
    return (
        _doc_tokens(spark, sf_dir)
        .groupBy(F.col("tok").alias("token"))
        .agg(F.count(F.lit(1)).alias("cnt"))
        .orderBy(F.col("cnt").desc(), "token")
        .limit(20)
    )


@query(
    "j8_tfidf",
    oracle="""
    WITH tf AS (
        SELECT doc_id, tok AS term, COUNT(*) AS tf
        FROM (SELECT doc_id, unnest(string_split(lower(text), ' ')) AS tok
              FROM documents)
        GROUP BY doc_id, tok
    ),
    df AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY term),
    n AS (SELECT COUNT(*) AS n_docs FROM documents),
    scored AS (
        SELECT tf.doc_id, tf.term, tf.tf,
               round(tf.tf * round(ln(CAST(n.n_docs AS DOUBLE) / df.df), 9), 6)
                 AS tfidf
        FROM tf JOIN df USING (term) CROSS JOIN n
    )
    SELECT doc_id, term, tf, tfidf, CAST(rn AS BIGINT) AS rn
    FROM (SELECT *, row_number() OVER (
              PARTITION BY doc_id ORDER BY tfidf DESC, term) AS rn
          FROM scored)
    WHERE rn <= 3
    """,
)
def j8_tfidf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TF-IDF (j8): top-3 highest-scored terms per document.
    idf = ln(N/df) rounded 9dp before the product (ulp-parity, see
    h4_math); tf·idf rounded 6dp.

    100 TB notes: document frequency used to be the one
    power-law-keyed UNBOUNDED window in the text family — a stopword
    term's partition is ~n_docs tf rows, and WindowExec BUFFERS the
    partition it annotates (rank≤k windows get the map-side
    WindowGroupLimit rewrite; whole-partition counts don't). It is now
    the partial-agg form: groupBy(term).count() (the combiner absorbs
    the skew map-side) + a term-keyed join back, which STREAMS the
    stopword partition instead of buffering it. The historical
    objection — the join shape re-ran the tokenize+explode lineage
    once per consumer — is retired by the round-7 lineage rule: a
    lazy persist on the aggregated tf table (narrow: one row per
    (doc, term), no document text) evaluates the tokenize pipeline
    exactly once, both consumers read the InMemoryTableScan.
    persist, NOT localCheckpoint: under AQE even eager=False
    checkpointing materializes the upstream stages at plan-
    construction time (gated by test_no_eager_jobs_during_plan_
    construction); persist stays fully lazy. The final doc_id top-3
    window is group-limited and skew-safe."""
    tf = (
        _doc_tokens(spark, sf_dir)
        .groupBy("doc_id", F.col("tok").alias("term"))
        .agg(F.count(F.lit(1)).alias("tf"))
        .persist(_MAD)
    )
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    # corpus size as a 1-row broadcast, NOT an eager .count(): the
    # count() forced a full extra job + driver sync barrier before the
    # plan was even built — at 100 TB that is a second pass over the
    # corpus. The crossJoin(broadcast(1 row)) keeps it one lazy plan.
    n = scan(spark, sf_dir, "documents").agg(
        F.count(F.lit(1)).alias("n_docs")
    )
    idf = F.round(
        F.log(F.col("n_docs").cast("double") / F.col("df")), 9
    )
    scored = (
        tf.join(dfreq, "term")
        .crossJoin(F.broadcast(n))
        .select(
            "doc_id",
            "term",
            "tf",
            F.round(F.col("tf") * idf, 6).alias("tfidf"),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(F.col("tfidf").desc(), "term")
    return (
        scored.withColumn("rn", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rn") <= 3)
        .select("doc_id", "term", "tf", "tfidf", "rn")
    )


@query(
    "j9_lang_stats",
    oracle="""
    SELECT lang,
           COUNT(*) AS n_docs,
           CAST(SUM(n_chars) AS DOUBLE) / COUNT(*) AS avg_chars,
           MIN(n_chars) AS min_chars,
           MAX(n_chars) AS max_chars,
           COUNT(DISTINCT source) AS n_sources
    FROM documents GROUP BY lang
    """,
)
def j9_lang_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multilingual slice stats (j9): per-language doc counts + length
    distribution (bigint sums → exact)."""
    d = scan(spark, sf_dir, "documents")
    return d.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        (F.sum("n_chars").cast("double") / F.count(F.lit(1))).alias("avg_chars"),
        F.min("n_chars").alias("min_chars"),
        F.max("n_chars").alias("max_chars"),
        F.countDistinct("source").alias("n_sources"),
    )


@query(
    "j9b_quality_score",
    oracle="""
    SELECT doc_id, n_words, avg_word_len, stop_ratio,
           CASE WHEN n_words >= 30 AND stop_ratio < 0.2 THEN 'good'
                WHEN n_words >= 10 THEN 'fair' ELSE 'poor' END AS quality
    FROM (
        SELECT doc_id,
               CAST(len(words) AS BIGINT) AS n_words,
               CAST(n_chars - len(words) + 1 AS DOUBLE) / len(words)
                 AS avg_word_len,
               CAST(len(list_filter(words, w -> w IN ('a', 'the')))
                    AS DOUBLE) / len(words) AS stop_ratio
        FROM (SELECT doc_id, n_chars, string_split(lower(text), ' ') AS words
              FROM documents)
    )
    """,
)
def j9b_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Text quality scoring (j9 family): length / stopword-ratio
    heuristics binned into a quality label — the pretraining-corpus
    filter pattern. Pure expressions; ratios are exact (ints → one
    division)."""
    d = scan(spark, sf_dir, "documents").withColumn(
        "words", F.split(F.lower("text"), " ")
    )
    n_words = F.size("words")
    stop_ratio = (
        F.size(F.filter("words", lambda w: w.isin("a", "the"))).cast("double")
        / n_words
    )
    avg_word_len = (F.col("n_chars") - n_words + 1).cast("double") / n_words
    return d.select(
        "doc_id",
        n_words.cast("bigint").alias("n_words"),
        avg_word_len.alias("avg_word_len"),
        stop_ratio.alias("stop_ratio"),
        F.when((n_words >= 30) & (stop_ratio < 0.2), "good")
        .when(n_words >= 10, "fair")
        .otherwise("poor")
        .alias("quality"),
    )


@query(
    "j9c_lang_id",
    oracle="""
    SELECT doc_id, lang,
           CASE WHEN len(list_filter(string_split(lower(text), ' '),
                                     w -> w IN ('the', 'a', 'of'))) > 0
                THEN 'en_like' ELSE 'other' END AS lang_guess
    FROM documents
    """,
)
def j9c_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-ID heuristic (j9 family): stopword-marker n-gram test.
    (The synthetic corpus shares one vocabulary, so the heuristic is
    exercised structurally; real corpora swap in real marker sets.)"""
    d = scan(spark, sf_dir, "documents")
    markers = F.size(
        F.filter(
            F.split(F.lower("text"), " "), lambda w: w.isin("the", "a", "of")
        )
    )
    return d.select(
        "doc_id",
        "lang",
        F.when(markers > 0, "en_like").otherwise("other").alias("lang_guess"),
    )


@query(
    "j10_multimodal",
    oracle="""
    SELECT d.doc_id, d.lang, d.n_chars,
           CAST(len(e.embedding) AS BIGINT) AS dim,
           CAST(e.embedding[1] AS DOUBLE) AS first_component,
           e.label
    FROM documents d JOIN embeddings e ON d.doc_id = e.vec_id
    WHERE d.lang = 'en'
    """,
)
def j10_multimodal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal join (j10): text metadata ⋈ embedding vectors into one
    row (struct column internally), filtered by language. The struct
    demonstrates the nested 'document + vector' record the pipeline
    carries; scalar projections keep the oracle comparable."""
    d = scan(spark, sf_dir, "documents")
    e = scan(spark, sf_dir, "embeddings")
    joined = (
        d.join(e, d.doc_id == e.vec_id)
        .filter(F.col("lang") == "en")
        .withColumn(
            "record",
            F.struct("doc_id", "lang", "n_chars", "embedding", "label"),
        )
    )
    return joined.select(
        F.col("record.doc_id").alias("doc_id"),
        F.col("record.lang").alias("lang"),
        F.col("record.n_chars").alias("n_chars"),
        F.size("record.embedding").cast("bigint").alias("dim"),
        F.element_at("record.embedding", 1).cast("double").alias("first_component"),
        F.col("record.label").alias("label"),
    )


@query(
    "j11_fingerprint",
    oracle="""
    SELECT doc_id,
           md5(lower(trim(text))) AS content_fp,
           md5(list_aggregate(string_split(lower(text), ' ')[1:8], 'string_agg', ' '))
             AS prefix_fp
    FROM documents
    """,
)
def j11_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document fingerprinting (j cat.): whole-content hash + 8-token
    prefix hash (cheap near-dup pre-filter usable as a sort key at
    ingest)."""
    d = scan(spark, sf_dir, "documents")
    words = F.split(F.lower("text"), " ")
    # concat_ws SWALLOWS a NULL array argument (yields ''), so a NULL
    # text would fingerprint as md5('') instead of NULL — gate the
    # prefix hash on text like SQL's list_aggregate(NULL) → NULL does.
    prefix_fp = F.when(
        F.col("text").isNotNull(), F.md5(F.concat_ws(" ", F.slice(words, 1, 8)))
    )
    return d.select(
        "doc_id",
        F.md5(F.lower(F.trim("text"))).alias("content_fp"),
        prefix_fp.alias("prefix_fp"),
    )


@query(
    "j13_chunk_split",
    oracle="""
    SELECT doc_id,
           CAST(i AS BIGINT) AS chunk_idx,
           substr(text, CAST(i * 200 + 1 AS INT), 256) AS chunk,
           CAST(least(length(text) - i * 200, 256) AS BIGINT) AS chunk_len
    FROM documents,
         UNNEST(range(0, CAST(greatest(
             ceil((length(text) - 56) / 200.0), 1) AS BIGINT))) AS t(i)
    """,
)
def j13_chunk_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document chunking (j13, [NS]): split each doc into overlapping
    char windows (size 256, stride 200 → 56-char overlap) — the
    standard LLM-pretraining chunker shape.

    Spark-first: chunk indexes come from `sequence` + `posexplode`
    (codegen'd, zero UDFs); each output row carries (doc_id, chunk_idx,
    chunk, chunk_len). Embarrassingly parallel — no shuffle at all: the
    explode pipelines straight out of the scan, so at 100 TB this is
    a single map-stage whose output can stream directly into a
    partitioned sink (a5)."""
    d = scan(spark, sf_dir, "documents")
    n_chunks = F.greatest(
        F.ceil((F.length("text") - F.lit(56)) / F.lit(200.0)), F.lit(1)
    )
    return (
        d.select(
            "doc_id",
            "text",
            F.posexplode(F.sequence(F.lit(0), n_chunks - 1)).alias("chunk_idx", "i"),
        )
        .select(
            "doc_id",
            F.col("chunk_idx").cast("long").alias("chunk_idx"),
            F.expr("substring(text, chunk_idx * 200 + 1, 256)").alias("chunk"),
            F.least(F.length("text") - F.col("chunk_idx") * 200, F.lit(256))
            .cast("long")
            .alias("chunk_len"),
        )
    )


@query(
    "j14_hash_sample",
    oracle="""
    SELECT lang,
           COUNT(*) AS n_sampled,
           min(doc_id) AS min_doc,
           max(doc_id) AS max_doc
    FROM documents
    WHERE substr(md5(CAST(doc_id AS VARCHAR) || ':' || text), 1, 2) < '29'
    GROUP BY lang
    """,
)
def j14_hash_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic hash sampling (j14, [NS]): keep ~16% of docs by
    md5(doc_id:text) prefix — the reproducible train/eval split &
    down-sampling primitive of a training-data pipeline.

    Content-hash sampling is stable across runs, machines and engine
    versions (unlike `rand()`/`TABLESAMPLE`), joins consistently (the
    same doc always lands on the same side), and needs no coordination
    at 100 TB — the predicate evaluates scan-side and pushes the
    sampled stream straight into the per-stratum aggregate."""
    d = scan(spark, sf_dir, "documents")
    keep = F.substring(
        F.md5(F.concat(F.col("doc_id").cast("string"), F.lit(":"), F.col("text"))),
        1,
        2,
    ) < "29"
    return (
        d.filter(keep)
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_sampled"),
            F.min("doc_id").alias("min_doc"),
            F.max("doc_id").alias("max_doc"),
        )
    )


@query(
    "j17_bigram_lm",
    oracle="""
    WITH t AS (
        SELECT doc_id, string_split(lower(text), ' ') AS ws FROM documents
    ),
    big AS (
        SELECT doc_id,
               UNNEST(list_transform(
                   range(1, len(ws)),
                   i -> struct_pack(w1 := ws[i], w2 := ws[i + 1]))) AS bg
        FROM t
    ),
    bp AS (SELECT doc_id, bg.w1 AS w1, bg.w2 AS w2 FROM big),
    c12 AS (SELECT w1, w2, COUNT(*) AS n12 FROM bp GROUP BY w1, w2),
    c1 AS (SELECT w1, COUNT(*) AS n1 FROM bp GROUP BY w1)
    SELECT bp.doc_id,
           COUNT(*) AS n_bigrams,
           round(AVG(CAST(c12.n12 AS DOUBLE) / c1.n1), 6) AS avg_p,
           round(MIN(CAST(c12.n12 AS DOUBLE) / c1.n1), 6) AS min_p
    FROM bp
    JOIN c12 USING (w1, w2)
    JOIN c1 USING (w1)
    GROUP BY bp.doc_id
    """,
)
def j17_bigram_lm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus bigram LM scoring (j17, [NS]): estimate p(w2|w1) from
    corpus bigram counts, then score every document by its mean and
    min transition probability — the statistical-LM quality filter
    (low avg_p ⇒ word salad / wrong-language text; gibberish shows up
    before any neural model enters the pipeline).

    Shape: bigrams are generated MAP-SIDE (transform over the token
    array + explode — no self-join on position, no shuffle to form
    pairs); the count tables are two partially-aggregated shuffles of
    (w1,w2)/(w1); the score join co-partitions on those same keys.
    Probabilities are count ratios (exact in double on both engines);
    only avg's fold-order noise (~1e-15) meets the 6dp round, so
    values are bit-stable. At 100 TB the count tables are Zipf-shaped
    and small relative to the corpus — broadcast-able if needed."""
    d = (
        scan(spark, sf_dir, "documents")
        .select("doc_id", F.split(F.lower("text"), " ").alias("ws"))
        .filter(F.size("ws") >= 2)
    )
    bp = d.select(
        "doc_id",
        F.explode(
            F.expr(
                "transform(sequence(1, size(ws) - 1),"
                " i -> struct(element_at(ws, i) AS w1,"
                "             element_at(ws, i + 1) AS w2))"
            )
        ).alias("bg"),
    ).select("doc_id", "bg.w1", "bg.w2")
    c12 = bp.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("n12"))
    c1 = bp.groupBy("w1").agg(F.count(F.lit(1)).alias("n1"))
    p = F.col("n12").cast("double") / F.col("n1")
    return (
        bp.join(c12, ["w1", "w2"])
        .join(c1, ["w1"])
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            F.round(F.avg(p), 6).alias("avg_p"),
            F.round(F.min(p), 6).alias("min_p"),
        )
    )


@query(
    "t8_pipeline_curate",
    oracle=f"""
    WITH kept AS (
        SELECT doc_id, lang, text,
               min(doc_id) OVER (PARTITION BY md5(lower(text))) AS canon
        FROM documents WHERE lang IN ('en', 'de', 'fr', 'es')
    ),
    q AS (
        SELECT doc_id, lang, text,
               len(string_split(lower(text), ' ')) AS n_words
        FROM kept WHERE doc_id = canon
    ),
    f AS (SELECT * FROM q WHERE n_words >= 10)
    SELECT lang,
           COUNT(*) AS n_docs,
           CAST(SUM(length(regexp_extract_all(text, '{_BPE_PAT_SQL}')))
             AS BIGINT) AS total_tokens,
           ROUND(COUNT(*) * 1.0
                 / (SELECT COUNT(*) FROM f), 4) AS doc_share
    FROM f
    GROUP BY lang
    """,
)
def t8_pipeline_curate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end curation pipeline (t8) — the composite a
    pretraining-data user actually runs, as ONE declarative plan:
    language allowlist → exact-dup keep-one (min doc_id per md5 of
    lowered text — the 16-byte digest is the shuffle key, raw text
    never moves) → minimum-length quality gate → per-language token
    budget (j18's BPE-ish model) with corpus share.

    Composition is the point: each stage is individually oracle-tested
    (j9c/j1/j9b/j18); this id pins that the stages compose into one
    Catalyst plan — scan-side lang pushdown, one digest window, one
    final 4-group agg — with no materialization between stages."""
    d = scan(spark, sf_dir, "documents").filter(
        F.col("lang").isin("en", "de", "fr", "es")
    )
    w = Window.partitionBy(F.md5(F.lower("text")))
    kept = (
        d.withColumn("canon", F.min("doc_id").over(w))
        .filter(F.col("doc_id") == F.col("canon"))
        .withColumn("n_words", F.size(F.split(F.lower("text"), " ")))
        .filter(F.col("n_words") >= 10)
    )
    # doc_share denominator = sum of the per-lang counts, derived FROM
    # the aggregate itself (1-row agg over ≤4 rows, broadcast back) —
    # the previous eager kept.count() re-ran the whole window+filter
    # pipeline a second time plus a driver sync; this shape scans the
    # corpus exactly once (tests/test_plans.py pins the single scan).
    per_lang = kept.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(
            F.size(F.regexp_extract_all("text", F.lit(_BPE_PAT), F.lit(0)))
        ).alias("total_tokens"),
    )
    tot = per_lang.agg(F.sum("n_docs").alias("n_total"))
    return (
        per_lang.crossJoin(F.broadcast(tot))
        .withColumn(
            "doc_share", F.round(F.col("n_docs") / F.col("n_total"), 4)
        )
        .drop("n_total")
    )


@query(
    "j20_mixture_sample",
    oracle="""
    WITH c AS (SELECT lang, COUNT(*) AS n FROM documents GROUP BY lang),
    w AS (SELECT * FROM (VALUES ('en', 40), ('de', 15), ('fr', 15),
                                ('es', 15), ('zh', 15)) AS t(lang, wgt)),
    cap AS (SELECT MIN((n * 100) // wgt) AS cmax FROM c JOIN w USING (lang)),
    thr AS (
        SELECT c.lang,
               printf('%06x', (1048576 * cap.cmax * w.wgt) // (100 * c.n))
                 AS t20
        FROM c JOIN w USING (lang) CROSS JOIN cap
    ),
    kept AS (
        SELECT d.lang FROM documents d JOIN thr ON d.lang = thr.lang
        WHERE '0' || substr(md5(CAST(d.doc_id AS VARCHAR) || '/mix'), 1, 5)
              < thr.t20
    )
    SELECT lang, COUNT(*) AS n_kept,
           ROUND(COUNT(*) * 1.0 / (SELECT COUNT(*) FROM kept), 4)
             AS achieved_share
    FROM kept GROUP BY lang
    """,
)
def j20_mixture_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus mixture sampling (j20, [NS]): hit a TARGET language mix
    (en 40%, others 15%) given whatever the raw corpus contains — the
    mixture-weighting step of pretraining-data assembly.

    Per-language keep rates are derived, not configured: capacity
    C = min_l(n_l·100 div w_l) is the largest corpus honoring the mix,
    and rate_l = C·w_l/(100·n_l) — all INTEGER arithmetic (div), so
    Spark and the oracle derive bit-identical thresholds; the keep
    decision compares a zero-padded 20-bit md5 prefix against the
    threshold formatted '%06x' (zero-padded hex orders like numbers).
    Scan-side predicate after a 5-row broadcast — no shuffle, no state,
    every doc keeps one fate across stages (f5/j14 discipline)."""
    d = scan(spark, sf_dir, "documents")
    weights = spark.createDataFrame(
        [("en", 40), ("de", 15), ("fr", 15), ("es", 15), ("zh", 15)],
        "lang STRING, wgt LONG",
    )
    counts = d.groupBy("lang").agg(F.count(F.lit(1)).alias("n"))
    # cw feeds BOTH cap and thr, and thr is embedded under both final
    # consumers — without a persist the lang-count scan plans 4× (the
    # r14 plan showed 12 parquet scans total). Lazy persist of this
    # ≤n_langs-row frame collapses the tree to 2 corpus scans
    # (guide §2.1: remove duplicate subtree work). A/B r14:
    # 1.31 → 0.99 s warm med, results EQUAL.
    cw = counts.join(weights, "lang").persist(_MAD)
    cap = cw.agg(
        F.min(F.expr("(n * 100) div wgt")).alias("cmax")
    )
    thr = cw.crossJoin(F.broadcast(cap)).select(
        "lang",
        F.format_string(
            "%06x", F.expr("(1048576 * cmax * wgt) div (100 * n)")
        ).alias("t20"),
    )
    kept = d.join(F.broadcast(thr), "lang").filter(
        F.concat(
            F.lit("0"),
            F.substring(
                F.md5(F.concat(F.col("doc_id").cast("string"), F.lit("/mix"))),
                1,
                5,
            ),
        )
        < F.col("t20")
    )
    # achieved_share denominator from the per-lang agg itself (5-row
    # agg → 1-row sum → broadcast back), not an eager kept.count():
    # the count() executed the scan+join+filter twice and stalled the
    # driver; this is one lazy plan with a single corpus scan. The
    # ≤n_langs-row per-lang agg is persisted so the tot branch reads
    # it instead of re-running the kept scan+join (guide §2.1).
    per_lang = (
        kept.groupBy("lang")
        .agg(F.count(F.lit(1)).alias("n_kept"))
        .persist(_MAD)
    )
    tot = per_lang.agg(F.sum("n_kept").alias("tot"))
    return (
        per_lang.crossJoin(F.broadcast(tot))
        .select(
            "lang",
            "n_kept",
            F.round(F.col("n_kept") / F.col("tot"), 4).alias(
                "achieved_share"
            ),
        )
    )


DOMAIN_CAP = 10


@query(
    "j21_domain_cap",
    oracle=f"""
    SELECT doc_id, source, CAST(rn AS BIGINT) AS rn
    FROM (SELECT doc_id, source,
                 row_number() OVER (
                     PARTITION BY source
                     ORDER BY md5(CAST(doc_id AS VARCHAR) || '/cap'), doc_id
                 ) AS rn
          FROM documents)
    WHERE rn <= {DOMAIN_CAP}
    """,
)
def j21_domain_cap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-domain document cap (j21, [NS]): keep at most DOMAIN_CAP
    docs per source — the overrepresented-domain control of web-corpus
    assembly (a handful of boilerplate-heavy domains otherwise
    dominate the token budget). Selection is deterministic-random:
    rank by a salted md5 of doc_id (f5/j14 discipline — every doc
    keeps one fate across runs and engines), not by arrival order.

    100 TB notes: one shuffle keyed on source. A mega-domain is the
    known skew case — this exact-rank window puts one domain on one
    task; at web scale, pre-trim each domain with the j14 hash-
    threshold (rate = cap / approx count, slightly over-admitted),
    then exact-rank only the small admitted set. The cap constant is
    per-corpus policy."""
    d = scan(spark, sf_dir, "documents").select("doc_id", "source")
    w = Window.partitionBy("source").orderBy(
        F.md5(F.concat(F.col("doc_id").cast("string"), F.lit("/cap"))),
        "doc_id",
    )
    return (
        d.withColumn("rn", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rn") <= DOMAIN_CAP)
        .select("doc_id", "source", "rn")
    )


BENCH_MOD = 97  # docs with doc_id % 97 == 0 stand in for the eval benchmark
SHINGLE_W = 5


@query(
    "j22_decontaminate",
    oracle=canon_oracle(f"""
    WITH t AS (
        SELECT doc_id, string_split(lower(text), ' ') AS toks
        FROM documents
    ),
    -- LINEAR shingle build (lead-chain over unnested tokens), NOT
    -- per-position toks[i:i+W] slices: inside a list_transform lambda
    -- duckdb copies the OUTER list per position, which goes quadratic
    -- on a giant document (180k tokens ground >10 min / 10 GB in the
    -- r8 --pathdocs sweep). The NULL-propagating || chain also
    -- subsumes the len(toks) >= W filter (short docs yield NULL).
    tok AS (
        SELECT doc_id, unnest(range(1, len(toks) + 1)) AS pos,
               unnest(toks) AS word
        FROM t
    ),
    s0 AS (
        SELECT doc_id, word || ' ' || lead(word, 1) OVER w || ' ' || lead(word, 2) OVER w || ' ' || lead(word, 3) OVER w || ' ' || lead(word, 4) OVER w AS sh
        FROM tok
        WINDOW w AS (PARTITION BY doc_id ORDER BY pos)
    ),
    s AS (SELECT doc_id, sh FROM s0 WHERE sh IS NOT NULL),
    bench AS (
        SELECT DISTINCT sh FROM s WHERE doc_id % {BENCH_MOD} = 0
    )
    SELECT doc_id, COUNT(DISTINCT sh) AS n_hits
    FROM s
    WHERE doc_id % {BENCH_MOD} <> 0 AND sh IN (SELECT sh FROM bench)
    GROUP BY doc_id
    """, docs=True),
)
def j22_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination (j22, [NS]): flag training documents
    sharing any word-{SHINGLE_W}-gram with the held-out benchmark set
    (stand-in: doc_id % {BENCH_MOD} == 0) — the eval-leakage scrub
    every pretraining pipeline runs. Reports the distinct shared-
    shingle count per contaminated doc.

    100 TB notes: the benchmark shingle set is tiny (benchmarks are
    KBs, corpora are TBs) — broadcast it, so the corpus-side explode
    never shuffles raw text; the only wide op is the per-doc count
    aggregate keyed on doc_id. Shingles hash-join on the gram string;
    at extreme scale hash the shingle to a long first (xxhash64) to
    shrink both the broadcast and the join key."""
    d = spread(
        canon_docs(spark, sf_dir).select("doc_id", "text"), "doc_id"
    ).select("doc_id", F.split(F.lower("text"), " ").alias("toks"))
    sh = (
        d.filter(F.size("toks") >= SHINGLE_W)
        .select(
            "doc_id",
            "toks",
            F.explode(
                F.sequence(F.lit(1), F.size("toks") - SHINGLE_W + 1)
            ).alias("i"),
        )
        .select(
            "doc_id",
            F.array_join(F.slice("toks", F.col("i"), SHINGLE_W), " ").alias(
                "sh"
            ),
        )
    )
    bench = (
        sh.filter(F.col("doc_id") % BENCH_MOD == 0).select("sh").distinct()
    )
    return (
        sh.filter(F.col("doc_id") % BENCH_MOD != 0)
        .join(F.broadcast(bench), "sh", "left_semi")
        .groupBy("doc_id")
        .agg(F.countDistinct("sh").alias("n_hits"))
    )


#: ASCII-classed (Java regex ≡ RE2, j18 discipline): local@domain.tld.
#: The column expressions live in pipeline.redact_columns() — shared
#: with the streaming redactor (i16) so batch and stream can't diverge.
from .pipeline import EMAIL_PAT_G as _EMAIL_PAT_G  # noqa: E402


@query(
    "j23_pii_redact",
    oracle=f"""
    SELECT doc_id,
           CAST(len(regexp_extract_all(combined, '{_EMAIL_PAT_G}', 2))
                AS BIGINT) AS n_redactions,
           CAST(length(regexp_replace(combined, '{_EMAIL_PAT_G}',
                                      '\\1<EMAIL>', 'g'))
                AS BIGINT) AS redacted_len,
           md5(regexp_replace(combined, '{_EMAIL_PAT_G}', '\\1<EMAIL>', 'g'))
             AS redacted_md5
    FROM (SELECT doc_id,
                 text || ' contact: user' || CAST(doc_id AS VARCHAR)
                      || '@example.com' AS combined
          FROM documents)
    """,
)
def j23_pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII redaction (j23, [NS]): scrub email addresses from document
    text before training — map-side regexp_replace in whole-stage
    codegen, reporting per-doc redaction count, post-redaction length
    and content hash. The corpus text carries no emails, so each doc
    gets a synthetic contact line appended first; the REDACTOR works
    purely on the combined text (both engines count and replace
    independently — nothing is closed-form).

    100 TB notes: pure narrow map, no shuffle, no Python; patterns are
    ASCII-classed so Java regex and RE2 agree (j18 discipline). Add
    phone/SSN patterns as further regexp_replace passes in the same
    projection — still one codegen stage."""
    from .pipeline import redact_columns

    d = spread(
        scan(spark, sf_dir, "documents").select("doc_id", "text"), "doc_id"
    )
    return d.select(*redact_columns())


REP_THRESHOLD = 0.1  # Gopher-style: top token >10% of the doc → repetitive


@query(
    "j24_repetition_filter",
    oracle=f"""
    WITH tf AS (
        SELECT doc_id, tok, COUNT(*) AS tf
        FROM (SELECT doc_id, unnest(string_split(lower(text), ' ')) AS tok
              FROM documents)
        GROUP BY doc_id, tok
    )
    SELECT doc_id,
           CAST(SUM(tf) AS BIGINT) AS n_tok,
           CAST(MAX(tf) AS BIGINT) AS max_tf,
           ROUND(MAX(tf) * 1.0 / SUM(tf), 6) AS top_ratio,
           MAX(tf) * 1.0 / SUM(tf) > {REP_THRESHOLD} AS repetitive
    FROM tf GROUP BY doc_id
    """,
)
def j24_repetition_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Intra-document repetition filter (j24, [NS]): the Gopher-rule
    quality gate — a document whose single most frequent token exceeds
    {REP_THRESHOLD:.0%} of its tokens is boilerplate/spam-shaped.
    Reports token count, top token frequency, ratio and the flag.

    100 TB notes: explode → (doc_id, tok) partial-agg → per-doc
    max/sum — two partial-aggregable shuffles both keyed on doc_id
    (the second reuses the first's partitioning), raw text never
    shuffles. The ratio is bigint/bigint → identical doubles on both
    engines; rounded 6dp for the report column, the FLAG compares the
    unrounded value."""
    tf = (
        _doc_tokens(spark, sf_dir)
        .groupBy("doc_id", "tok")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    ratio = F.max("tf") / F.sum("tf")
    return tf.groupBy("doc_id").agg(
        F.sum("tf").cast("bigint").alias("n_tok"),
        F.max("tf").cast("bigint").alias("max_tf"),
        F.round(ratio, 6).alias("top_ratio"),
        (ratio > REP_THRESHOLD).alias("repetitive"),
    )


@query(
    "j25_incremental_dedup",
    oracle="""
    WITH hist AS (
        SELECT DISTINCT md5(lower(text)) AS dg
        FROM documents WHERE doc_id % 10 <> 7 AND text IS NOT NULL
    ),
    newb AS (
        SELECT doc_id, md5(lower(text)) AS dg
        FROM documents WHERE doc_id % 10 = 7 AND text IS NOT NULL
    )
    SELECT doc_id, dg
    FROM newb WHERE dg NOT IN (SELECT dg FROM hist)
    """,
)
def j25_incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental corpus dedup (j25, [NS]): the daily-crawl pattern —
    admit only new-batch documents (stand-in: doc_id % 10 == 7) whose
    content digest does not already exist in the historical corpus.
    j1 dedups WITHIN a corpus; this dedups a delta AGAINST one.

    100 TB notes: both sides reduce to 16-byte digests before the
    anti-join, so the shuffle carries digests, never text; the join
    keys co-partition. At real scale the history side is a
    digest-only index table (exactly what a15's snapshot would store),
    and Spark's bloom-filter join pushdown prunes most of the delta
    before the shuffle."""
    # NULL text carries no digest: filter it on BOTH sides (oracle WHERE
    # mirrors this). Left in, the engines diverge catastrophically — a
    # NULL digest never equi-joins, so Spark's anti-join ADMITS every
    # null-text delta row, while one NULL in the history turns SQL's
    # NOT IN into the empty set.
    d = (
        scan(spark, sf_dir, "documents")
        .filter(F.col("text").isNotNull())
        .select("doc_id", F.md5(F.lower("text")).alias("dg"))
    )
    hist = d.filter(F.col("doc_id") % 10 != 7).select("dg").distinct()
    newb = d.filter(F.col("doc_id") % 10 == 7)
    return newb.join(hist, "dg", "left_anti").select("doc_id", "dg")


EVAL_PCT = 5  # 5% held out, stratified per language


@query(
    "j26_train_eval_split",
    oracle=f"""
    SELECT lang,
           COUNT(*) FILTER (WHERE NOT is_eval) AS n_train,
           COUNT(*) FILTER (WHERE is_eval) AS n_eval
    FROM (SELECT lang,
                 '0' || substr(md5(CAST(doc_id AS VARCHAR) || '/split'), 1, 5)
                   < printf('%06x', (1048576 * {EVAL_PCT}) // 100) AS is_eval
          FROM documents)
    GROUP BY lang
    """,
)
def j26_train_eval_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic stratified train/eval split (j26, [NS]): hold out
    ~{EVAL_PCT}% of documents per language by a salted-hash threshold
    — every doc keeps ONE fate across runs, engines and reshards
    (f5/j14/j20 discipline: integer-derived threshold, zero-padded
    20-bit hex compare — no float rates). Reports per-language
    train/eval counts.

    100 TB notes: pure map-side predicate folded into the scan + one
    5-group partial agg; assignment needs no state, no sampling pass,
    and is reproducible from doc_id alone."""
    d = scan(spark, sf_dir, "documents")
    thr = F.format_string("%06x", F.lit((1048576 * EVAL_PCT) // 100))
    is_eval = (
        F.concat(
            F.lit("0"),
            F.substring(
                F.md5(
                    F.concat(F.col("doc_id").cast("string"), F.lit("/split"))
                ),
                1,
                5,
            ),
        )
        < thr
    )
    return d.select("lang", is_eval.alias("is_eval")).groupBy("lang").agg(
        F.count(F.when(~F.col("is_eval"), 1)).alias("n_train"),
        F.count(F.when(F.col("is_eval"), 1)).alias("n_eval"),
    )


WIN_K = 3  # winnowing: word-gram width
WIN_W = 4  # winnowing: hashes per selection window


@query(
    "j32_winnowing",
    oracle=canon_oracle(f"""
    WITH t AS (
        SELECT doc_id, string_split(lower(text), ' ') AS toks
        FROM documents
    ),
    -- LINEAR gram hash (lead-chain over unnested tokens), NOT
    -- toks[pos:pos+K] slices — per-position slicing copies the token
    -- list per gram in duckdb, quadratic on a giant document (the
    -- j22/j53 --pathdocs class). NULL-propagating || reproduces the
    -- pos <= n-K+1 bound; n_grams joins back from a per-doc count.
    tok AS (
        SELECT doc_id, len(toks) - {WIN_K} + 1 AS n_grams,
               unnest(range(1, len(toks) + 1)) AS pos, unnest(toks) AS word
        FROM t WHERE len(toks) >= {WIN_K}
    ),
    h0 AS (
        SELECT doc_id, n_grams, pos,
               word || ' ' || lead(word, 1) OVER lw
                    || ' ' || lead(word, 2) OVER lw AS gram
        FROM tok WINDOW lw AS (PARTITION BY doc_id ORDER BY pos)
    ),
    h AS (
        SELECT doc_id, n_grams, pos, md5(gram) AS gh
        FROM h0 WHERE gram IS NOT NULL
    ),
    wmin AS (
        SELECT doc_id, pos, n_grams,
               MIN(gh) OVER (PARTITION BY doc_id ORDER BY pos
                             ROWS BETWEEN CURRENT ROW
                                      AND {WIN_W - 1} FOLLOWING) AS sel
        FROM h
    )
    SELECT doc_id, COUNT(DISTINCT sel) AS n_fp, MIN(sel) AS fp_min
    FROM wmin WHERE pos <= n_grams - {WIN_W} + 1
    GROUP BY doc_id
    """, docs=True),
)
def j32_winnowing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing document fingerprints (j32, [NS]): the
    Schleimer-Wilkerson-Aiken local fingerprinting scheme — hash every
    word-{WIN_K}-gram, slide a window of {WIN_W} consecutive hashes,
    select each window's minimum; the distinct selected hashes are the
    doc's fingerprint set. Guarantees any shared run of
    {WIN_K}+{WIN_W}-1 words between two docs shares a fingerprint —
    the positional near-dup detector that MinHash (global, unordered)
    cannot express. Emits per-doc fingerprint count + canonical min
    fingerprint.

    100 TB notes: the gram explode is map-side; ONE shuffle on doc_id
    feeds the selection window, and the final per-doc agg reuses that
    exact partitioning (no second exchange). The shuffle carries
    (doc_id, pos, 32-char hash) — never raw text. Cross-doc matching
    (join docs on shared fingerprints) is then a fingerprint-keyed
    join, LSH-bucket-capped exactly like j2."""
    d = spread(
        canon_docs(spark, sf_dir).select("doc_id", "text"), "doc_id"
    ).select("doc_id", F.split(F.lower("text"), " ").alias("toks"))
    grams = (
        d.filter(F.size("toks") >= WIN_K)
        .select(
            "doc_id",
            (F.size("toks") - WIN_K + 1).alias("n_grams"),
            F.explode(
                F.sequence(F.lit(1), F.size("toks") - WIN_K + 1)
            ).alias("pos"),
            "toks",
        )
        .select(
            "doc_id",
            "n_grams",
            "pos",
            F.md5(F.array_join(F.slice("toks", F.col("pos"), WIN_K), " ")).alias(
                "gh"
            ),
        )
    )
    w = (
        Window.partitionBy("doc_id")
        .orderBy("pos")
        .rowsBetween(Window.currentRow, WIN_W - 1)
    )
    return (
        grams.withColumn("sel", F.min("gh").over(w))
        .filter(F.col("pos") <= F.col("n_grams") - WIN_W + 1)
        .groupBy("doc_id")
        .agg(
            F.countDistinct("sel").alias("n_fp"),
            F.min("sel").alias("fp_min"),
        )
    )


@query(
    "j34_length_histogram",
    oracle="""
    WITH b AS (
        SELECT CAST(FLOOR(LOG2(n_chars)) AS BIGINT) AS bucket
        FROM documents WHERE n_chars > 0
    ),
    per AS (
        SELECT bucket, COUNT(*) AS n_docs FROM b GROUP BY bucket
    ),
    tot AS (SELECT SUM(n_docs) AS total FROM per)
    SELECT bucket,
           CAST(POW(2, bucket) AS BIGINT) AS lo_chars,
           CAST(POW(2, bucket + 1) - 1 AS BIGINT) AS hi_chars,
           n_docs,
           ROUND(n_docs * 1.0 / total, 6) AS share
    FROM per, tot
    ORDER BY bucket
    """,
)
def j34_length_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus length histogram (j34, [NS]): documents bucketed by
    power-of-two character length with per-bucket share — the
    first-look distribution check every corpus audit starts with
    (truncation spikes, boilerplate walls, and over-long outliers all
    show up as bucket anomalies before any content analysis).

    100 TB notes: one partial-aggregable shuffle carrying (bucket,
    count) pairs; the share denominator derives from the per-bucket
    result itself (bucket-cardinality rows → 1-row agg →
    crossJoin-broadcast back), NEVER a second corpus scan or a
    driver-side count."""
    per = (
        scan(spark, sf_dir, "documents")
        .filter(F.col("n_chars") > 0)
        .select(
            F.floor(F.log2("n_chars")).cast("bigint").alias("bucket")
        )
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )
    tot = per.agg(F.sum("n_docs").alias("total"))
    return (
        per.crossJoin(F.broadcast(tot))
        .select(
            "bucket",
            F.pow(F.lit(2), F.col("bucket")).cast("bigint").alias("lo_chars"),
            (F.pow(F.lit(2), F.col("bucket") + 1) - 1)
            .cast("bigint")
            .alias("hi_chars"),
            "n_docs",
            F.round(F.col("n_docs") * 1.0 / F.col("total"), 6).alias("share"),
        )
        .orderBy("bucket")
    )


@query(
    "j42_bpe_pair_stats",
    oracle="""
    WITH w AS (
        SELECT unnest(regexp_extract_all(lower(text), '[a-z]+')) AS word
        FROM documents
    ),
    wc AS (SELECT word, COUNT(*) AS n FROM w GROUP BY word),
    p AS (
        SELECT substring(word, i, 2) AS pair, n
        FROM wc,
             LATERAL (SELECT unnest(generate_series(1, length(word) - 1))
                      AS i)
        WHERE length(word) >= 2
    )
    SELECT pair, CAST(SUM(n) AS BIGINT) AS n_occ
    FROM p GROUP BY pair
    ORDER BY n_occ DESC, pair LIMIT 20
    """,
)
def j42_bpe_pair_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE merge-candidate statistics (j42): the inner loop of
    byte-pair-encoding tokenizer TRAINING — corpus-wide adjacent
    symbol-pair frequencies (symbols start as characters), top-20 =
    the next merge candidates. One full iteration of Sennrich et al.'s
    algorithm, distributed.

    The trick that makes BPE trainable at corpus scale is counting
    over the WORD-TYPE vocabulary, not word occurrences: pair count =
    Σ over distinct words (word_freq × in-word pair occurrences). The
    corpus collapses to its vocabulary in the first aggregate; the
    character-pair explosion then runs over ~|vocab| rows, orders of
    magnitude smaller than the corpus.

    100 TB notes: the word explode is the only corpus-sized map
    (spread() parallelizes the single-row-group local file; no-op at
    scale); the (word) aggregate partial-aggs map-side into vocab-
    cardinality keys; everything after is vocab-sized, and the final
    (pair) aggregate has ≤26² keys — the exchange carries a few
    hundred rows per task. Top-K fuses to TakeOrderedAndProject.
    Successive merge iterations rerun only the vocab-sized stages."""
    d = spread(
        scan(spark, sf_dir, "documents").select("text"), "text"
    )
    words = d.select(
        F.explode(
            F.regexp_extract_all(F.lower("text"), F.lit("[a-z]+"), F.lit(0))
        ).alias("word")
    )
    wc = words.groupBy("word").agg(F.count(F.lit(1)).alias("n"))
    pairs = (
        wc.filter(F.length("word") >= 2)
        .select(
            "word",
            "n",
            F.explode(F.sequence(F.lit(1), F.length("word") - 1)).alias("i"),
        )
        .select(F.expr("substring(word, i, 2)").alias("pair"), "n")
    )
    return (
        pairs.groupBy("pair")
        .agg(F.sum("n").alias("n_occ"))
        .orderBy(F.col("n_occ").desc(), "pair")
        .limit(20)
    )


#: 2^40 — the j43 inclusion test compares 40-bit hash draws
_J43_SCALE = 1 << 40


@query(
    "j43_importance_sample",
    oracle=f"""
    WITH w AS (SELECT MAX(n_chars) AS wmax FROM documents)
    SELECT doc_id, lang, n_chars,
           round(CAST(wmax AS DOUBLE) / n_chars, 6) AS ht_weight
    FROM documents, w
    WHERE CAST('0x' || substr(
              md5('is:' || CAST(doc_id AS VARCHAR) || ':' || text), 1, 10)
            AS BIGINT) * wmax
          < n_chars * {_J43_SCALE}
    """,
)
def j43_importance_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted (importance) sampling (j43): each document is kept
    with probability proportional to its length — the
    size-proportional Poisson sampling used to build token-budgeted
    subcorpora — and carries its Horvitz-Thompson reweight
    (1/inclusion-prob) so downstream statistics stay unbiased.

    Membership is EXACT integer arithmetic: keep iff
    u40 * w_max < w * 2^40, where u40 is a 40-bit md5 draw
    (zero float rates anywhere — the j20/j26 integer-threshold
    discipline extended to per-row variable probabilities; hex parsed
    to int via conv/0x-cast, verified identical). Same doc → same
    fate across runs, engines, and reshards.

    100 TB notes: w_max is a 1-row aggregate crossJoin-broadcast; the
    inclusion predicate is map-side codegen over two pruned columns +
    the text hash — one scan, no shuffle at all (the aggregate's scan
    reads one integer column). Only the HT weight emission touches
    floats, after membership is settled."""
    d = scan(spark, sf_dir, "documents").select(
        "doc_id", "lang", "n_chars", "text"
    )
    wm = d.agg(F.max("n_chars").alias("wmax"))
    u40 = F.conv(
        F.substring(
            F.md5(
                F.concat(
                    F.lit("is:"),
                    F.col("doc_id").cast("string"),
                    F.lit(":"),
                    F.col("text"),
                )
            ),
            1,
            10,
        ),
        16,
        10,
    ).cast("long")
    return (
        d.crossJoin(F.broadcast(wm))
        .filter(u40 * F.col("wmax") < F.col("n_chars") * F.lit(_J43_SCALE))
        .select(
            "doc_id",
            "lang",
            "n_chars",
            F.round(F.col("wmax").cast("double") / F.col("n_chars"), 6).alias(
                "ht_weight"
            ),
        )
    )


_J44_BUCKETS = 1024


@query(
    "j44_feature_hashing",
    oracle=f"""
    WITH tok AS (
        SELECT unnest(regexp_extract_all(lower(text), '[a-z]+')) AS token
        FROM documents
    ),
    b AS (
        SELECT token,
               CAST('0x' || substr(md5(token), 1, 8) AS BIGINT)
                 % {_J44_BUCKETS} AS bucket
        FROM tok
    )
    SELECT bucket, CAST(COUNT(*) AS BIGINT) AS n_occ,
           COUNT(DISTINCT token) AS n_tokens
    FROM b GROUP BY bucket
    ORDER BY n_occ DESC, bucket LIMIT 20
    """,
)
def j44_feature_hashing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Feature-hashing collision audit (j44): the hashing trick maps
    an unbounded vocabulary into {_J44_BUCKETS} fixed feature slots
    (md5-derived bucket — no dictionary, no coordination); this query
    reports the 20 hottest buckets with occupancy and DISTINCT-token
    collision counts — the audit run before committing to a hashed
    feature space (hot buckets ⇒ aliased features ⇒ a bigger space or
    a signed second hash).

    Parity: bucket = 32-bit md5 prefix mod buckets, integer-exact in
    both engines (the j43 '0x'-cast/conv discipline); counts exact.

    100 TB notes: the token explode partial-aggs into ≤buckets·|vocab
    slice| keys map-side; the only exchange carries (bucket, token)
    pre-counts for the distinct, bounded by vocabulary not corpus;
    top-K is TakeOrderedAndProject. The hash is applied scan-side —
    this is the whole point of the hashing trick at scale: feature
    extraction with NO vocabulary broadcast and NO global dictionary
    build."""
    d = spread(scan(spark, sf_dir, "documents").select("text"), "text")
    tok = d.select(
        F.explode(
            F.regexp_extract_all(F.lower("text"), F.lit("[a-z]+"), F.lit(0))
        ).alias("token")
    )
    bucket = (
        F.conv(F.substring(F.md5("token"), 1, 8), 16, 10).cast("long")
        % _J44_BUCKETS
    )
    return (
        tok.select(bucket.alias("bucket"), "token")
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("n_occ"),
            F.count_distinct("token").alias("n_tokens"),
        )
        .orderBy(F.col("n_occ").desc(), "bucket")
        .limit(20)
    )


@query(
    "j48_bpe_merge_apply",
    oracle="""
    WITH w AS (
        SELECT unnest(regexp_extract_all(lower(text), '[a-z]+')) AS word
        FROM documents
    ),
    wc AS (SELECT word, COUNT(*) AS n FROM w GROUP BY word),
    p AS (
        SELECT substring(word, i, 2) AS pair, n
        FROM wc,
             LATERAL (SELECT unnest(generate_series(1, length(word) - 1))
                      AS i)
        WHERE length(word) >= 2
    ),
    top1 AS (
        SELECT pair FROM p GROUP BY pair
        ORDER BY SUM(n) DESC, pair LIMIT 1
    ),
    m AS (
        SELECT wc.word, wc.n, top1.pair,
               (length(wc.word)
                - length(replace(wc.word, top1.pair, ''))) / 2 AS occ
        FROM wc, top1
    )
    SELECT pair,
           CAST(SUM(CASE WHEN occ > 0 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_word_types_affected,
           CAST(SUM(n * occ) AS BIGINT) AS total_merges,
           CAST(SUM(n * length(word)) AS BIGINT) AS symbols_before,
           CAST(SUM(n * length(word)) - SUM(n * occ) AS BIGINT)
             AS symbols_after
    FROM m GROUP BY pair
    """,
)
def j48_bpe_merge_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE merge application (j48): j42 finds the merge candidates;
    this APPLIES the top-1 merge corpus-wide and reports the effect —
    words touched, merges performed, symbol count before/after (each
    merge collapses 2 symbols into 1). j42+j48 together are one full
    iteration of tokenizer training: count pairs → pick → merge →
    recount; the loop runs this pair of vocab-sized jobs per merge,
    never rescanning raw text after the first word-count.

    Parity: merge occurrences = (len - len(replace(word, pair)))/2 —
    replace() is non-overlapping left-to-right in BOTH engines, which
    is also exactly BPE's greedy application order; all outputs are
    exact integers.

    100 TB notes: everything after the corpus word-count aggregate is
    vocab-sized; the top-1 pair is a 1-row TakeOrdered
    crossJoin-broadcast back onto the vocab (no driver round-trip, so
    the merge loop can be submitted as one multi-step job)."""
    d = spread(scan(spark, sf_dir, "documents").select("text"), "text")
    words = d.select(
        F.explode(
            F.regexp_extract_all(F.lower("text"), F.lit("[a-z]+"), F.lit(0))
        ).alias("word")
    )
    wc = words.groupBy("word").agg(F.count(F.lit(1)).alias("n"))
    pairs = (
        wc.filter(F.length("word") >= 2)
        .select(
            "word",
            "n",
            F.explode(F.sequence(F.lit(1), F.length("word") - 1)).alias("i"),
        )
        .select(F.expr("substring(word, i, 2)").alias("pair"), "n")
    )
    top1 = (
        pairs.groupBy("pair")
        .agg(F.sum("n").alias("cnt"))
        .orderBy(F.col("cnt").desc(), "pair")
        .limit(1)
        .select("pair")
    )
    occ = (
        F.length("word") - F.length(F.expr("replace(word, pair, '')"))
    ) / 2
    m = wc.crossJoin(F.broadcast(top1)).select(
        "word", "n", "pair", occ.cast("long").alias("occ")
    )
    return m.groupBy("pair").agg(
        F.sum(F.when(F.col("occ") > 0, 1).otherwise(0)).alias(
            "n_word_types_affected"
        ),
        F.sum(F.col("n") * F.col("occ")).alias("total_merges"),
        F.sum(F.col("n") * F.length("word")).alias("symbols_before"),
        (
            F.sum(F.col("n") * F.length("word")) - F.sum(F.col("n") * F.col("occ"))
        ).alias("symbols_after"),
    )


@query(
    "j49_char_entropy",
    oracle="""
    WITH ch AS (
        SELECT doc_id, unnest(string_split(lower(text), '')) AS c
        FROM documents
    ),
    -- c <> '': string_split('', '') yields [''] — an EMPTY document
    -- has no character distribution and must emit no row, exactly
    -- like the engine's c != '' filter (r8 --pathdocs sweep)
    g AS (SELECT doc_id, c, COUNT(*) AS cnt FROM ch
          WHERE c <> '' GROUP BY doc_id, c),
    l AS (
        SELECT doc_id, list(cnt ORDER BY c) AS cnts,
               CAST(SUM(cnt) AS BIGINT) AS n
        FROM g GROUP BY doc_id
    )
    SELECT doc_id, n,
           round(list_sum(list_transform(cnts,
               x -> -(x / CAST(n AS DOUBLE))
                    * log2(x / CAST(n AS DOUBLE)))), 6) AS entropy,
           round(list_sum(list_transform(cnts,
               x -> -(x / CAST(n AS DOUBLE))
                    * log2(x / CAST(n AS DOUBLE)))), 6) < 3.0 AS low_entropy
    FROM l
    """,
)
def j49_char_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Character-entropy filter (j49): per-doc Shannon entropy of the
    character distribution — the third quality lens beside j28's
    lexical features and j17's bigram-LM: near-zero entropy catches
    repeated-character spam, abnormally high catches base64/binary
    spill; `low_entropy` is the gate flag. (C4 and friends run
    exactly this family of cheap content-shape filters.)

    Parity: per-(doc, char) counts are exact; the entropy terms fold
    IN CHARACTER ORDER on both engines (Spark: array_sort'ed struct
    list + in-order aggregate fold; DuckDB: ordered list + list_sum —
    the j37 fold-equivalence precedent), with the 6dp round absorbing
    any last-ulp log2 divergence.

    100 TB notes: the char explode partial-aggs into (doc, char) keys
    — ≤ alphabet-size rows per doc cross the wire, not characters;
    the per-doc fold runs over ≤ alphabet-size lists. Text itself
    never shuffles."""
    d = spread(
        scan(spark, sf_dir, "documents").select("doc_id", "text"), "doc_id"
    )
    ch = d.select(
        "doc_id", F.explode(F.split(F.lower("text"), "")).alias("c")
    ).filter(F.col("c") != "")
    g = ch.groupBy("doc_id", "c").agg(F.count(F.lit(1)).alias("cnt"))
    l = g.groupBy("doc_id").agg(
        F.array_sort(F.collect_list(F.struct("c", "cnt"))).alias("L"),
        F.sum("cnt").alias("n"),
    )
    nd = F.col("n").cast("double")
    ent = F.round(
        F.aggregate(
            F.col("L"),
            F.lit(0.0),
            lambda acc, s: acc
            - (s["cnt"] / nd) * F.log2(s["cnt"] / nd),
        ),
        6,
    )
    return l.select(
        "doc_id",
        "n",
        ent.alias("entropy"),
        (ent < 3.0).alias("low_entropy"),
    )


_J51_ALPHA = 0.7  # temperature exponent (multilingual rebalancing)
_J51_SCALE = 0.5  # overall target sampling fraction


@query(
    "j51_temperature_sample",
    oracle=f"""
    WITH lc AS (SELECT lang, COUNT(*) AS n FROM documents GROUP BY lang),
    tot AS (SELECT SUM(n) AS nn FROM lc),
    w AS (
        SELECT lang, n,
               round(pow(n / CAST(nn AS DOUBLE), {_J51_ALPHA}), 9) AS wt
        FROM lc, tot
    ),
    z AS (SELECT round(SUM(wt), 9) AS zz FROM w),
    r AS (
        SELECT lang,
               CAST(round(round(wt / zz * {_J51_SCALE}, 9)
                          * 1099511627776) AS BIGINT) AS thr
        FROM w, z
    )
    SELECT d.lang, CAST(COUNT(*) AS BIGINT) AS n_sampled,
           MIN(d.doc_id) AS min_doc, MAX(d.doc_id) AS max_doc
    FROM documents d JOIN r ON r.lang = d.lang
    WHERE CAST('0x' || substr(
              md5('ts:' || CAST(d.doc_id AS VARCHAR) || ':' || d.text),
              1, 10) AS BIGINT) < r.thr
    GROUP BY d.lang
    """,
)
def j51_temperature_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-reweighted sampling (j51): per-language sampling
    rates ∝ share^α (α=0.7) — the multilingual rebalancing move
    (upsample tail languages, damp the head) used by every
    multilingual pretraining mix; j20 samples a FIXED mixture, this
    DERIVES the mixture from the corpus itself.

    Parity: rates involve pow() — not trusted bit-identical across
    libm/JVM — so every float step rounds 9dp (the c16/c21
    discipline: drift ~1e-16 ≪ the 5e-10 boundary) before the rate
    becomes an integer 40-bit threshold; membership is then the
    j43 exact integer compare. Same doc → same fate, both engines.

    100 TB notes: the rate table is |langs| rows (one partial-agg +
    broadcast back); the membership predicate is map-side; one corpus
    scan for stats, one for the sample — or ONE total with a21's
    observe collecting the counts on the sampling pass itself."""
    d = scan(spark, sf_dir, "documents").select("doc_id", "lang", "text")
    lc = d.groupBy("lang").agg(F.count(F.lit(1)).alias("n"))
    tot = lc.agg(F.sum("n").alias("nn"))
    w = lc.crossJoin(F.broadcast(tot)).select(
        "lang",
        F.round(
            F.pow(F.col("n") / F.col("nn").cast("double"), _J51_ALPHA), 9
        ).alias("wt"),
    )
    z = w.agg(F.round(F.sum("wt"), 9).alias("zz"))
    r = w.crossJoin(F.broadcast(z)).select(
        "lang",
        F.round(
            F.round(F.col("wt") / F.col("zz") * _J51_SCALE, 9)
            * F.lit(1099511627776)
        )
        .cast("bigint")
        .alias("thr"),
    )
    u40 = F.conv(
        F.substring(
            F.md5(
                F.concat(
                    F.lit("ts:"),
                    F.col("doc_id").cast("string"),
                    F.lit(":"),
                    F.col("text"),
                )
            ),
            1,
            10,
        ),
        16,
        10,
    ).cast("long")
    return (
        d.join(F.broadcast(r), "lang")
        .filter(u40 < F.col("thr"))
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_sampled"),
            F.min("doc_id").alias("min_doc"),
            F.max("doc_id").alias("max_doc"),
        )
    )
