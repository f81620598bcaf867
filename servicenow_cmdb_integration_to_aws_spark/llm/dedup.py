"""LLM-pipeline dedup operators (SURVEY §2.J: j1, j2) [NS].

j2 is the engine's largest custom dataflow: MinHash + LSH banding for
near-duplicate detection, built entirely from native Spark expressions
(xxhash64 hash family, explode, groupBy) — no Python in the hot path.

100 TB design (why this shape scales):
- identical token sets are collapsed BEFORE any pair work — signatures
  are a pure function of the set, so dup-heavy corpora shrink from n
  docs to g distinct sets and the quadratic stages shrink by (n/g)²;
- the O(n²) pair space is never materialized in the LSH regime: bands
  hash-partition candidates so only same-bucket pairs join (SURVEY §4:
  "avoids O(n²) by construction");
- candidate generation is cost-based, like Spark's own join selection
  (:func:`lsh_pairs` picks one of three strategies): all-pairs
  popcount over bitmasks of max(1, ⌈v/62⌉) words when the vocabulary
  v ≤ 992 and g is small (g²/2 codegen'd comparisons, no shuffle), the
  oracle's token self-join for a larger vocabulary over few docs, LSH
  banding otherwise;
- signatures are one narrow row per set (32 longs), shuffled once;
- exact-Jaccard verification runs only on candidate pairs;
- banding parameters (k=32, b=16, r=2) give P[candidate] ≈ 1 - (1-J²)^16
  → >0.9999998 recall at J ≥ 0.8, tunable per corpus;
- skewed buckets (a band value shared by huge doc groups) are the known
  failure mode at scale — CAPPED since r2 (:data:`LSH_BUCKET_CAP`,
  :func:`_cap_buckets`): oversized buckets are excluded from candidate
  generation; 16-band redundancy keeps true-pair recall (rationale at
  the constant definition). tools/scale_probe.py reproduced the
  uncapped stall on a dup-dense 40k-doc corpus.
"""

from __future__ import annotations

import operator
from functools import reduce

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..operators.fixpoint import _MAD
from ..registry import query
from ..sources.tables import scan, spread
from .canon import canon_docs, canon_oracle

N_HASHES = 32
N_BANDS = 16
ROWS_PER_BAND = N_HASHES // N_BANDS
TAU = 0.8
#: bits used per BIGINT mask word — kept below 64 so no shift ever
#: touches the sign bit's neighborhood
MASK_WORD_BITS = 62
#: the EXACT mask path covers vocabularies up to this many symbols
#: (16 BIGINT words). Above BRUTE_MAX_GROUPS distinct sets within it,
#: or beyond it above BRUTE_MAX_GROUPS docs, the banded general path
#: takes over — which is approximate on adversarially dup-dense
#: corpora (see _lsh_pairs_general).
WIDE_MAX_VOCAB = MASK_WORD_BITS * 16
#: below this many DISTINCT token sets, all-pairs popcount beats LSH
#: banding (g²/2 codegen'd comparisons vs band-explode + dedup shuffle)
BRUTE_MAX_GROUPS = 20_000
#: degenerate-bucket valve: an LSH band bucket holding more than this
#: many members contributes bsz²/2 candidate pairs — one hot bucket is
#: the known quadratic failure mode at scale (self-documented above
#: since r1; measured via tools/scale_probe.py: a dup-dense 40k-doc
#: corpus stalls >5 min uncapped vs ~60 s capped, and doubling the
#: corpus again grows wall-clock only ~1.3x because the cap bounds
#: candidate mass at O(n·cap·bands)). Buckets above the cap are
#: dropped from candidate generation. Recall safety: a TRUE near-dup pair (J ≥ τ =
#: 0.8) collides in each band with P = J² ≥ 0.64, so it has ~16
#: independent chances to surface — it is lost only if EVERY band
#: bucket it lands in is oversized, which requires a corpus that is
#: one giant near-dup cluster (where pair enumeration is itself the
#: wrong query — see j16's cluster representation instead).
LSH_BUCKET_CAP = 500


def _cap_buckets(bands: DataFrame, key_cols: list[str]) -> DataFrame:
    """Drop band buckets larger than LSH_BUCKET_CAP (see above). One
    partial-aggregated count per bucket + a co-keyed semi-join — both
    shuffles key on the bucket id the candidate join needs anyway."""
    sizes = bands.groupBy(*key_cols).agg(F.count(F.lit(1)).alias("bsz"))
    return bands.join(
        sizes.filter(F.col("bsz") <= LSH_BUCKET_CAP).select(*key_cols),
        key_cols,
        "left_semi",
    )


def _tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct (doc_id, token) pairs — word-level shingles, over the
    id-CANONICAL corpus (r11 --dupids: near-dup pairing is id-keyed, so
    a duplicated doc_id must name ONE deterministic text in both
    engines — see llm/canon.py). spread() parallelizes the explode
    when the corpus reads as fewer splits than cores (single-row-group
    testdata; no-op at scale)."""
    d = spread(
        canon_docs(spark, sf_dir).select("doc_id", "text"), "doc_id"
    )
    return d.select(
        "doc_id",
        F.explode(F.array_distinct(F.split(F.lower("text"), " "))).alias("tok"),
    )


def _vocab_row(tok: DataFrame) -> DataFrame:
    """1-row ``(vocab: array<string>)`` — the sorted corpus vocabulary.

    Called by the mask path (:func:`_mask_pairs`) only, whose premise
    is a vocabulary of at most WIDE_MAX_VOCAB symbols (checked by a
    bounded probe before entry), so every partition's ``collect_set``
    partial state stays small: a safe map-side-combined single pass.
    ``sort_array`` makes the rank dictionary deterministic. Replaces
    the previous distinct → row_number window → dim broadcast-join
    pipeline (three exchanges and a single-partition window) with one
    1-row aggregate — cold-plan stage count is the measured cost driver
    here."""
    return tok.select(F.sort_array(F.collect_set("tok")).alias("vocab"))


@query(
    "j1_exact_dedup",
    oracle="""
    SELECT norm_text,
           min(doc_id) AS keeper_doc_id,
           COUNT(*) AS n_copies
    FROM (SELECT doc_id,
                 lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))) AS norm_text
          FROM documents)
    GROUP BY norm_text
    """,
)
def j1_exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup (j1): normalize (lower/trim/collapse-ws), keep the
    lowest doc_id per normalized text. One hash-shuffle on the
    normalized key; at scale, group on md5(norm) to shrink shuffle
    payload (the full text never needs to move)."""
    d = scan(spark, sf_dir, "documents")
    norm = F.lower(F.trim(F.regexp_replace("text", r"\s+", " ")))
    return (
        d.select("doc_id", norm.alias("norm_text"))
        .groupBy("norm_text")
        .agg(
            F.min("doc_id").alias("keeper_doc_id"),
            F.count(F.lit(1)).alias("n_copies"),
        )
    )


@query(
    "j2_minhash_lsh",
    oracle=canon_oracle(f"""
    WITH tok AS (
        SELECT DISTINCT doc_id, tok
        FROM (SELECT doc_id, unnest(string_split(lower(text), ' ')) AS tok
              FROM documents)
    ),
    sizes AS (SELECT doc_id, COUNT(*) AS n FROM tok GROUP BY doc_id),
    inter AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS i
        FROM tok a JOIN tok b ON a.tok = b.tok AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    )
    SELECT doc_a, doc_b,
           CAST(i AS DOUBLE) / (sa.n + sb.n - i) AS jaccard
    FROM inter
    JOIN sizes sa ON sa.doc_id = doc_a
    JOIN sizes sb ON sb.doc_id = doc_b
    WHERE CAST(i AS DOUBLE) / (sa.n + sb.n - i) >= {TAU}
    """, docs=True),
)
def j2_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-duplicate detection (j2): MinHash signatures → LSH banding →
    candidate pairs → exact-Jaccard verification at τ=0.8.

    The oracle is the *brute-force* O(n²) pair set — equality holds in
    the mask regime (exact popcount Jaccard over every group pair) and
    the token-join regime, and, in the banded general regime, because
    banding recall at J≥τ is ≈1-8e-8 with (b=16, r=2) and every
    candidate is verified exactly — EXCEPT on adversarially dup-dense
    corpora where the degenerate-bucket cap prunes true pairs
    (measured: a 4x dup-dense probe corpus kept 1.37M of ~11.9M true
    pairs). That is exactly why the exact regimes exist: any corpus
    where pair enumeration is the right query gets an exact path — the
    mask path decides by g (DISTINCT sets, probed boundedly: dup-dense
    corpora stay exact at ANY row count), the token-join path by doc
    count. Hash family: xxhash64 over a seed-prefixed token (fixed
    seeds → fully deterministic)."""
    tok = _tokens(spark, sf_dir)
    # n_docs = |canon_docs| = |distinct doc_id| by construction (canon
    # keeps exactly one winner per id), so the dispatch count is a
    # single-column partial-agg count-distinct over the raw scan — no
    # payload window, no wide-row shuffle (guide §2.2: shuffle fewer
    # bytes for the same answer).  A/B r14: construct 1.09 → 0.74 s warm.
    n_docs = (
        scan(spark, sf_dir, "documents").select("doc_id").distinct().count()
    )
    return lsh_pairs(tok, n_docs)


def lsh_pairs(tok: DataFrame, n_docs: int) -> DataFrame:
    """Strategy dispatch for near-dup pair enumeration over a
    ``(doc_id, tok)`` frame — j2's machinery, also the engine behind
    ``CmdbEngine.near_dup_pairs`` so the API facade and the registered
    query can never diverge. Picked by one BOUNDED vocabulary probe
    (distinct().limit(993).count() — never scans past 993 distinct
    tokens) plus the caller-supplied doc count:

    - v ≤ 992                → mask path (max(1, ⌈v/62⌉) BIGINT words,
      collapse identical sets, all-pairs popcount Jaccard if g ≤ 20k —
      probed boundedly — else the banded general path);
    - docs ≤ 20k             → exact token-join (the oracle's own
      co-keyed plan over distinct sets);
    - else                   → set-level banded LSH (the 100 TB
      regime: approximate only on corpora dense enough that pair
      enumeration is itself the wrong query — see j16/j36)."""
    v = tok.select("tok").distinct().limit(WIDE_MAX_VOCAB + 1).count()
    if v <= WIDE_MAX_VOCAB:
        # max: the empty corpus (v = 0) still gets one word
        return _mask_pairs(tok, max(1, -(-v // MASK_WORD_BITS)), n_docs)
    if n_docs <= BRUTE_MAX_GROUPS:
        return _exact_pairs_token_join(tok)
    return _lsh_pairs_general(tok)


def _mask_pairs(tok: DataFrame, n_words: int, n_docs_hint: int) -> DataFrame:
    """Exact near-dup pairs over a vocabulary of at most WIDE_MAX_VOCAB
    symbols: each token set packs into ``n_words`` BIGINT mask words
    (bit = rank in the broadcast sorted vocabulary, OR-folded by a
    partial-aggregatable bit_or), and every group pair is verified with
    codegen'd popcount Jaccard — no banding, no caps, no recall loss,
    no Python.

    Scale insight (dedupe-identical-content-first): a token set's
    Jaccard with any other set is a pure function of the set, so docs
    with identical sets collapse to one group (one mask) BEFORE any
    pair work; the quadratic stage runs over g distinct sets, not n
    docs — on duplicate-heavy corpora g << n and it shrinks by (n/g)².
    Doc-level pairs are expanded only at the end: output-optimal.

    Exactness feasibility is decided by g, not the row count (a
    dup-dense web corpus keeps g small while n grows without bound):
    n ≤ BRUTE_MAX_GROUPS proves g ≤ BRUTE_MAX_GROUPS for free; above it
    one BOUNDED probe (limit(g+1).count() over the persisted groups)
    decides, and a genuinely-many-distinct-sets corpus falls back to
    the banded general path (its approximate contract documented
    there). In the exact regime the build side stays ≤20k × (8·W+8) B;
    the dup-dense corpus that defeats banded candidate generation is
    exactly where this regime wins.

    Pair order and the self-pair filter compare the mask words as
    longs — a lexicographic chain and an OR of word inequalities, never
    struct comparisons — so at W=1 every comparison and both expansion
    joins are on one long key."""
    mcols = [f"m{w}" for w in range(n_words)]
    vocab_row = _vocab_row(tok)
    pos = "(array_position(vocab, tok) - 1)"
    masks = (
        tok.crossJoin(F.broadcast(vocab_row))
        .groupBy("doc_id")
        .agg(
            *[
                F.bit_or(
                    F.expr(
                        f"CASE WHEN {pos} DIV {MASK_WORD_BITS} = {w}"
                        f" THEN CAST(1 AS BIGINT)"
                        f" << CAST({pos} % {MASK_WORD_BITS} AS INT)"
                        f" ELSE CAST(0 AS BIGINT) END"
                    )
                ).alias(f"m{w}")
                for w in range(n_words)
            ],
            F.count(F.lit(1)).alias("n"),
        )
    )
    groups = masks.select(*mcols, "n").distinct()
    if n_docs_hint > BRUTE_MAX_GROUPS:
        # masks feeds groups and both expansion dims; groups feeds the
        # probe, the NL join's two sides and self_pairs. Without a
        # persist each consumer re-runs the corpus scan and mask build —
        # at 100 TB that many passes — so large inputs persist both
        # narrow intermediates (MEMORY_AND_DISK spills instead of
        # OOMing). Small inputs skip it: the materialization barrier
        # costs more than the map-only recompute it saves.
        masks = masks.persist(_MAD)
        groups = groups.persist(_MAD)
        g_small = (
            groups.select(mcols[0]).limit(BRUTE_MAX_GROUPS + 1).count()
            <= BRUTE_MAX_GROUPS
        )
        if not g_small:
            # beyond exact-enumeration reach: banded scale path (the
            # probe's materialized masks are abandoned — one extra
            # corpus pass in the crossover regime, paid once). Free
            # the dead cached blocks NOW: leaving them to the
            # ContextCleaner means repeated invocations in a long
            # driver session accumulate MEMORY_AND_DISK blocks
            # nondeterministically.
            masks.unpersist(blocking=False)
            groups.unpersist(blocking=False)
            return _lsh_pairs_general(tok)
    a_names = [f"{c}_a" for c in mcols]
    b_names = [f"{c}_b" for c in mcols]
    as_a = [F.col(c).alias(n) for c, n in zip(mcols, a_names)]
    as_b = [F.col(c).alias(n) for c, n in zip(mcols, b_names)]
    a_cols = [F.col(n) for n in a_names]
    b_cols = [F.col(n) for n in b_names]
    ga = groups.select(*as_a, F.col("n").alias("na"))
    gb = groups.select(*as_b, F.col("n").alias("nb"))
    inter = reduce(
        operator.add,
        [F.bit_count(a.bitwiseAND(b)) for a, b in zip(a_cols, b_cols)],
    )
    jac = inter.cast("double") / (F.col("na") + F.col("nb") - inter)
    # a < b word by word: m0_a < m0_b OR (m0_a = m0_b AND (m1_a < m1_b OR …))
    a_lt_b = None
    for a, b in reversed(list(zip(a_cols, b_cols))):
        a_lt_b = a < b if a_lt_b is None else (a < b) | ((a == b) & a_lt_b)
    a_ne_b = reduce(operator.or_, [a != b for a, b in zip(a_cols, b_cols)])
    # Fused all-pairs verify: the exact-Jaccard test rides IN the
    # broadcast-NL join predicate, so no g²/2 candidate set ever
    # materializes — one codegen'd stage emits the surviving pairs.
    # The stream side MUST be explicitly spread first: g rows are only
    # 8·W+8 B each, so AQE's size-based coalescing collapses the
    # distinct's output to ONE partition — and then the g²/2 predicate
    # evaluations plus the (potentially huge on dup-dense corpora)
    # qualifying-pair output run on one core (measured: a 4x probe
    # cliffed 3.3 s → 172 s exactly at this boundary). Bytes are the
    # wrong cost model for an NL join; an explicit round-robin
    # repartition (AQE never re-coalesces user-specified repartitions)
    # slices the quadratic COMPUTE evenly across the cluster for the
    # price of shuffling ≤20k tiny rows.
    par = tok.sparkSession.sparkContext.defaultParallelism
    cross = (
        ga.repartition(par)
        .join(F.broadcast(gb), a_lt_b & (jac >= TAU))
        .select(*a_cols, *b_cols, jac.alias("jaccard"))
    )
    self_pairs = groups.select(*as_a, *as_b, F.lit(1.0).alias("jaccard"))
    # expand group pairs back to doc pairs (output-bound joins). Cross
    # pairs orient each doc pair by least/greatest (groups are disjoint,
    # so each unordered pair appears exactly once); within-group pairs
    # keep da < db to emit each unordered pair once.
    da = masks.select(*as_a, F.col("doc_id").alias("da"))
    db = masks.select(*as_b, F.col("doc_id").alias("db"))
    if n_docs_hint <= BRUTE_MAX_GROUPS:
        # the doc dims are n_docs rows — broadcastable only when the
        # DOC count is small, not merely g (the g-probed regime can
        # hold with huge n over few sets; there AQE picks the strategy)
        da, db = F.broadcast(da), F.broadcast(db)
    return (
        cross.unionByName(self_pairs)
        .join(da, a_names)
        .join(db, b_names)
        .filter(a_ne_b | (F.col("da") < F.col("db")))
        .select(
            F.least("da", "db").alias("doc_a"),
            F.greatest("da", "db").alias("doc_b"),
            "jaccard",
        )
    )


def _lsh_pairs_general(tok: DataFrame) -> DataFrame:
    # General path (vocab too large for masks, or corpus too large for
    # brute verification): SAME collapse-identical-sets-first design as
    # the mask path, with an md5 set-digest standing in for the
    # bitmask as the group key. CONTRACT NOTE: this is the approximate
    # 100 TB regime — on corpora where thousands of DISTINCT sets are
    # all mutually near-dup, the degenerate-bucket cap prunes true
    # cross-set pairs (measured 88% loss on a dup-dense probe corpus).
    # The dispatch in lsh_pairs guarantees any corpus small enough
    # for exact pair enumeration takes the mask or token-join exact
    # paths instead; reaching here with a dup-dense corpus means pair
    # enumeration is the wrong query (use j16/j36 cluster forms).
    # Collapsing before banding matters twice here: (a) dup-heavy
    # corpora shrink the quadratic stages by (n/g)²; (b) a clone
    # cluster of ANY size (boilerplate pages, the common real-world
    # degenerate) surfaces through self_pairs below and can never be
    # lost to the bucket cap — the cap only governs cross-set
    # candidates.
    # The pipeline's natural intermediates each feed several
    # consumers (sorted_sets -> groups/gtok/da/db, gtok -> sigs/ta/tb,
    # bands -> both join sides) and Spark plans duplicate the full
    # upstream lineage per consumer (measured: 14 document scans in
    # the un-checkpointed executed plan, zero ReusedExchange). A lazy
    # persist materializes each once (every consumer reads the
    # InMemoryTableScan) — these are exactly the token/signature
    # tables a production minhash pipeline persists. persist, NOT
    # localCheckpoint: under AQE even eager=False checkpointing runs
    # the upstream stages at plan-CONSTRUCTION time (measured: 6 jobs
    # before any action), and its blocks are non-recoverable on
    # executor loss; persist stays lazy and recomputes from lineage.
    sorted_sets, groups, gtok = _collapsed_sets(tok)

    # MinHash signature: 32 independent min-hashes per distinct SET.
    sigs = gtok.groupBy("gkey").agg(
        *[
            F.min(F.xxhash64(F.concat(F.lit(f"{i}|"), F.col("tok")))).alias(f"h{i}")
            for i in range(N_HASHES)
        ]
    )

    # LSH banding: hash each band of r consecutive signature slots.
    band_hashes = [
        F.xxhash64(
            F.concat_ws(
                ",",
                *[
                    F.col(f"h{b * ROWS_PER_BAND + r}").cast("string")
                    for r in range(ROWS_PER_BAND)
                ],
            )
        )
        for b in range(N_BANDS)
    ]
    bands = _cap_buckets(
        sigs.select(
            "gkey",
            F.posexplode(F.array(*band_hashes)).alias("band_idx", "band_hash"),
        ),
        ["band_idx", "band_hash"],
    ).persist(_MAD)

    # candidate SET pairs: same (band_idx, band_hash) bucket, a < b
    left = bands.alias("L")
    right = bands.alias("R")
    cand = (
        left.join(
            right,
            (F.col("L.band_idx") == F.col("R.band_idx"))
            & (F.col("L.band_hash") == F.col("R.band_hash"))
            & (F.col("L.gkey") < F.col("R.gkey")),
        )
        .select(F.col("L.gkey").alias("gkey_a"), F.col("R.gkey").alias("gkey_b"))
        .distinct()
    )

    # exact verification: Jaccard from token-set intersection sizes,
    # over distinct sets (token join co-keyed on the token)
    ta = gtok.select(F.col("gkey").alias("gkey_a"), F.col("tok").alias("tok_a"))
    tb = gtok.select(F.col("gkey").alias("gb_key"), F.col("tok").alias("tok_b"))
    inter = (
        cand.join(ta, "gkey_a")
        .join(
            tb,
            (F.col("gkey_b") == F.col("gb_key"))
            & (F.col("tok_a") == F.col("tok_b")),
        )
        .groupBy("gkey_a", "gkey_b")
        .agg(F.count(F.lit(1)).alias("i"))
    )
    return _verify_and_expand(inter, groups, sorted_sets)


def _collapsed_sets(tok: DataFrame):
    """Collapse identical token sets (the dedupe-identical-content-first
    step shared by the general and exact-token-join paths): returns
    ``(sorted_sets, groups, gtok)`` — doc→set-digest mapping, distinct
    (digest, size) groups, and distinct (digest, token) membership.
    Each is lazily persisted: they feed several consumers and Spark
    plans duplicate the full upstream lineage per consumer (see the
    fixpoint._MAD note); these are exactly the tables a production
    minhash pipeline persists, and the shuffles carry 16-byte digests
    plus tokens, never document text."""
    tok = tok.persist(_MAD)
    sorted_sets = tok.groupBy("doc_id").agg(
        F.md5(F.concat_ws("\x01", F.sort_array(F.collect_list("tok")))).alias(
            "gkey"
        ),
        F.count(F.lit(1)).alias("n"),
    ).persist(_MAD)
    groups = sorted_sets.select("gkey", "n").distinct()
    gtok = (
        tok.join(sorted_sets.select("doc_id", "gkey"), "doc_id")
        .select("gkey", "tok")
        .distinct()
        .persist(_MAD)
    )
    return sorted_sets, groups, gtok


def _verify_and_expand(
    inter: DataFrame, groups: DataFrame, sorted_sets: DataFrame
) -> DataFrame:
    """Shared tail of the set-collapsed pipelines: exact Jaccard from
    intersection counts + set sizes, the τ filter, identical-set self
    pairs (J=1 ≥ τ by construction), and the output-bound expansion of
    set pairs back to doc pairs."""
    sa = groups.select(F.col("gkey").alias("gkey_a"), F.col("n").alias("na"))
    sb = groups.select(F.col("gkey").alias("gkey_b"), F.col("n").alias("nb"))
    jac = F.col("i").cast("double") / (F.col("na") + F.col("nb") - F.col("i"))
    cross = (
        inter.join(sa, "gkey_a")
        .join(sb, "gkey_b")
        .select("gkey_a", "gkey_b", jac.alias("jaccard"))
        .filter(F.col("jaccard") >= TAU)
    )
    self_pairs = groups.select(
        F.col("gkey").alias("gkey_a"),
        F.col("gkey").alias("gkey_b"),
        F.lit(1.0).alias("jaccard"),
    )
    da = sorted_sets.select(F.col("gkey").alias("gkey_a"), F.col("doc_id").alias("da"))
    db = sorted_sets.select(F.col("gkey").alias("gkey_b"), F.col("doc_id").alias("db"))
    return (
        cross.unionByName(self_pairs)
        .join(da, "gkey_a")
        .join(db, "gkey_b")
        .filter(
            (F.col("gkey_a") != F.col("gkey_b")) | (F.col("da") < F.col("db"))
        )
        .select(
            F.least("da", "db").alias("doc_a"),
            F.greatest("da", "db").alias("doc_b"),
            "jaccard",
        )
    )


def _exact_pairs_token_join(tok: DataFrame) -> DataFrame:
    """Exact near-dup pairs for big-vocab corpora within exact-pair-
    enumeration reach (≤BRUTE_MAX_GROUPS docs, dispatched by
    j2_minhash_lsh): the oracle's own co-keyed token self-join, run
    over DISTINCT sets. The candidate set is every set pair sharing
    ≥1 token — a superset of every J ≥ τ > 0 pair, so nothing is ever
    dropped (no banding, no bucket caps, no recall argument needed).
    Cost is Σ_token gdf(token)² over distinct sets, bounded by the
    same g ≤ BRUTE_MAX_GROUPS gate as the mask regime and equal
    to the work the comparison oracle itself performs; corpora beyond
    that take the banded scale path. Shuffles carry 16-byte digests
    and tokens, never document text."""
    sorted_sets, groups, gtok = _collapsed_sets(tok)
    ta = gtok.select(F.col("gkey").alias("gkey_a"), "tok")
    tb = gtok.select(F.col("gkey").alias("gkey_b"), "tok")
    inter = (
        ta.join(tb, "tok")
        .where(F.col("gkey_a") < F.col("gkey_b"))
        .groupBy("gkey_a", "gkey_b")
        .agg(F.count(F.lit(1)).alias("i"))
    )
    return _verify_and_expand(inter, groups, sorted_sets)


@query(
    "j2b_simhash",
    oracle=canon_oracle("""
    WITH tok AS (
        SELECT DISTINCT doc_id, tok
        FROM (SELECT doc_id, unnest(string_split(lower(text), ' ')) AS tok
              FROM documents)
    ),
    votes AS (
        SELECT doc_id, bit,
               CASE WHEN ((instr('0123456789abcdef',
                                 substring(md5(tok), 4 - (bit // 4), 1)) - 1)
                          >> (bit % 4)) & 1 = 1
                    THEN 1 ELSE -1 END AS v
        FROM tok, range(0, 16) t(bit)
    ),
    sums AS (SELECT doc_id, bit, SUM(v) AS s FROM votes GROUP BY 1, 2)
    SELECT doc_id,
           CAST(SUM(CASE WHEN s > 0 THEN CAST(1 AS BIGINT) << bit
                         ELSE 0 END) AS BIGINT) AS simhash16
    FROM sums GROUP BY doc_id
    """, docs=True),
)
def j2b_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup fingerprint (j2 family): per token, hash bits
    vote +1/-1 per bit position; the sign vector packs into a 16-bit
    fingerprint. Near-dups = small Hamming distance (checked in unit
    tests with hand-built fixtures). Deterministic, one shuffle.

    Hash family: the 16 MSB nibble-bits of md5(token) — md5 exists
    bit-identically in both engines, which upgrades this id from
    rows-only to a full value-level SQL oracle (xxhash64, the previous
    family, is Spark-only). Hex-nibble extraction stays inside codegen
    (instr/substring/shift on a 4-char prefix); at 100 TB the md5-vs-
    xxhash64 cost difference is noise next to the explode shuffle."""
    tok = _tokens(spark, sf_dir)
    bit = F.explode(F.sequence(F.lit(0), F.lit(15))).alias("bit")
    votes = tok.select("doc_id", F.md5("tok").alias("h"), bit).select(
        "doc_id",
        "bit",
        # column-valued shift amounts need SQL expr (shiftright takes a
        # literal); nibble = position in the hex alphabet of the char
        # holding this bit (chars are MSB-first: bits 15..12 → char 1).
        F.when(
            F.expr(
                "((instr('0123456789abcdef', substring(h, 4 - (bit div 4), 1))"
                " - 1) >> (bit % 4)) & 1"
            )
            == 1,
            1,
        )
        .otherwise(-1)
        .alias("v"),
    )
    return (
        votes.groupBy("doc_id", "bit")
        .agg(F.sum("v").alias("s"))
        .groupBy("doc_id")
        .agg(
            F.sum(
                F.when(F.col("s") > 0, F.expr("CAST(1 AS BIGINT) << bit")).otherwise(
                    F.lit(0)
                )
            )
            .cast("bigint")
            .alias("simhash16")
        )
    )


@query(
    "j2c_ngram_jaccard",
    oracle="""
    WITH d0 AS (
        SELECT doc_id, t, greatest(length(t) - 3, 1) AS p
        FROM (SELECT doc_id, lower(text) AS t FROM documents)
    ),
    -- TWO-LEVEL chunked gram build: substr(t, i, 4) straight off the
    -- document is O(i) per call (UTF-8 codepoint scan from the string
    -- start — true in BOTH engines), so per-position grams over a
    -- giant document go quadratic (an 880KB doc wedged a core for
    -- >10 min in the r8 --pathdocs sweep). Slicing 4096-char chunks
    -- (+3 overlap) first costs O(n²/4096) in chunk extraction and
    -- keeps every per-gram substr scan inside a 4KB string.
    ch AS (
        SELECT doc_id,
               substr(t, CAST(c * 4096 + 1 AS BIGINT), 4099) AS s,
               least(p - c * 4096, 4096) AS nl
        FROM d0, LATERAL (SELECT unnest(range(0, (p + 4095) // 4096)) AS c) cc
    ),
    gr AS (
        SELECT doc_id,
               unnest(list_transform(range(1, nl + 1),
                                     i -> substr(s, CAST(i AS INT), 4))) AS ng
        FROM ch
    ),
    g AS (SELECT doc_id, list(DISTINCT ng) AS ngs FROM gr GROUP BY doc_id)
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           round(CAST(len(list_intersect(a.ngs, b.ngs)) AS DOUBLE)
                 / (len(a.ngs) + len(b.ngs)
                    - len(list_intersect(a.ngs, b.ngs))), 6) AS ngram_jaccard
    FROM g a JOIN g b ON b.doc_id = a.doc_id + 1
    """,
)
def j2c_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Character-4-gram Jaccard similarity (j2 family): score each
    adjacent-id doc pair by shingle-set overlap.

    This is the *scoring* member of the dedup family — j2 does pair
    DISCOVERY (LSH candidate generation); this op demonstrates exact
    n-gram Jaccard on an explicit bounded pair set (here: consecutive
    doc ids, the pattern a incremental-sync pipeline applies to
    old-vs-new row versions).

    Shape note: NOT array_intersect over per-doc gram arrays
    (quadratic per doc: measured ~6 s at sf0.1), and NOT a self-join
    keyed on the gram string (the r2–r4 shape: two extra shuffles, a
    skewed string join key — " the" collides corpus-wide — and a
    3-consumer persist of the exploded gram set, >2× the oracle at
    every measurement). Instead each gram row is EXPLODED INTO ITS TWO
    PAIRS — (doc_id, m=1) as the pair's left member and (doc_id-1,
    m=2) as the right member — then ONE hash aggregate on (doc_a, ng)
    bit_or's the membership mask (3 ⇔ both docs share the gram; dup
    grams collapse for free, so no distinct pass) and ONE per-doc_a
    aggregate counts na / nb / i in a single pass. One scan, two
    shuffles, zero joins, zero persists; doc_a in the shuffle key
    spreads hot grams, so no skew. At 100 TB nothing materializes but
    (pair, gram) partials."""
    d = spread(
        scan(spark, sf_dir, "documents").select(
            "doc_id", F.lower("text").alias("t")
        ),
        "doc_id",
    )
    # explode positions FIRST, then substring — a plain codegen'd
    # expression per row. (A transform(..., i -> substring(...)) lambda
    # produces the same grams 17x slower: higher-order-function lambdas
    # are interpreted per element.) TWO-LEVEL: chunk the document into
    # 4096-char slices (+3 overlap) BEFORE the per-position explode —
    # substring(t, i, 4) is O(i) (UTF-8 codepoint scan from the start,
    # in Spark and DuckDB alike), so grams straight off a giant
    # document are O(n²) on one core (an 880KB doc wedged >10 min in
    # the r8 --pathdocs sweep); chunked, extraction is O(n²/4096) and
    # every gram substring scans a 4KB string.
    chunks = d.select(
        "doc_id",
        "t",
        F.greatest(F.length("t") - 3, F.lit(1)).alias("p"),
    ).select(
        "doc_id",
        "p",
        F.explode(
            F.sequence(
                F.lit(0), F.floor((F.col("p") - 1) / 4096).cast("int")
            )
        ).alias("c"),
        "t",
    ).select(
        "doc_id",
        F.expr("substring(t, c * 4096 + 1, 4099)").alias("s"),
        F.least(F.col("p") - F.col("c") * 4096, F.lit(4096)).alias("nl"),
    )
    grams = chunks.select(
        "doc_id",
        "s",
        F.explode(F.sequence(F.lit(1), F.col("nl").cast("int"))).alias("i"),
    ).select("doc_id", F.expr("substring(s, i, 4)").alias("ng"))
    tagged = grams.select(
        F.explode(
            F.array(
                F.struct(F.col("doc_id").alias("doc_a"), F.lit(1).alias("m")),
                F.struct(
                    (F.col("doc_id") - 1).alias("doc_a"), F.lit(2).alias("m")
                ),
            )
        ).alias("x"),
        "ng",
    ).select("x.doc_a", "x.m", "ng")
    g = tagged.groupBy("doc_a", "ng").agg(F.bit_or("m").alias("m"))
    # na/nb > 0 ⇔ both pair members exist (every doc has ≥1 gram), so
    # the filter reproduces the oracle's inner join on doc_b=doc_a+1.
    scored = (
        g.groupBy("doc_a")
        .agg(
            F.count(F.when(F.col("m").isin(1, 3), 1)).alias("na"),
            F.count(F.when(F.col("m").isin(2, 3), 1)).alias("nb"),
            F.count(F.when(F.col("m") == 3, 1)).alias("i"),
        )
        .filter((F.col("na") > 0) & (F.col("nb") > 0))
    )
    jac = F.col("i").cast("double") / (F.col("na") + F.col("nb") - F.col("i"))
    return scored.select(
        "doc_a",
        (F.col("doc_a") + 1).alias("doc_b"),
        F.round(jac, 6).alias("ngram_jaccard"),
    )


_J52_N = 3  # word n-gram width
_J52_TAU = 0.8  # containment threshold
_J52_DF_CAP = 50  # drop grams appearing in more docs (stopword grams)


@query(
    "j52_containment_dedup",
    oracle=canon_oracle(f"""
    WITH d AS (
        SELECT doc_id, string_split(lower(text), ' ') AS w FROM documents
    ),
    -- LINEAR gram build (lead-chain): per-position w[i:i+n] slices
    -- copy the token list per gram in duckdb — quadratic on a giant
    -- document (the j22/j53 --pathdocs class)
    tok AS (
        SELECT doc_id, unnest(range(1, len(w) + 1)) AS pos,
               unnest(w) AS word
        FROM d
    ),
    g0 AS (
        SELECT doc_id,
               word || ' ' || lead(word, 1) OVER lw
                    || ' ' || lead(word, 2) OVER lw AS gram
        FROM tok WINDOW lw AS (PARTITION BY doc_id ORDER BY pos)
    ),
    g AS (SELECT DISTINCT doc_id, gram FROM g0 WHERE gram IS NOT NULL),
    df AS (SELECT gram, COUNT(*) AS nd FROM g GROUP BY gram),
    gk AS (
        SELECT g.doc_id, g.gram FROM g
        JOIN df ON df.gram = g.gram
        WHERE df.nd <= {_J52_DF_CAP}
    ),
    sz AS (SELECT doc_id, COUNT(*) AS n FROM gk GROUP BY doc_id),
    shared AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS s
        FROM gk a JOIN gk b
          ON a.gram = b.gram AND a.doc_id <> b.doc_id
        GROUP BY a.doc_id, b.doc_id
    )
    SELECT sh.doc_a, sh.doc_b,
           round(CAST(sh.s AS DOUBLE) / sa.n, 6) AS containment
    FROM shared sh
    JOIN sz sa ON sa.doc_id = sh.doc_a
    WHERE round(CAST(sh.s AS DOUBLE) / sa.n, 6) >= {_J52_TAU}
    """, docs=True),
)
def j52_containment_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric containment detection (j52): pairs where doc A's
    gram set is ≥τ CONTAINED in doc B — the quote/subset/excerpt
    case every symmetric measure misses (a paragraph quoted inside a
    long article has tiny Jaccard: the union is dominated by B).
    Containment = |grams_A ∩ grams_B| / |grams_A|, directional by
    construction — (small ⊂ big) fires, (big ⊄ small) doesn't.

    100 TB notes: candidate pairs come from the shared-gram join,
    whose fan-out per gram is its document frequency — so grams with
    df > cap are dropped FIRST (boilerplate/stopword grams carry no
    containment signal and quadratic cost; the same df-cap logic as
    j2's degenerate-bucket guard). After the cap, pair work is
    Σ df² over rare grams; the per-pair aggregate partial-aggs on
    (doc_a, doc_b). Grams ride as 8-byte xxhash64 DIGESTS from the
    explode on (r14, guide §2.3 shuffle narrower types): the gram
    string exists only inside the per-row transform — the distinct,
    the df count and the pair join all shuffle/compare longs, never
    ~50-byte strings (interleaved A/B at sf0.1: warm med 1.15 →
    0.59 s, results exactly equal). Containment counts DISTINCT
    grams, so a 64-bit collision could only merge two grams of one
    doc — P(any collision corpus-wide) ≈ m²/2⁶⁵, immaterial next to
    the df-cap's own documented approximation."""
    d = spread(
        canon_docs(spark, sf_dir).select("doc_id", "text"), "doc_id"
    )
    w = F.split(F.lower("text"), " ")
    grams = (
        d.select("doc_id", w.alias("w"))
        .filter(F.size("w") >= _J52_N)
        .select(
            "doc_id",
            F.explode(
                F.transform(
                    F.sequence(F.lit(0), F.size("w") - _J52_N),
                    lambda i: F.xxhash64(
                        F.concat_ws(" ", F.slice(F.col("w"), i + 1, _J52_N))
                    ),
                )
            ).alias("gram"),
        )
        .distinct()
        # grams feeds df_counts + gk and gk feeds sz/a/b — without the
        # lazy persists Spark re-runs the explode+distinct once per
        # consumer (measured 8 document scans in one executed plan; the
        # lineage-duplication class, same fix as j2's general path).
        .persist(_MAD)
    )
    df_counts = grams.groupBy("gram").agg(F.count(F.lit(1)).alias("nd"))
    gk = grams.join(
        df_counts.filter(F.col("nd") <= _J52_DF_CAP).select("gram"), "gram"
    ).persist(_MAD)
    sz = gk.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    a = gk.select(F.col("doc_id").alias("doc_a"), "gram")
    b = gk.select(F.col("doc_id").alias("doc_b"), "gram")
    shared = (
        a.join(b, "gram")
        .filter(F.col("doc_a") != F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("s"))
    )
    cont = F.round(
        F.col("s").cast("double") / F.col("n"), 6
    )
    return (
        shared.join(sz.withColumnRenamed("doc_id", "doc_a"), "doc_a")
        .select("doc_a", "doc_b", cont.alias("containment"))
        .filter(F.col("containment") >= _J52_TAU)
    )


# ---------------------------------------------------------------------------
# j53 — exact repeated-substring dedup (suffix-array family)

#: minimum repeat length in WORDS. Lee et al. 2022 ("Deduplicating
#: Training Data Makes Language Models Better" [NS]) use 50 BPE
#: tokens; the synthetic corpus averages ~54 words/doc, so 8 words
#: exercises both the removal and the keep path (~9% of gram
#: occurrences are duplicated at sf0.01).
SUB_K = 8


@query(
    "j53_substring_dedup",
    oracle=canon_oracle(f"""
    WITH d AS (
        SELECT doc_id, string_split(lower(text), ' ') AS w FROM documents
    ),
    tok AS (
        SELECT doc_id, len(w) AS n_tokens,
               unnest(range(1, len(w) + 1)) AS pos, unnest(w) AS word
        FROM d
    ),
    -- LINEAR gram hash (lead-chain), NOT w[pos:pos+K] slices: carrying
    -- and slicing the full token list per row goes quadratic in duckdb
    -- on a giant document (the j22 --pathdocs finding; same fix). The
    -- NULL-propagating || chain reproduces the pos <= n-K+1 guard.
    flagged AS (
        SELECT doc_id, n_tokens, pos, word,
               md5(word || ' ' || lead(word, 1) OVER lw || ' ' || lead(word, 2) OVER lw || ' ' || lead(word, 3) OVER lw || ' ' || lead(word, 4) OVER lw || ' ' || lead(word, 5) OVER lw || ' ' || lead(word, 6) OVER lw || ' ' || lead(word, 7) OVER lw) AS gh
        FROM tok
        WINDOW lw AS (PARTITION BY doc_id ORDER BY pos)
    ),
    freq AS (
        SELECT gh, COUNT(*) AS c FROM flagged WHERE gh IS NOT NULL
        GROUP BY gh
    ),
    starts AS (
        SELECT f.doc_id, f.n_tokens, f.pos, f.word,
               CASE WHEN fr.c >= 2 THEN 1 ELSE 0 END AS dup_start
        FROM flagged f LEFT JOIN freq fr ON f.gh = fr.gh
    ),
    cov AS (
        SELECT doc_id, n_tokens, pos, word,
               MAX(dup_start) OVER (
                   PARTITION BY doc_id ORDER BY pos
                   ROWS BETWEEN {SUB_K - 1} PRECEDING AND CURRENT ROW
               ) AS covered
        FROM starts
    ),
    runs AS (
        SELECT doc_id, n_tokens, pos, word, covered,
               CASE WHEN covered = 1 AND COALESCE(LAG(covered) OVER (
                   PARTITION BY doc_id ORDER BY pos), 0) = 0
               THEN 1 ELSE 0 END AS span_start
        FROM cov
    )
    SELECT doc_id,
           CAST(MAX(n_tokens) AS BIGINT) AS n_tokens,
           CAST(SUM(covered) AS BIGINT) AS n_dup_tokens,
           CAST(SUM(span_start) AS BIGINT) AS n_dup_spans,
           COALESCE(string_agg(CASE WHEN covered = 0 THEN word END,
                               ' ' ORDER BY pos), '') AS cleaned_text
    FROM runs
    GROUP BY doc_id
    """, docs=True),
)
def j53_substring_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact repeated-substring dedup (j53, [NS]): remove every token
    covered by a substring of ≥ SUB_K words that occurs ≥2 times
    ANYWHERE in the corpus (including within the same document) — the
    Lee-et-al-2022 suffix-array dedup standard, at word granularity.
    j27's fixed-width chunks miss arbitrary-offset repeats and j32
    only fingerprints them; this id removes them exactly.

    EQUIVALENCE (why no suffix array is needed for detection): a
    repeated substring of length L ≥ K contains L−K+1 duplicated
    K-grams, and every duplicated K-gram IS a repeated K-substring —
    so the token set covered by repeats of length ≥ K equals the
    union of duplicated-K-gram spans. That union is computable as:
    gram-frequency agg → per-position coverage via a K-wide running
    MAX window → island merge via LAG, all native expressions in both
    engines. (A suffix array adds the maximal-match LENGTH, which the
    removal decision never needs.)

    Emits per doc: token count, covered-token count, merged span
    count, and the document with covered tokens removed.

    100 TB notes: the gram explode is map-side over bounded K-word
    slices; ONE shuffle keys gram digests for the frequency agg
    (partial-agg friendly, hot-gram skew is absorbed by the count
    combiner); the coverage/island windows ride a single doc_id
    shuffle bounded by document length. Raw text crosses the wire
    once, token-wise. The corpus-scale version keys the frequency agg
    on 16-byte digests exactly as written here — a digest collision
    merging two distinct grams is the standard accepted risk (md5:
    ~2⁻⁶⁴ at petabyte gram counts)."""
    d = spread(
        canon_docs(spark, sf_dir).select("doc_id", "text"), "doc_id"
    ).select("doc_id", F.split(F.lower("text"), " ").alias("w"))
    tok = d.select(
        "doc_id",
        F.size("w").alias("n_tokens"),
        F.posexplode("w").alias("pos0", "word"),
        "w",
    ).select(
        "doc_id",
        "n_tokens",
        (F.col("pos0") + 1).alias("pos"),
        "word",
        F.when(
            F.col("pos0") + 1 <= F.col("n_tokens") - SUB_K + 1,
            F.md5(F.array_join(F.slice("w", F.col("pos0") + 1, SUB_K), " ")),
        ).alias("gh"),
    ).persist(_MAD)
    # ^ tok feeds BOTH the gram-frequency agg and the join-back side,
    # and its lineage (split + posexplode + per-position md5 over
    # K-word slices) is the dominant compute of the whole id — without
    # the lazy persist it runs twice (the c19 lineage-duplication
    # class; no AQE ReusedExchange serves it because the two consumers
    # exchange different projections). r14 A/B at sf0.1, interleaved
    # medians: 3.02 s → 1.51 s, results EQUAL.
    freq = (
        tok.filter(F.col("gh").isNotNull())
        .groupBy("gh")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    starts = tok.join(freq, "gh", "left").select(
        "doc_id",
        "n_tokens",
        "pos",
        "word",
        F.when(F.col("c") >= 2, 1).otherwise(0).alias("dup_start"),
    )
    wcov = (
        Window.partitionBy("doc_id")
        .orderBy("pos")
        .rowsBetween(-(SUB_K - 1), Window.currentRow)
    )
    wlag = Window.partitionBy("doc_id").orderBy("pos")
    runs = (
        starts.withColumn("covered", F.max("dup_start").over(wcov))
        .withColumn(
            "span_start",
            F.when(
                (F.col("covered") == 1)
                & (F.coalesce(F.lag("covered").over(wlag), F.lit(0)) == 0),
                1,
            ).otherwise(0),
        )
    )
    kept = F.when(F.col("covered") == 0, F.struct("pos", "word"))
    return runs.groupBy("doc_id").agg(
        F.max("n_tokens").cast("long").alias("n_tokens"),
        F.sum("covered").cast("long").alias("n_dup_tokens"),
        F.sum("span_start").cast("long").alias("n_dup_spans"),
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(kept)), lambda s: s.word
            ),
            " ",
        ).alias("cleaned_text"),
    )
