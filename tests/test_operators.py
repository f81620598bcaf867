"""Per-operator unit tests on hand-computed fixtures (SURVEY §5.2) plus
accuracy/property checks for the non-oracle (rows-only) operators."""

from __future__ import annotations

import math

from pyspark.sql import functions as F

import __spark_entry__ as entrymod


def test_approx_distinct_accuracy(spark, sf_dir):
    """d5: every group certifies within_bound, and the exact side
    agrees with d4's exact distinct count."""
    q = entrymod.queries()
    d5 = {
        r["event_type"]: (r["exact_users"], r["within_bound"])
        for r in q["d5_approx_distinct"](spark, sf_dir).collect()
    }
    d4 = {
        r["event_type"]: r["n_users"]
        for r in q["d4_count_distinct"](spark, sf_dir).collect()
    }
    assert d5
    for k, (exact, ok) in d5.items():
        assert ok, k
        assert exact == d4[k], (k, exact, d4[k])


def test_minhash_lsh_recall_on_fixture(spark):
    """j2 machinery: identical docs always collide in every band;
    disjoint docs never produce a false positive after verification."""
    from servicenow_cmdb_integration_to_aws_spark.registry import QUERIES

    import tempfile, os

    docs = spark.createDataFrame(
        [
            (1, "alpha beta gamma delta epsilon zeta", "en", "s", 1),
            (2, "alpha beta gamma delta epsilon zeta", "en", "s", 1),  # dup of 1
            (3, "one two three four five six", "en", "s", 1),
            (4, "alpha beta gamma delta epsilon eta", "en", "s", 1),  # near-dup of 1
        ],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    d = tempfile.mkdtemp(prefix="j2fix_")
    docs.write.mode("overwrite").parquet(os.path.join(d, "documents.parquet"))
    pairs = {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in QUERIES["j2_minhash_lsh"](spark, d).collect()
    }
    assert pairs[(1, 2)] == 1.0
    assert all(3 not in p for p in pairs)  # disjoint doc never pairs
    # docs 1 and 4 share 5 of 7 distinct tokens → jaccard 5/7 < 0.8 → excluded
    assert (1, 4) not in pairs


def test_minhash_lsh_paths_agree(spark, monkeypatch):
    """j2 has three physical strategies (mask+all-pairs over
    max(1, ⌈v/62⌉) words, exact token-join, set-level banded LSH for
    at-scale corpora). All must produce the identical pair set on the
    same corpus."""
    import os
    import tempfile

    from servicenow_cmdb_integration_to_aws_spark.llm import dedup
    from servicenow_cmdb_integration_to_aws_spark.registry import QUERIES

    # 70-token vocabulary: doesn't fit a 62-bit mask → general path.
    vocab = [f"w{i:02d}" for i in range(70)]
    base = " ".join(vocab[:40])
    near = " ".join(vocab[1:40] + [vocab[50]])  # 39/41 shared → J≈0.95
    far = " ".join(vocab[40:70])
    rows = [(1, base), (2, base), (3, near), (4, far)]
    docs = spark.createDataFrame(
        [(i, t, "en", "s", len(t)) for i, t in rows],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    d = tempfile.mkdtemp(prefix="j2paths_")
    docs.write.mode("overwrite").parquet(os.path.join(d, "documents.parquet"))

    def run():
        return sorted(
            (r["doc_a"], r["doc_b"], round(r["jaccard"], 9))
            for r in QUERIES["j2_minhash_lsh"](spark, d).collect()
        )

    wide = run()  # vocab=70 > MASK_WORD_BITS, ≤ WIDE_MAX_VOCAB → 2-word masks
    assert [(a, b) for a, b, _ in wide] == [(1, 2), (1, 3), (2, 3)]
    # wide g-probe: 3 distinct sets over 4 docs — with the threshold
    # between g and n the bounded probe keeps the exact wide branch...
    monkeypatch.setattr(dedup, "BRUTE_MAX_GROUPS", 3)
    assert run() == wide
    # ...and below g it falls back to the banded general path
    monkeypatch.setattr(dedup, "BRUTE_MAX_GROUPS", 2)
    assert run() == wide
    monkeypatch.setattr(dedup, "BRUTE_MAX_GROUPS", 20_000)
    # force the exact token-join path (big vocab, within oracle reach)
    monkeypatch.setattr(dedup, "WIDE_MAX_VOCAB", dedup.MASK_WORD_BITS)
    exact = run()
    assert exact == wide
    # force the doc-level banded general path on the same corpus
    monkeypatch.setattr(dedup, "BRUTE_MAX_GROUPS", 0)
    general = run()
    assert general == wide
    monkeypatch.undo()

    # small-vocab corpus: same docs restricted to a packable vocabulary
    rows2 = [(1, base), (2, base), (3, near), (4, far)]
    docs2 = spark.createDataFrame(
        [(i, t.replace("w5", "w1"), "en", "s", 1) for i, t in rows2],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    d2 = tempfile.mkdtemp(prefix="j2paths2_")
    docs2.write.mode("overwrite").parquet(os.path.join(d2, "documents.parquet"))

    def run2():
        return sorted(
            (r["doc_a"], r["doc_b"], round(r["jaccard"], 9))
            for r in QUERIES["j2_minhash_lsh"](spark, d2).collect()
        )

    # vocab after the rewrite is 60 symbols ≤ 62 → mask paths engage
    brute = run2()  # groups below threshold → all-pairs popcount
    # the corpus has 3 DISTINCT sets over 4 docs (docs 1,2 collapse):
    # with the threshold between g and n_docs, the bounded g-probe
    # must still pick the exact brute branch (g=3 ≤ 3 < n=4)
    monkeypatch.setattr(dedup, "BRUTE_MAX_GROUPS", 3)
    g_probed = run2()
    assert g_probed == brute
    monkeypatch.setattr(dedup, "BRUTE_MAX_GROUPS", 0)
    banded = run2()  # force the banded general path (g=3 > 0)
    assert brute == banded


def test_minhash_wide_mask_exact_on_dup_dense(spark):
    """j2 wide-mask regime (62 < vocab ≤ WIDE_MAX_VOCAB, docs ≤
    BRUTE_MAX_GROUPS): output equals the Python-computed brute-force
    pair set on a dup-DENSE corpus — the exact shape where banded
    candidate generation loses recall to the degenerate-bucket cap
    (measured 88% loss on the 4x probe corpus before this regime
    existed)."""
    import itertools
    import os
    import tempfile

    from servicenow_cmdb_integration_to_aws_spark.registry import QUERIES

    # 90 docs over a 70-token vocabulary, built as 9 clusters of 10
    # near-identical sets (each doc drops one distinct token from its
    # cluster's 25-token base → pairwise J = 23/25 = 0.92 ≥ 0.8),
    # plus cross-cluster pairs well below τ (overlap ≤ 18 of 25).
    vocab = [f"w{i:02d}" for i in range(70)]
    rows = []
    sets = {}
    for c in range(9):
        base = [vocab[(c * 7 + j) % 70] for j in range(25)]
        for k in range(10):
            doc_id = c * 10 + k + 1
            toks = [t for idx, t in enumerate(base) if idx != k]
            rows.append((doc_id, " ".join(toks)))
            sets[doc_id] = frozenset(toks)
    expected = set()
    for a, b in itertools.combinations(sorted(sets), 2):
        i = len(sets[a] & sets[b])
        if i / len(sets[a] | sets[b]) >= 0.8:
            expected.add((a, b))
    assert len(expected) == 9 * 45  # every within-cluster pair qualifies

    docs = spark.createDataFrame(
        [(i, t, "en", "s", len(t)) for i, t in rows],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    d = tempfile.mkdtemp(prefix="j2wide_")
    docs.write.mode("overwrite").parquet(os.path.join(d, "documents.parquet"))
    got = {
        (r["doc_a"], r["doc_b"])
        for r in QUERIES["j2_minhash_lsh"](spark, d).collect()
    }
    assert got == expected


def test_minhash_mask_regime_boundaries_exact(spark):
    """j2 regime arithmetic at the word boundaries: vocab sizes 62
    (last single-long bit), 63 (first 2-word vocab — a token lands on
    bit 0 of word 1), and 124 (last 2-word bit) must all reproduce
    the Python brute force, including pairs whose distinguishing
    tokens straddle the word boundary (positions 61/62/63)."""
    import itertools
    import os
    import tempfile

    from servicenow_cmdb_integration_to_aws_spark.registry import QUERIES

    for vsize in (62, 63, 124):
        vocab = [f"t{i:03d}" for i in range(vsize)]
        # doc k uses the full vocab minus one token near the boundary;
        # with n = vsize-1 per doc, pairwise J = (n-1)/(n+1) ≥ 0.8 for
        # vsize ≥ 11 → every pair qualifies; the dropped tokens sit at
        # the end of the sorted order (= the highest bit positions).
        rows, sets = [], {}
        for k in range(4):
            toks = [t for i, t in enumerate(vocab) if i != vsize - 1 - k]
            rows.append((k + 1, " ".join(toks)))
            sets[k + 1] = frozenset(toks)
        expected = set()
        for a, b in itertools.combinations(sorted(sets), 2):
            i = len(sets[a] & sets[b])
            if i / len(sets[a] | sets[b]) >= 0.8:
                expected.add((a, b))
        assert expected == {(a, b) for a, b in itertools.combinations(range(1, 5), 2)}
        docs = spark.createDataFrame(
            [(i, t, "en", "s", len(t)) for i, t in rows],
            "doc_id long, text string, lang string, source string, n_chars long",
        )
        d = tempfile.mkdtemp(prefix=f"j2bound{vsize}_")
        docs.write.mode("overwrite").parquet(os.path.join(d, "documents.parquet"))
        got = {
            (r["doc_a"], r["doc_b"])
            for r in QUERIES["j2_minhash_lsh"](spark, d).collect()
        }
        assert got == expected, f"vocab={vsize}: {sorted(got)}"


def test_simhash_hamming_locality(spark):
    """j2b: identical docs → identical fingerprints; unrelated docs →
    different fingerprints (locality property on a crafted fixture)."""
    from servicenow_cmdb_integration_to_aws_spark.registry import QUERIES

    import tempfile, os

    docs = spark.createDataFrame(
        [
            (1, "alpha beta gamma delta", "en", "s", 1),
            (2, "alpha beta gamma delta", "en", "s", 1),
            (3, "completely different words here", "en", "s", 1),
        ],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    d = tempfile.mkdtemp(prefix="j2bfix_")
    docs.write.mode("overwrite").parquet(os.path.join(d, "documents.parquet"))
    fp = {
        r["doc_id"]: r["simhash16"]
        for r in QUERIES["j2b_simhash"](spark, d).collect()
    }
    assert fp[1] == fp[2]
    assert fp[1] != fp[3]


def test_l2norm_is_unit(spark, sf_dir):
    """j6 property: ‖unit_vec‖ == 1 (to rounding); output is exploded
    (vec_id, pos, unit_val, norm), so re-assemble per vector."""
    q = entrymod.queries()
    rows = q["j6_l2norm"](spark, sf_dir).collect()
    acc: dict = {}
    for r in rows:
        acc[r["vec_id"]] = acc.get(r["vec_id"], 0.0) + r["unit_val"] ** 2
    assert acc
    for vid, s in acc.items():
        assert abs(math.sqrt(s) - 1.0) < 1e-4, vid


def test_ivf_knn_subset_of_brute_force(spark, sf_dir):
    """j3b: IVF-pruned results are true cosine scores (agree with the
    brute-force j3 scores for every vector it returns)."""
    q = entrymod.queries()
    brute = {r["vec_id"]: r["cos_sim"] for r in q["j3_cosine_knn"](spark, sf_dir).collect()}
    ivf = {r["vec_id"]: r["cos_sim"] for r in q["j3b_ivf_knn"](spark, sf_dir).collect()}
    for vid, score in ivf.items():
        if vid in brute:
            assert score == brute[vid]
    # Recall note: labels here are synthetic (vectors ~N(0, 0.1), label
    # unrelated to geometry), so probing 2/10 cells yields ≈ n_probe/K
    # recall — the documented IVF tradeoff. On clustered corpora recall
    # tracks cluster purity. Assert the structural guarantee only:
    assert len(set(ivf) & set(brute)) >= 1


def test_incremental_watermark_store(spark, sf_dir, tmp_path):
    """i8 stateful API: two polls — second sees nothing new; after new
    data arrives (simulated by lowering the stored mark), rows return."""
    from datetime import datetime

    from servicenow_cmdb_integration_to_aws_spark.sources.tables import scan
    from servicenow_cmdb_integration_to_aws_spark.streaming.incremental import (
        WatermarkStore,
        sync_increment,
    )

    store = WatermarkStore(str(tmp_path / "wm.json"))
    events = scan(spark, sf_dir, "events")
    epoch = datetime(2023, 1, 1)

    fresh1, wm1 = sync_increment(events, "ts", store, "events", epoch)
    n1 = fresh1.count()
    assert n1 == events.count()  # first poll sees everything
    store.write("events", wm1)

    fresh2, wm2 = sync_increment(events, "ts", store, "events", epoch)
    assert fresh2.count() == 0  # nothing new
    assert wm2 == wm1


def test_multimodal_decode_stub_raises():
    from servicenow_cmdb_integration_to_aws_spark.llm.multimodal import decode_image

    import pytest

    with pytest.raises(NotImplementedError):
        decode_image(b"\x89PNG")


def test_streaming_late_rows_dropped(spark, tmp_path):
    """i4 late-data rule: an event older than the watermark at the time
    its file arrives is dropped from the windowed aggregate."""
    import os

    from pyspark.sql import functions as SF

    d = str(tmp_path / "late_src")
    os.makedirs(d)
    base = spark.createDataFrame(
        [(1, "2024-01-01 10:00:05", 1.0), (2, "2024-01-01 12:00:05", 1.0)],
        "event_id long, ts_s string, value double",
    ).select("event_id", SF.to_timestamp("ts_s").alias("ts"), "value")
    base.coalesce(1).write.mode("overwrite").parquet(os.path.join(d, "batch1"))
    spacer = spark.createDataFrame(
        [(4, "2024-01-01 12:30:00", 1.0)],
        "event_id long, ts_s string, value double",
    ).select("event_id", SF.to_timestamp("ts_s").alias("ts"), "value")
    spacer.coalesce(1).write.mode("overwrite").parquet(os.path.join(d, "batch2"))
    late = spark.createDataFrame(
        [(3, "2024-01-01 10:00:06", 1.0)],  # 2h older than max seen
        "event_id long, ts_s string, value double",
    ).select("event_id", SF.to_timestamp("ts_s").alias("ts"), "value")
    late.coalesce(1).write.mode("overwrite").parquet(os.path.join(d, "batch3"))

    # FileStreamSource orders batches by file mtime (pin explicitly);
    # the spacer batch exists because the *filtering* watermark lags one
    # batch behind the *eviction* watermark — a late row landing in the
    # very next batch is still merged (verified empirically on 4.1.2).
    import time

    now = time.time()
    for sub, age in (("batch1", 100), ("batch2", 50), ("batch3", 0)):
        for root, _, files in os.walk(os.path.join(d, sub)):
            for fn in files:
                os.utime(os.path.join(root, fn), (now - age, now - age))

    stream = (
        spark.readStream.schema("event_id long, ts timestamp, value double")
        .option("maxFilesPerTrigger", 1)
        .parquet(d + "/*/")
    )
    agg = (
        stream.withWatermark("ts", "10 minutes")
        .groupBy(SF.window("ts", "1 hour").alias("w"))
        .agg(SF.count(SF.lit(1)).alias("n"))
    )
    q = (
        agg.writeStream.format("memory")
        .queryName("late_test")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    rows = {
        r["w"]["start"].hour: r["n"] for r in spark.table("late_test").collect()
    }
    # the 10:00 window must count only event 1 — event 3 arrived after
    # the watermark passed 11:50 and is dropped (if it were counted the
    # window would show n=2)
    assert rows.get(10) == 1, rows


def test_mapinpandas_respects_arrow_batch_bound(spark, sf_dir):
    """Multimodal plumbing: with maxRecordsPerBatch=64, no pandas batch
    seen by the worker may exceed 64 rows — the memory-bounding knob
    for multi-MB payloads (multimodal.py 100 TB notes)."""
    import pandas as pd

    from servicenow_cmdb_integration_to_aws_spark.sources.tables import scan

    prev = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch")
    try:
        spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "64")

        def batch_sizes(batches):
            for pdf in batches:
                yield pd.DataFrame({"n": [len(pdf)]})

        d = scan(spark, sf_dir, "documents").select("doc_id", "text")
        sizes = [
            r["n"] for r in d.mapInPandas(batch_sizes, "n long").collect()
        ]
    finally:
        spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", prev)
    assert sizes and max(sizes) <= 64, sizes


def test_neardup_blocked_exact_and_hot_block_split(spark, sf_dir):
    """j12: the chunked triangle join is EXACT (same pairs/scores as the
    single-block join) while a hot label's pair work spreads over many
    chunk-pair keys with per-chunk size ~cap (bounded per-task work)."""
    from servicenow_cmdb_integration_to_aws_spark.llm.vectors import (
        neardup_blocked,
    )
    from servicenow_cmdb_integration_to_aws_spark.sources.tables import scan

    e = scan(spark, sf_dir, "embeddings")
    # cap=8 forces every ~50-row label into many chunks even at sf0.001
    capped = {
        (r["vec_a"], r["vec_b"]): r["cos_sim"]
        for r in neardup_blocked(e, tau=0.3, cap=8).collect()
    }
    single = {
        (r["vec_a"], r["vec_b"]): r["cos_sim"]
        for r in neardup_blocked(e, tau=0.3, cap=10**9).collect()
    }
    assert capped and capped == single

    # boundedness: replicate the op's chunk assignment and check that a
    # label bigger than cap splits into ceil(n/cap) chunks, none of
    # which is pathologically larger than cap (hash balance).
    cap = 8
    counts = e.groupBy("label").agg(
        F.ceil(F.count(F.lit(1)) / F.lit(cap)).cast("int").alias("n_chunks")
    )
    ch = (
        e.join(F.broadcast(counts), "label")
        .select(
            "label",
            "n_chunks",
            F.pmod(F.xxhash64("vec_id"), F.col("n_chunks")).cast("int").alias("chunk"),
        )
        .groupBy("label", "n_chunks", "chunk")
        .count()
        .collect()
    )
    assert all(r["n_chunks"] > 1 for r in ch)
    assert all(r["count"] <= 4 * cap for r in ch)


def test_transitive_closure_cycle_terminates(spark):
    """Fixpoint closure on a CYCLIC graph must terminate and return
    every distinct reachability pair exactly once: a->b->c->a reaches
    all 3 nodes from every root (9 pairs, self-loops via the cycle)."""
    from servicenow_cmdb_integration_to_aws_spark.operators.joins import (
        transitive_closure,
    )

    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("c", "a")], ["parent", "child"]
    )
    got = {(r["root"], r["node"]) for r in transitive_closure(edges).collect()}
    assert got == {(x, y) for x in "abc" for y in "abc"}


def test_transitive_closure_deep_chain(spark):
    """A 12-deep chain needs 12 expansion rounds — well past c11's
    unrolled depth-3 — and yields n*(n+1)/2 pairs."""
    from servicenow_cmdb_integration_to_aws_spark.operators.joins import (
        transitive_closure,
    )

    n = 12
    edges = spark.createDataFrame(
        [(str(i), str(i + 1)) for i in range(n)], ["parent", "child"]
    )
    rows = transitive_closure(edges).count()
    assert rows == (n + 1) * n // 2


def test_connected_components_basic(spark):
    """Two components + an isolated node: labels converge to the min
    node id of each component; singletons keep their own id."""
    from servicenow_cmdb_integration_to_aws_spark.operators.joins import (
        connected_components,
    )
    from pyspark.sql import functions as F

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11)], ["src", "dst"]
    )
    nodes = spark.range(1, 13).select(F.col("id").cast("long").alias("id"))
    got = {
        r["id"]: r["component"]
        for r in connected_components(edges, nodes).collect()
    }
    assert got[1] == got[2] == got[3] == 1
    assert got[10] == got[11] == 10
    for iso in (4, 5, 6, 7, 8, 9, 12):
        assert got[iso] == iso


def test_connected_components_empty_edges_fast_path(spark):
    """Zero edges (the r14 fast path: skip the contraction loop
    entirely) — every node is its own singleton component, identical
    to what the loop would converge to. Also covers self-loop-only
    input, which the src!=dst filter reduces to the empty set."""
    from servicenow_cmdb_integration_to_aws_spark.operators.joins import (
        connected_components,
    )
    from pyspark.sql import functions as F

    nodes = spark.range(1, 6).select(F.col("id").cast("long").alias("id"))
    empty = spark.createDataFrame([], "src long, dst long")
    got = {
        r["id"]: r["component"]
        for r in connected_components(empty, nodes).collect()
    }
    assert got == {i: i for i in range(1, 6)}
    loops = spark.createDataFrame([(2, 2), (4, 4)], ["src", "dst"])
    got2 = {
        r["id"]: r["component"]
        for r in connected_components(loops, nodes).collect()
    }
    assert got2 == {i: i for i in range(1, 6)}


def test_transform_map_insert_update_existing(spark):
    """a13's API pieces: mapping projects/casts/defaults; upsert tags
    insert (staged-only key), update (both), existing (target-only)."""
    from pyspark.sql import functions as F

    from servicenow_cmdb_integration_to_aws_spark.operators.transform_map import (
        FieldMap,
        apply_transform_map,
        upsert,
    )

    target = spark.createDataFrame(
        [(1, "alpha", 10.0), (2, "beta", 20.0)], ["k", "name", "bal"]
    )
    staging = spark.createDataFrame(
        [(2, "beta2", None), (3, "gamma", "7.5")],
        ["src_k", "src_name", "src_bal"],
    )
    staged = apply_transform_map(
        staging,
        [
            FieldMap("src_k", "k"),
            FieldMap("src_name", "name", fn=F.upper),
            FieldMap("src_bal", "bal", cast="double", default=0.0),
        ],
    )
    got = {r["k"]: r for r in upsert(target, staged, "k").collect()}
    assert got[1]["row_source"] == "existing" and got[1]["name"] == "alpha"
    assert got[2]["row_source"] == "update" and got[2]["name"] == "BETA2"
    assert got[2]["bal"] == 0.0  # null import value -> map default
    assert got[3]["row_source"] == "insert" and got[3]["bal"] == 7.5


def test_lsh_general_path_matches_bruteforce(spark):
    """The large-vocabulary LSH path (set-digest collapse + banding +
    bucket cap + exact verify) must reproduce the brute-force pair set
    on a corpus with exact clones, near-dups, and distinct docs —
    including a clone CLUSTER, which must survive regardless of the
    bucket cap (it flows through self_pairs, not banding)."""
    import itertools

    from pyspark.sql import functions as F

    from servicenow_cmdb_integration_to_aws_spark.llm.dedup import (
        TAU,
        _lsh_pairs_general,
    )

    vocab = [f"w{i:03d}" for i in range(100)]  # > MASK_WORD_BITS
    docs = {}
    base = vocab[:20]
    for i in range(30):  # clone cluster: identical token sets
        docs[i] = list(base)
    for i in range(30, 40):  # near-dups of base: J = 18/22 ≈ 0.818 ≥ τ
        docs[i] = base[:18] + [vocab[50 + i], vocab[70 + i % 20]]
    for i in range(40, 60):  # pairwise-distinct docs, low overlap
        docs[i] = vocab[60 + (i % 8) * 5 : 60 + (i % 8) * 5 + 4] + [vocab[99 - i % 30]]
    rows = [(d, t) for d, toks in docs.items() for t in set(toks)]
    tok = spark.createDataFrame(rows, ["doc_id", "tok"])

    def jac(a, b):
        sa, sb = set(docs[a]), set(docs[b])
        return len(sa & sb) / len(sa | sb)

    want = {
        (a, b)
        for a, b in itertools.combinations(sorted(docs), 2)
        if jac(a, b) >= TAU
    }
    got = {
        (r["doc_a"], r["doc_b"])
        for r in _lsh_pairs_general(tok).collect()
    }
    assert got == want, (len(got), len(want), got ^ want)


def test_range_join_matches_theta_join(spark, sf_dir):
    """c14's bucket-explode equi-join must equal the naive theta join."""
    from servicenow_cmdb_integration_to_aws_spark.operators.joins import (
        c14_range_join,
    )
    from servicenow_cmdb_integration_to_aws_spark.sources.tables import scan
    from pyspark.sql import functions as F

    e = scan(spark, sf_dir, "events")
    win = e.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("win_id"),
        F.col("user_id").alias("w_user"),
        F.col("ts").alias("start_ts"),
        (F.col("ts") + F.expr("INTERVAL 2 HOURS")).alias("end_ts"),
    )
    naive = (
        win.join(
            e,
            (F.col("user_id") == F.col("w_user"))
            & (F.col("ts") > F.col("start_ts"))
            & (F.col("ts") <= F.col("end_ts"))
            & (F.col("event_type") != "purchase"),
            "left",
        )
        .groupBy("win_id")
        .agg(F.count("event_id").alias("n_in_window"))
    )
    want = {r["win_id"]: r["n_in_window"] for r in naive.collect()}
    got = {r["win_id"]: r["n_in_window"] for r in c14_range_join(spark, sf_dir).collect()}
    assert got == want
    # and the plan must be an equi-join, never a nested-loop product
    plan = c14_range_join(spark, sf_dir)._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoopJoin" not in plan and "CartesianProduct" not in plan


def test_bpe_token_count_matches_python_re(spark, sf_dir):
    """j18's Spark/Java regex agrees with Python's re on every doc."""
    import re

    from servicenow_cmdb_integration_to_aws_spark.llm.text import _BPE_PAT
    from servicenow_cmdb_integration_to_aws_spark.sources.tables import scan
    from pyspark.sql import functions as F

    pat = re.compile(_BPE_PAT)
    docs = scan(spark, sf_dir, "documents").select("doc_id", "text").collect()
    want = {r["doc_id"]: len(pat.findall(r["text"])) for r in docs}
    got = {
        r["doc_id"]: r["n"]
        for r in scan(spark, sf_dir, "documents")
        .select(
            "doc_id",
            F.size(F.regexp_extract_all("text", F.lit(_BPE_PAT), F.lit(0))).alias("n"),
        )
        .collect()
    }
    assert got == want


def test_hll_merge_bounds_and_all_row(spark, sf_dir):
    from servicenow_cmdb_integration_to_aws_spark.operators.aggregates import (
        d18_hll_merge,
    )

    rows = d18_hll_merge(spark, sf_dir).collect()
    by_type = {r["event_type"]: r for r in rows}
    assert "ALL" in by_type
    assert all(r["within_bound"] for r in rows), rows
    # the merged row can never exceed the sum of the parts
    assert by_type["ALL"]["exact_users"] <= sum(
        r["exact_users"] for r in rows if r["event_type"] != "ALL"
    )


def test_lsh_ann_recall_and_determinism(spark, sf_dir):
    from servicenow_cmdb_integration_to_aws_spark.llm.vectors import (
        _lsh_planes,
        hyperplane_buckets,
        j3c_lsh_ann,
    )
    from servicenow_cmdb_integration_to_aws_spark.sources.tables import scan
    from pyspark.sql import functions as F

    rows = j3c_lsh_ann(spark, sf_dir).collect()
    assert len(rows) == 10
    assert all(r["lsh_recall_ok"] for r in rows)
    # signatures are a pure function of (vec, fixed planes): two
    # independent evaluations must agree bucket-for-bucket
    e = scan(spark, sf_dir, "embeddings")
    planes = F.broadcast(
        spark.createDataFrame(_lsh_planes(), "plane INT, pos INT, sgn INT")
    )
    b1 = {(r["vec_id"], r["band"]): r["bucket"]
          for r in hyperplane_buckets(e, planes).collect()}
    b2 = {(r["vec_id"], r["band"]): r["bucket"]
          for r in hyperplane_buckets(e, planes).collect()}
    assert b1 == b2 and len(b1) == e.count() * 16


def test_clustered_sink_files_are_disjoint(spark, sf_dir):
    """a14: the range-clustered layout must give disjoint per-file
    shipdate ranges (that disjointness IS the skip guarantee)."""
    import glob
    import tempfile

    import pyarrow.parquet as pq

    from servicenow_cmdb_integration_to_aws_spark.sources.tables import scan

    li = scan(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    out = tempfile.mkdtemp(prefix="a14_test_")
    (
        li.repartitionByRange(4, "l_shipdate")
        .sortWithinPartitions("l_shipdate")
        .write.mode("overwrite")
        .parquet(out)
    )
    ranges = []
    for f in glob.glob(out + "/*.parquet"):
        md = pq.ParquetFile(f).metadata
        idx = {md.schema.column(i).name: i for i in range(md.num_columns)}["l_shipdate"]
        lo = min(md.row_group(g).column(idx).statistics.min for g in range(md.num_row_groups))
        hi = max(md.row_group(g).column(idx).statistics.max for g in range(md.num_row_groups))
        ranges.append((lo, hi))
    ranges.sort()
    assert len(ranges) >= 2
    for (_, hi_prev), (lo_next, _) in zip(ranges, ranges[1:]):
        assert hi_prev <= lo_next, (hi_prev, lo_next)


def test_gap_islands_at_2h_equals_session_windows(spark, sf_dir):
    """e10's lag+runsum islands at gap=2h must reproduce i3's
    session_window sessions exactly (start, event count)."""
    import __spark_entry__ as entrymod
    from servicenow_cmdb_integration_to_aws_spark.sources.tables import scan
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    e = scan(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    run = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    flagged = e.select(
        "user_id",
        "ts",
        "event_id",
        F.when(
            F.unix_timestamp("ts") - F.unix_timestamp(F.lag("ts").over(w))
            <= 2 * 3600,
            F.lit(0),
        )
        .otherwise(F.lit(1))
        .alias("ni"),
    )
    islands = (
        flagged.withColumn("sid", F.sum("ni").over(run))
        .groupBy("user_id", "sid")
        .agg(F.min("ts").alias("s"), F.count(F.lit(1)).alias("n"))
    )
    got = {(r["user_id"], r["s"], r["n"]) for r in islands.collect()}
    i3 = entrymod.queries()["i3_session"](spark, sf_dir)
    want = {
        (r["user_id"], r["session_start"], r["n_events"]) for r in i3.collect()
    }
    assert got == want and len(got) > 0


def test_bmp_decode_nonuniform_pixels_and_padding():
    """m4 decoder: hand-built 3x2 24-bit BMP with distinct per-pixel
    values — the 3-byte row padding must NOT leak into the means, and
    BGR order must invert correctly."""
    import struct

    from servicenow_cmdb_integration_to_aws_spark.llm.multimodal import (
        decode_image,
    )

    w, h = 3, 2
    # rows bottom-up; pixel (x,y) value: B=10x+y, G=100+x, R=200+y
    def px(x, y):
        return bytes([10 * x + y, 100 + x, 200 + y])

    rows = b""
    for y in (1, 0):  # bottom-up storage
        row = b"".join(px(x, y) for x in range(w))
        rows += row + b"\xff" * ((-len(row)) % 4)  # NONZERO pad bait
    off = 54
    payload = (
        b"BM" + struct.pack("<IHHI", off + len(rows), 0, 0, off)
        + struct.pack("<IiiHHIIiiII", 40, w, h, 1, 24, 0, len(rows),
                      2835, 2835, 0, 0)
        + rows
    )
    fmt, dw, dh, mr, mg, mb = decode_image(payload)
    n = w * h
    exp_b = sum(10 * x + y for x in range(w) for y in range(h)) / n
    exp_g = sum(100 + x for x in range(w) for y in range(h)) / n
    exp_r = sum(200 + y for x in range(w) for y in range(h)) / n
    assert (fmt, dw, dh) == ("bmp", 3, 2)
    assert (mr, mg, mb) == (exp_r, exp_g, exp_b)


def test_ppm_decode_nonuniform_pixels():
    from servicenow_cmdb_integration_to_aws_spark.llm.multimodal import (
        decode_image,
    )

    body = bytes([1, 2, 3, 4, 5, 6, 7, 8, 9, 10, 11, 12])  # 2x2 RGB
    fmt, w, h, mr, mg, mb = decode_image(b"P6\n2 2\n255\n" + body)
    assert (fmt, w, h) == ("ppm", 2, 2)
    assert (mr, mg, mb) == ((1 + 4 + 7 + 10) / 4, (2 + 5 + 8 + 11) / 4,
                            (3 + 6 + 9 + 12) / 4)


def test_wav_decode_chunk_walk_and_alignment():
    """m5 decoder: the RIFF walk must skip unknown chunks (LIST) and
    honor word alignment for odd-sized chunks; 16-bit LE signed
    samples decode exactly."""
    import struct

    from servicenow_cmdb_integration_to_aws_spark.llm.multimodal import (
        decode_audio,
        encode_wav,
    )

    rate, ch, n, peak, mean = decode_audio(encode_wav(44100, [-32768, 32767]))
    assert (rate, ch, n, peak) == (44100, 1, 2, 32768)
    assert mean == -0.5

    # odd-sized unknown chunk before data: walk must pad to word align
    data = struct.pack("<3h", 5, -5, 10)
    fmt = struct.pack("<HHIIHH", 1, 1, 8000, 16000, 2, 16)
    chunks = (
        b"fmt " + struct.pack("<I", len(fmt)) + fmt
        + b"junk" + struct.pack("<I", 3) + b"abc" + b"\x00"  # odd + pad
        + b"data" + struct.pack("<I", len(data)) + data
    )
    payload = b"RIFF" + struct.pack("<I", 4 + len(chunks)) + b"WAVE" + chunks
    rate, ch, n, peak, mean = decode_audio(payload)
    assert (rate, ch, n, peak) == (8000, 1, 3, 10)
    assert abs(mean - 10 / 3) < 1e-12


def _docs_fixture(spark, rows):
    """Write a documents.parquet fixture dir and return its path."""
    import os
    import tempfile

    d = tempfile.mkdtemp(prefix="docsfix_")
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).write.mode("overwrite").parquet(os.path.join(d, "documents.parquet"))
    return d


def test_chunk_dedup_removes_shared_keeps_unique(spark):
    """j27: a 3-word chunk shared by two docs is scrubbed from both;
    doc-unique chunks survive, in original order."""
    from servicenow_cmdb_integration_to_aws_spark.registry import QUERIES

    d = _docs_fixture(
        spark,
        [
            # chunk cells (W=3): doc1 = [common], [one two three]
            (1, "common shared chunk one two three", "en", "s", 1),
            # doc2 = [common], [four five six]
            (2, "common shared chunk four five six", "en", "s", 1),
            (3, "seven eight nine ten eleven twelve", "en", "s", 1),
        ],
    )
    out = {
        r["doc_id"]: r for r in QUERIES["j27_chunk_dedup"](spark, d).collect()
    }
    assert out[1]["n_removed"] == 1
    assert out[1]["cleaned_text"] == "one two three"
    assert out[2]["cleaned_text"] == "four five six"
    assert out[3]["n_removed"] == 0
    assert out[3]["cleaned_text"] == "seven eight nine ten eleven twelve"


def test_substring_dedup_removes_arbitrary_offset_repeat(spark):
    """j53: a SUB_K-word run repeated at DIFFERENT offsets in two docs
    (the case j27's fixed-width chunk grid structurally misses) is
    removed from both; a doc shorter than SUB_K words and a doc with
    no repeats pass through untouched."""
    from servicenow_cmdb_integration_to_aws_spark.llm.dedup import SUB_K
    from servicenow_cmdb_integration_to_aws_spark.registry import QUERIES

    assert SUB_K == 8  # the planted fixtures below encode K=8 offsets
    rep = "alpha bravo charlie delta echo foxtrot golf hotel"  # 8 words
    d = _docs_fixture(
        spark,
        [
            # repeat starts at offset 0 in doc 1, offset 2 in doc 2
            (1, f"{rep} uniq1a uniq1b uniq1c", "en", "s", 1),
            (2, f"pre2a pre2b {rep} tail2a", "en", "s", 1),
            (3, "nine distinct words never repeated anywhere else ok", "en", "s", 1),
            (4, "short doc", "en", "s", 1),
        ],
    )
    out = {
        r["doc_id"]: r
        for r in QUERIES["j53_substring_dedup"](spark, d).collect()
    }
    assert out[1]["n_dup_tokens"] == 8 and out[1]["n_dup_spans"] == 1
    assert out[1]["cleaned_text"] == "uniq1a uniq1b uniq1c"
    assert out[2]["n_dup_tokens"] == 8 and out[2]["n_dup_spans"] == 1
    assert out[2]["cleaned_text"] == "pre2a pre2b tail2a"
    assert out[3]["n_dup_tokens"] == 0
    assert out[3]["cleaned_text"].startswith("nine distinct")
    assert out[4]["n_dup_tokens"] == 0 and out[4]["cleaned_text"] == "short doc"


def test_substring_dedup_merges_overlapping_spans(spark):
    """j53: a 10-word repeated run is covered by 3 overlapping dup
    8-grams that must merge into ONE span of 10 tokens, and a
    within-doc repeat counts (corpus-wide ≥2 occurrences includes the
    same document)."""
    from servicenow_cmdb_integration_to_aws_spark.registry import QUERIES

    run10 = "w1 w2 w3 w4 w5 w6 w7 w8 w9 w10"
    d = _docs_fixture(
        spark,
        [
            (1, f"{run10} mid1a mid1b {run10}", "en", "s", 1),
            (2, "totally different filler words occupy this document here", "en", "s", 1),
        ],
    )
    out = {
        r["doc_id"]: r
        for r in QUERIES["j53_substring_dedup"](spark, d).collect()
    }
    # both copies of the run are removed (within-doc repeat); the two
    # middle words survive as the only kept tokens
    assert out[1]["n_dup_tokens"] == 20 and out[1]["n_dup_spans"] == 2
    assert out[1]["cleaned_text"] == "mid1a mid1b"
    assert out[2]["n_dup_tokens"] == 0


def test_quality_classifier_orders_docs_sanely(spark):
    """j28: a diverse-vocab doc outscores a stopword-soup doc of the
    same length; the keep flag follows the 0.5 threshold."""
    from servicenow_cmdb_integration_to_aws_spark.registry import QUERIES

    d = _docs_fixture(
        spark,
        [
            (1, "quantum relativity entropy manifold tensor gauge", "en", "s", 1),
            (2, "the a the a the a the a the a the a", "en", "s", 1),
        ],
    )
    out = {
        r["doc_id"]: r
        for r in QUERIES["j28_quality_classifier"](spark, d).collect()
    }
    assert out[1]["score"] > out[2]["score"]
    assert out[1]["keep"] and not out[2]["keep"]
    assert out[2]["stop_ratio"] == 1.0


def test_seq_pack_offsets_and_bucket_straddle(spark):
    """j29: per-lang offsets are the exact running token total in
    doc_id order — including across PACK_BUCKET boundaries (the
    two-phase prefix-sum must splice bucket bases correctly) — and
    seq_id is the SEQ_BUDGET-quotient of the start offset."""
    from servicenow_cmdb_integration_to_aws_spark.llm.pipeline import (
        PACK_BUCKET,
        SEQ_BUDGET,
    )
    from servicenow_cmdb_integration_to_aws_spark.registry import QUERIES

    # doc_ids straddle a bucket boundary on purpose
    ids = [PACK_BUCKET - 2, PACK_BUCKET - 1, PACK_BUCKET, PACK_BUCKET + 1]
    texts = ["w " * 200, "x " * 100, "y " * 50, "z " * 25]  # trailing space
    d = _docs_fixture(
        spark,
        [(i, t.strip(), "en", "s", 1) for i, t in zip(ids, texts)]
        + [(7, "solo doc here", "fr", "s", 1)],
    )
    rows = {
        r["doc_id"]: r for r in QUERIES["j29_seq_pack"](spark, d).collect()
    }
    expect_off = {ids[0]: 0, ids[1]: 200, ids[2]: 300, ids[3]: 350, 7: 0}
    for i, off in expect_off.items():
        assert rows[i]["stream_off"] == off, (i, rows[i])
        assert rows[i]["seq_id"] == off // SEQ_BUDGET


def test_funnel_stage_semantics(spark):
    """t9: the click must fall in [first view, +7d] and the purchase in
    [first qualifying click, +7d]; out-of-order or out-of-window events
    don't advance the funnel."""
    import os
    import tempfile

    from servicenow_cmdb_integration_to_aws_spark.registry import QUERIES

    rows = [
        # u1: view -> click(+1h) -> purchase(+2h): reaches stage 3
        (1, "2024-01-01 00:00:00", 1, "view"),
        (2, "2024-01-01 01:00:00", 1, "click"),
        (3, "2024-01-01 02:00:00", 1, "purchase"),
        # u2: click BEFORE any view -> stuck at stage 1
        (4, "2024-01-01 00:00:00", 2, "click"),
        (5, "2024-01-01 01:00:00", 2, "view"),
        # u3: view, click 8 days later (outside horizon) -> stage 1
        (6, "2024-01-01 00:00:00", 3, "view"),
        (7, "2024-01-09 00:00:01", 3, "click"),
        # u4: no view at all -> not in the funnel
        (8, "2024-01-01 00:00:00", 4, "purchase"),
    ]
    d = tempfile.mkdtemp(prefix="funnelfix_")
    spark.createDataFrame(
        [(i, ts, u, et, 1.0, "{}") for i, ts, u, et in rows],
        "event_id long, ts string, user_id long, event_type string, "
        "value double, props string",
    ).selectExpr(
        "event_id", "CAST(ts AS TIMESTAMP_NTZ) AS ts", "user_id",
        "event_type", "value", "props",
    ).write.mode("overwrite").parquet(os.path.join(d, "events.parquet"))
    out = {r["user_id"]: r for r in QUERIES["t9_funnel"](spark, d).collect()}
    assert set(out) == {1, 2, 3}
    assert out[1]["stage"] == 3
    assert out[2]["stage"] == 1 and out[2]["c_ts"] is None
    assert out[3]["stage"] == 1


def test_novelty_first_doc_fully_novel(spark):
    """j31: the lowest doc_id is 100% novel; an exact restatement of it
    scores 0; a doc sharing no grams scores 1."""
    from servicenow_cmdb_integration_to_aws_spark.registry import QUERIES

    d = _docs_fixture(
        spark,
        [
            (1, "one two three four five", "en", "s", 1),
            (2, "one two three four five", "en", "s", 1),
            (3, "six seven eight nine ten", "en", "s", 1),
        ],
    )
    out = {
        r["doc_id"]: r
        for r in QUERIES["j31_novelty_score"](spark, d).collect()
    }
    assert out[1]["novelty"] == 1.0
    assert out[2]["novelty"] == 0.0
    assert out[3]["novelty"] == 1.0
    assert out[1]["n_grams"] == 3  # 5 words -> 3 sliding 3-grams


def test_kmeans_identical_vectors_collapse(spark):
    """j37: a corpus of identical vectors yields one non-empty cluster
    (argmin tie-breaks to cid 1) with zero mean squared distance."""
    import os
    import tempfile

    from servicenow_cmdb_integration_to_aws_spark.registry import QUERIES

    d = tempfile.mkdtemp(prefix="kmfix_")
    vec = [1.5, -2.0, 3.25, 0.0]
    spark.createDataFrame(
        [(i, vec, "a") for i in range(20)],
        "vec_id long, embedding array<float>, label string",
    ).write.mode("overwrite").parquet(os.path.join(d, "embeddings.parquet"))
    out = QUERIES["j37_kmeans_cluster"](spark, d).collect()
    assert [(r["cluster"], r["n_members"], r["mean_sq_dist"]) for r in out] == [
        (1, 20, 0.0)
    ]


def test_kmeans_partitions_corpus(spark, sf_dir):
    """j37: cluster sizes sum to the corpus size; distances are
    non-negative; at most K clusters come back."""
    from servicenow_cmdb_integration_to_aws_spark.llm.retrieval import _K
    from servicenow_cmdb_integration_to_aws_spark.registry import QUERIES
    from servicenow_cmdb_integration_to_aws_spark.sources.tables import scan

    out = QUERIES["j37_kmeans_cluster"](spark, sf_dir).collect()
    n = scan(spark, sf_dir, "embeddings").count()
    assert sum(r["n_members"] for r in out) == n
    assert len(out) <= _K
    assert all(r["mean_sq_dist"] >= 0.0 for r in out)


def test_bm25_ranks_term_rich_doc_first(spark):
    """j38: the doc stuffed with query terms outranks a doc with one
    occurrence; a doc with no query terms is absent."""
    from servicenow_cmdb_integration_to_aws_spark.registry import QUERIES

    d = _docs_fixture(
        spark,
        [
            (1, "spark join vector spark join vector spark", "en", "s", 1),
            (2, "spark table row column filter sort merge", "en", "s", 1),
            (3, "alpha beta gamma delta epsilon zeta eta", "en", "s", 1),
        ],
    )
    out = [r["doc_id"] for r in QUERIES["j38_bm25"](spark, d).collect()]
    assert out[0] == 1
    assert 2 in out
    assert 3 not in out


def test_edit_distance_nn_finds_planted_pair(spark):
    """j39: two docs differing by one character in the same block are
    mutual nearest neighbours at distance 1; blocking separates the
    different-language doc."""
    from servicenow_cmdb_integration_to_aws_spark.registry import QUERIES

    d = _docs_fixture(
        spark,
        [
            (1, "the quick brown fox jumps over the dog", "en", "s", 100),
            (2, "the quick brown fox jumps over the hog", "en", "s", 100),
            (3, "the quick brown fox jumps over the log", "de", "s", 100),
            (4, "completely different words here today now", "en", "s", 100),
        ],
    )
    out = {
        r["doc_id"]: (r["other_id"], r["dist"])
        for r in QUERIES["j39_edit_distance_nn"](spark, d).collect()
    }
    assert out[1] == (2, 1) and out[2] == (1, 1)
    assert 3 not in out  # alone in its (lang, bucket) block
    assert out[4][1] > 1


def test_edit_distance_nn_unicode_parity(spark):
    """j39: on a unicode-bearing corpus the Spark result and the
    DuckDB oracle agree EXACTLY. This is the cross-engine trap the
    ASCII projection exists for: DuckDB levenshtein counts UTF-8
    bytes ('é' = 2), Spark counts codepoints ('é' = 1) — without the
    identical non-ASCII strip on both sides, doc 1 vs doc 2 below
    scores 2 in DuckDB and 1 in Spark and parity reds overnight on
    any testdata regen that introduces unicode text."""
    import duckdb

    from servicenow_cmdb_integration_to_aws_spark.registry import ORACLE, QUERIES

    d = _docs_fixture(
        spark,
        [
            # é (2 UTF-8 bytes) inside the compared prefix
            (1, "héllo wörld the quick brown fox jumps over", "en", "s", 100),
            (2, "hello world the quick brown fox jumps over", "en", "s", 100),
            # CJK + emoji: 3- and 4-byte sequences
            (3, "日本語テキスト the quick brown fox jumps 🚀 over", "en", "s", 100),
            (4, "the quick brown fox jumps over dogs today!", "en", "s", 100),
        ],
    )
    got = sorted(
        (r["doc_id"], r["other_id"], r["dist"])
        for r in QUERIES["j39_edit_distance_nn"](spark, d).collect()
    )
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS "
        f"SELECT * FROM read_parquet('{d}/documents.parquet/*.parquet')"
    )
    want = sorted(
        (int(a), int(b), int(c))
        for a, b, c in con.execute(ORACLE["j39_edit_distance_nn"]).fetchall()
    )
    con.close()
    assert got == want
    # the planted near-pair survives the strip: both reduce to the
    # same ASCII subsequence shape, distance counted identically
    by_doc = {a: (b, c) for a, b, c in got}
    assert by_doc[1][0] == 2


def test_multimodal_byte_exact_on_unicode(spark):
    """m1/m3: payload features are BYTE-exact against the oracle on
    unicode text. The traps these fixtures spring: (a) last_byte of a
    multibyte char is a UTF-8 continuation byte (0x80–0xBF), not the
    codepoint ascii() would report; (b) a 32-byte frame boundary that
    splits a 4-byte emoji mid-sequence — frame counts must come from
    octet_length, and the frame fingerprint must hash a byte slice
    that is not valid UTF-8."""
    import duckdb

    from servicenow_cmdb_integration_to_aws_spark.registry import ORACLE, QUERIES

    rows = [
        (1, "a\U0001f680", "en", "s", 2),  # last byte 0x80 ≠ codepoint 128640
        (2, "x" * 31 + "\U0001f680" + " tail text after the frame split", "en", "s", 36),
        (3, "plain ascii document body with enough words here", "en", "s", 48),
        (4, "héllo wörld 日本語", "de", "s", 15),
    ]
    d = _docs_fixture(spark, rows)
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS "
        f"SELECT * FROM read_parquet('{d}/documents.parquet/*.parquet')"
    )
    for qid in ("m1_binary_features", "m3_frame_sample"):
        got = sorted(
            tuple(r) for r in QUERIES[qid](spark, d).toPandas().itertuples(index=False)
        )
        want = sorted(tuple(r) for r in con.execute(ORACLE[qid]).fetchall())
        assert got == want, f"{qid}: {got} != {want}"
    con.close()
    m1 = {r["doc_id"]: r for r in QUERIES["m1_binary_features"](spark, d).collect()}
    assert m1[1]["last_byte"] == 0x80 and m1[1]["byte_len"] == 5
    m3 = {r["doc_id"]: r for r in QUERIES["m3_frame_sample"](spark, d).collect()}
    # doc 2: 31 + 4 + 33 = 68 bytes → 3 frames (codepoint length 65 → would
    # still ceil to 3, but the frame-1 hash differs unless byte-sliced)
    assert m3[2]["n_frames"] == 3


def test_incremental_ivf_equals_batch_rebuild(spark):
    """j54: the delta-merged index equals a batch rebuild over the
    post-change corpus — including the edge a naive refresh misses: a
    cell whose every vector is deleted must DROP OUT of the index.
    Fixture residues: base = id%5!=0, insert = id%5==0, delete = base
    with id%7==3."""
    import math
    import os
    import tempfile

    from servicenow_cmdb_integration_to_aws_spark.registry import QUERIES

    rows = [
        # label 7: only deleted base vectors (3, 38) → cell vanishes
        (3, [1.0, 2.0], 7),
        (38, [5.0, 6.0], 7),
        # label 1: kept base (1), insert (10), deleted base (17)
        (1, [2.0, 0.0], 1),
        (10, [4.0, 2.0], 1),
        (17, [100.0, 100.0], 1),
        # label 2: kept base only (2, 4)
        (2, [1.0, 1.0], 2),
        (4, [3.0, 5.0], 2),
    ]
    d = tempfile.mkdtemp(prefix="ivffix_")
    spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    ).write.parquet(os.path.join(d, "embeddings.parquet"))
    out = {
        r["label"]: r for r in QUERIES["j54_incremental_ivf"](spark, d).collect()
    }
    assert 7 not in out  # emptied cell dropped
    assert set(out) == {1, 2}
    # label 1 batch rebuild: mean of (2,0) and (4,2) = (3,1)
    assert out[1]["n_vectors"] == 2
    assert out[1]["centroid_sum"] == 4.0
    assert out[1]["centroid_l2"] == round(math.sqrt(10.0), 6)
    # label 2: mean of (1,1) and (3,5) = (2,3)
    assert out[2]["n_vectors"] == 2
    assert out[2]["centroid_sum"] == 5.0
    assert out[2]["centroid_l2"] == round(math.sqrt(13.0), 6)


def test_pagerank_sums_to_one_and_ranks_suppliers(spark, sf_dir):
    """c16: final ranks are positive; suppliers (many inbound edges)
    outrank customers in the top-20 of the bipartite shipment graph."""
    from servicenow_cmdb_integration_to_aws_spark.registry import QUERIES

    out = QUERIES["c16_pagerank"](spark, sf_dir).collect()
    assert len(out) == 20
    assert all(r["pr"] > 0 for r in out)
    # every customer points at suppliers; suppliers absorb the rank
    assert all(r["node"].startswith("S") for r in out[:10])
    # descending, tie-broken deterministically
    prs = [r["pr"] for r in out]
    assert prs == sorted(prs, reverse=True)


def test_small_file_compact_merges_without_shuffle(spark, sf_dir):
    """a19: the compactor must (1) actually shrink the file count to
    the size-derived target and (2) do it via coalesce — no Exchange
    in the rewrite plan (a shuffling compactor is a cluster hog, not
    a maintenance job)."""
    import glob
    import math
    import os
    import tempfile

    from servicenow_cmdb_integration_to_aws_spark.operators.sinks import (
        COMPACT_TARGET_BYTES,
    )
    from servicenow_cmdb_integration_to_aws_spark.sources.tables import scan

    o = scan(spark, sf_dir, "orders")
    frag = tempfile.mkdtemp(prefix="a19_test_frag_")
    o.repartition(64).write.mode("overwrite").parquet(frag)
    n_frag = len(glob.glob(frag + "/*.parquet"))
    assert n_frag == 64
    n_bytes = sum(
        e.stat().st_size for e in os.scandir(frag) if e.name.endswith(".parquet")
    )
    n_target = max(1, math.ceil(n_bytes / COMPACT_TARGET_BYTES))
    compacted = spark.read.parquet(frag).coalesce(n_target)
    plan = compacted._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan, plan
    out = tempfile.mkdtemp(prefix="a19_test_out_")
    compacted.write.mode("overwrite").parquet(out)
    n_out = len(glob.glob(out + "/*.parquet"))
    assert n_out <= n_target < n_frag
    assert spark.read.parquet(out).count() == o.count()


def test_observed_metrics_match_truth(spark, sf_dir):
    """a21: the Observation's metrics must equal an independent
    aggregation of the same predicate — and arrive from the SAME
    action (no extra job beyond the one collect)."""
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    from servicenow_cmdb_integration_to_aws_spark.operators.scans import (
        open_orders_observed,
    )
    from servicenow_cmdb_integration_to_aws_spark.sources.tables import scan

    obs = Observation("a21_test")
    out = open_orders_observed(spark, sf_dir, obs)
    n_out = out.count()
    got = obs.get
    truth = (
        scan(spark, sf_dir, "orders")
        .filter(F.col("o_orderstatus") == "O")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum(
                (F.col("o_totalprice").cast("decimal(18,2)") * 100).cast("long")
            ).alias("sum_cents"),
        )
        .collect()[0]
    )
    assert got["n_rows"] == truth["n_rows"] == n_out
    assert got["sum_cents"] == truth["sum_cents"]
    assert got["n_null_price"] == 0


def test_zorder_layout_skips_on_both_dimensions(spark, sf_dir):
    """a22: under the 2-D box predicate, the Z-order layout must leave
    files prunable by footer stats on the partkey AND/OR suppkey
    ranges, while a partkey-only sort leaves every file's suppkey
    range full-width (the suppkey predicate skips nothing there)."""
    import glob
    import tempfile

    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    from servicenow_cmdb_integration_to_aws_spark.operators.sinks import zvalue
    from servicenow_cmdb_integration_to_aws_spark.sources.tables import scan

    li = scan(spark, sf_dir, "lineitem").select("l_partkey", "l_suppkey")

    def ranges(path):
        out = []
        for f in glob.glob(path + "/*.parquet"):
            md = pq.ParquetFile(f).metadata
            idx = {md.schema.column(i).name: i for i in range(md.num_columns)}
            st = lambda c: [  # noqa: E731
                (md.row_group(g).column(idx[c]).statistics.min,
                 md.row_group(g).column(idx[c]).statistics.max)
                for g in range(md.num_row_groups)
            ]
            pk = st("l_partkey"); sk = st("l_suppkey")
            out.append((min(a for a, _ in pk), max(b for _, b in pk),
                        min(a for a, _ in sk), max(b for _, b in sk)))
        return out

    zdir = tempfile.mkdtemp(prefix="a22_test_z_")
    (li.withColumn("zv", zvalue(F.col("l_partkey"), F.col("l_suppkey")))
       .repartitionByRange(8, "zv").sortWithinPartitions("zv").drop("zv")
       .write.mode("overwrite").parquet(zdir))
    onedir = tempfile.mkdtemp(prefix="a22_test_1d_")
    (li.repartitionByRange(8, "l_partkey").sortWithinPartitions("l_partkey")
       .write.mode("overwrite").parquet(onedir))

    box = lambda r: not (r[1] < 500 or r[0] >= 700 or r[3] < 20 or r[2] >= 40)  # noqa: E731
    z_hit = [r for r in ranges(zdir) if box(r)]
    one = ranges(onedir)
    one_hit = [r for r in one if box(r)]
    # Z-order: the box must NOT touch every file (skipping happens)
    assert len(z_hit) < len(ranges(zdir)), z_hit
    # 1-D layout: every file covers (nearly) the full suppkey domain,
    # so the suppkey half of the predicate can never prune a file
    sk_domain = (min(r[2] for r in one), max(r[3] for r in one))
    assert all(r[2] <= sk_domain[0] + 5 and r[3] >= sk_domain[1] - 5 for r in one), one
    # and the box therefore hits every file the partkey range admits
    pk_admits = [r for r in one if not (r[1] < 500 or r[0] >= 700)]
    assert len(one_hit) == len(pk_admits)
