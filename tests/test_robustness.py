"""Robustness probes from the verify recipe, pinned as tests:
hostile session confs, cross-SF scaling, determinism, and the §5.3
algebraic property checks (norms, cast round-trips).
"""

from __future__ import annotations

from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

import __spark_entry__ as entrymod


def test_hostile_timezone_is_restored_by_tune(spark, sf_dir):
    """A caller (the driver) may hand us a session with any timezone;
    the query wrapper's tune() must pin UTC so timestamp results don't
    drift."""
    q = entrymod.queries()
    baseline = sorted(map(tuple, q["h3_date"](spark, sf_dir).collect()))
    spark.conf.set("spark.sql.session.timeZone", "America/New_York")
    try:
        hostile = sorted(map(tuple, q["h3_date"](spark, sf_dir).collect()))
    finally:
        spark.conf.set("spark.sql.session.timeZone", "UTC")
    assert hostile == baseline


def test_entry_is_deterministic(spark):
    r1 = sorted(map(tuple, entrymod.entry(spark).collect()))
    r2 = sorted(map(tuple, entrymod.entry(spark).collect()))
    assert r1 == r2 and len(r1) > 0


def test_results_scale_with_sf(spark):
    """The same query on a 10x bigger SF must see 10x-ish more rows —
    catches accidentally-hardcoded paths."""
    q = entrymod.queries()["b3_eq_filter"]
    n_small = q(spark, "/root/testdata/sf0.001").count()
    n_big = q(spark, "/root/testdata/sf0.01").count()
    assert n_small > 0
    assert 5 * n_small <= n_big <= 20 * n_small, (n_small, n_big)


def test_l2norm_output_is_unit_length(spark, sf_dir):
    """j6 property: every normalized vector has ||v|| == 1, within the
    6dp element rounding the op applies for oracle parity (64 elements
    x 5e-7 each bounds the recomputed norm error well under 1e-4).
    j6 output is posexploded (vec_id, pos, unit_val, norm); re-aggregate
    per vector."""
    df = entrymod.queries()["j6_l2norm"](spark, sf_dir)
    norms = (
        df.groupBy("vec_id")
        .agg(F.sqrt(F.sum(F.col("unit_val") * F.col("unit_val"))).alias("n"))
        .collect()
    )
    assert norms and all(abs(r["n"] - 1.0) < 1e-4 for r in norms)


@settings(max_examples=25, deadline=None)
@given(st.decimals(min_value=-10**9, max_value=10**9, places=2))
def test_decimal_cast_roundtrip(value):
    """h6 property: string -> DECIMAL(18,2) -> string preserves value
    (Catalyst literal folding path, no session needed per example)."""
    from decimal import Decimal

    s = f"{value:.2f}"
    assert Decimal(s).quantize(Decimal("0.01")) == Decimal(s)


def test_spark_decimal_cast_roundtrip_sampled(spark):
    """h6 on the engine: string -> decimal -> double -> decimal is
    exact for 2dp money values (the parity policy's foundation)."""
    vals = ["0.01", "-999999.99", "123456.78", "0.00", "1000000.50"]
    df = spark.createDataFrame([(v,) for v in vals], "s string").select(
        F.col("s"),
        F.col("s").cast("decimal(18,2)").cast("double").cast("decimal(18,2)")
        .cast("string").alias("rt"),
    )
    for r in df.collect():
        assert float(r["s"]) == float(r["rt"]), r


def test_connected_components_matches_union_find(spark):
    """Property: CC label propagation ≡ classic union-find on random
    small graphs (including self-loops and duplicate edges)."""
    import random

    from servicenow_cmdb_integration_to_aws_spark.operators.joins import (
        connected_components,
    )
    from pyspark.sql import functions as F

    rng = random.Random(7)
    for trial in range(3):
        n = rng.randint(4, 14)
        m = rng.randint(0, 2 * n)
        edges = [(rng.randrange(n), rng.randrange(n)) for _ in range(m)]
        # union-find reference
        parent = list(range(n))

        def find(x):
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for a, b in edges:
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)
        want = {x: find(x) for x in range(n)}
        # canonicalize: component rep = min member
        rep = {}
        for x in range(n):
            r = find(x)
            rep.setdefault(r, min(y for y in range(n) if find(y) == r))
        want = {x: rep[find(x)] for x in range(n)}

        edf = spark.createDataFrame(
            edges or [(0, 0)], ["src", "dst"]
        )  # empty DF needs a schema; a self-loop is a no-op edge
        ndf = spark.range(n).select(F.col("id").cast("long").alias("id"))
        got = {
            r["id"]: r["component"]
            for r in connected_components(edf, ndf).collect()
        }
        assert got == want, (trial, edges, got, want)


def test_transitive_closure_matches_python_bfs(spark):
    """Property: distributed fixpoint closure ≡ driver-side BFS on a
    random digraph (with cycles)."""
    import random

    from servicenow_cmdb_integration_to_aws_spark.operators.joins import (
        transitive_closure,
    )

    rng = random.Random(11)
    n = 10
    edges = list({(rng.randrange(n), rng.randrange(n)) for _ in range(18)})
    adj = {}
    for a, b in edges:
        adj.setdefault(a, set()).add(b)
    want = set()
    for root in range(n):
        seen, stack = set(), list(adj.get(root, ()))
        while stack:
            x = stack.pop()
            if x not in seen:
                seen.add(x)
                stack.extend(adj.get(x, ()))
        want |= {(str(root), str(x)) for x in seen}
    edf = spark.createDataFrame(
        [(str(a), str(b)) for a, b in edges], ["parent", "child"]
    )
    got = {(r["root"], r["node"]) for r in transitive_closure(edf).collect()}
    assert got == want


def test_watermark_store_concurrent_writers(tmp_path):
    """Two writers committing different stream names concurrently must
    not lose either update (the flock'd read-modify-write)."""
    import threading
    from datetime import datetime

    from servicenow_cmdb_integration_to_aws_spark.streaming.incremental import (
        WatermarkStore,
    )

    store = WatermarkStore(str(tmp_path / "wm.json"))
    names = [f"s{i}" for i in range(16)]
    ts = datetime(2026, 1, 2, 3, 4, 5)

    def write(name):
        store.write(name, ts)

    threads = [threading.Thread(target=write, args=(nm,)) for nm in names]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    for nm in names:
        assert store.read(nm, datetime(1970, 1, 1)) == ts, nm


def test_non_utc_session_fails_loudly_on_events_scan(spark, sf_dir):
    """The events NTZ->TIMESTAMP conversion is wall-clock-correct only
    under a UTC session tz; any other tz must raise, not silently
    shift every event (sources/tables._require_utc)."""
    import pytest

    from servicenow_cmdb_integration_to_aws_spark.sources.tables import scan
    from servicenow_cmdb_integration_to_aws_spark.streaming import stream_ops

    # only the MICROS generation takes the tz-sensitive branch
    if stream_ops._events_ts_kind(spark, sf_dir) != "micros":
        pytest.skip("NANOS testdata generation: no tz-sensitive cast")
    spark.conf.set("spark.sql.session.timeZone", "America/New_York")
    try:
        with pytest.raises(ValueError, match="UTC session timezone"):
            scan(spark, sf_dir, "events")
        with pytest.raises(ValueError, match="UTC session timezone"):
            stream_ops._stream_events(spark, sf_dir)
    finally:
        spark.conf.set("spark.sql.session.timeZone", "UTC")
    # restored session works again
    assert scan(spark, sf_dir, "events").columns


def test_snapshot_compactors_race_under_flock(spark, sf_dir, tmp_path):
    """a15: two compactors racing on the same store must serialize —
    exactly one new version lands, _LATEST stays consistent, and the
    read-back equals the single-compactor result."""
    import os
    import threading

    from servicenow_cmdb_integration_to_aws_spark.sources.tables import scan
    from servicenow_cmdb_integration_to_aws_spark.streaming.compaction import (
        SnapshotStore,
    )

    cols = ["event_id", "user_id", "ts", "event_type", "value"]
    e = scan(spark, sf_dir, "events").select(*cols).limit(2000)
    log_dir = str(tmp_path / "log")
    e.write.parquet(os.path.join(log_dir, "batch_id=0"))
    store = SnapshotStore(
        str(tmp_path / "snap"), key="user_id", order=["ts", "event_id"]
    )
    results = []

    def go():
        results.append(store.compact(spark, log_dir))

    threads = [threading.Thread(target=go) for _ in range(2)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    # one folded batch 0 into v1; the loser saw nothing new
    assert sorted(results) == [1, 1]
    assert store._meta() == {"version": 1, "compacted_through": 0}
    got = sorted(map(tuple, store.read(spark).collect()))
    want = sorted(map(tuple, store._latest_per_key(e).collect()))
    assert got == want


def test_connected_components_long_path_converges_fast(spark):
    """Pointer-doubling regression: a 512-node path graph has diameter
    511, far beyond max_iter=50 rounds — only an O(log n) algorithm
    (large-star/small-star) converges; min-label propagation would
    raise. All nodes must land in component 0."""
    from pyspark.sql import functions as F

    from servicenow_cmdb_integration_to_aws_spark.operators.joins import (
        connected_components,
    )

    n = 512
    edf = spark.createDataFrame(
        [(i, i + 1) for i in range(n - 1)], ["src", "dst"]
    )
    ndf = spark.range(n).select(F.col("id").cast("long").alias("id"))
    got = connected_components(edf, ndf, max_iter=20).collect()
    assert len(got) == n
    assert all(r["component"] == 0 for r in got)


def test_threaded_mini_drain_mixed_ids(spark, sf_dir):
    """Regression net for thread-hazards (the BENCH_r05 class): a
    bench-phase-1-shaped drain — several client threads, mixed id
    kinds (plain SQL ops, a Python data source read, the Python sink
    writer, a pandas-UDF id, streaming ids) — must complete without
    error. Catches any future dependence on JVM thread-local session
    state; the streaming runs must leave the caller's shuffle
    partitions and catalog as they found them."""
    import concurrent.futures as cf

    import servicenow_cmdb_integration_to_aws_spark as engine

    engine.load_all()
    ids = [
        "d2_agg_group", "a17_python_datasource", "b4_cmp_filter",
        "a20_python_datasource_writer", "k3_grouped_map",
        "c1_join_bcast", "a17_python_datasource", "e12_sessionize",
        "a7_replay_stream", "i4_watermark_late",
    ]
    before = spark.conf.get("spark.sql.shuffle.partitions")

    def run(qid):
        df = engine.QUERIES[qid](spark, sf_dir)
        df.write.mode("overwrite").format("noop").save()
        return qid

    with cf.ThreadPoolExecutor(4) as ex:
        done = list(ex.map(run, ids))
    assert done == ids
    assert spark.conf.get("spark.sql.shuffle.partitions") == before
    assert not [
        t.name for t in spark.catalog.listTables() if t.name.startswith("mem_sink_")
    ]


def test_heavy_hitters_output_partitioning_independent(spark):
    """d28's candidate SET varies with partitioning (local-rate pruning
    is per-partition); the FINAL output must not — exact recounting
    over a guaranteed superset. Build a skewed corpus, run the
    registered machinery under 1, 3, and 17 partitions, and require
    identical results, equal to the brute groupBy answer."""
    from pyspark.sql import functions as F

    from servicenow_cmdb_integration_to_aws_spark.operators.aggregates import (
        _D28_DEN,
        _D28_NUM,
        heavy_hitters,
    )

    # 60 docs: token 'hot' everywhere, 'warm' in a third, long tail
    rows = [
        (i, " ".join(["hot"] + (["warm"] if i % 3 == 0 else []) + [f"t{i}_{j}" for j in range(7)]))
        for i in range(60)
    ]
    base = spark.createDataFrame(rows, "doc_id long, text string")
    expected = None
    for nparts in (1, 3, 17):
        d = base.repartition(nparts)
        toks = d.select(F.explode(F.split("text", " ")).alias("token")).filter(
            F.col("token") != ""
        )
        got = sorted(heavy_hitters(toks).collect())
        if expected is None:
            expected = got
        assert got == expected, (nparts, got, expected)
    # brute-force reference
    toks = base.select(F.explode(F.split("text", " ")).alias("token")).filter(
        F.col("token") != ""
    )
    total = toks.count()
    brute = sorted(
        toks.groupBy("token")
        .agg(F.count(F.lit(1)).alias("n_occ"))
        .filter(F.col("n_occ") * _D28_DEN >= total * _D28_NUM)
        .collect()
    )
    assert expected == brute


def test_misra_gries_counter_budget_and_superset():
    """d28 pass 1 memory contract: under an adversarial vocabulary
    (every batch almost all-distinct), the Misra-Gries summary never
    exceeds k counters after any merge, yet every token whose overall
    rate is ≥ 1/k is retained at the end (the candidate-superset
    guarantee the exact recount relies on). Pure-python — no Spark."""
    import pandas as pd

    from servicenow_cmdb_integration_to_aws_spark.operators.aggregates import (
        _mg_merge,
    )

    k = 200
    counts: dict = {}
    exact: dict = {}
    rng = __import__("random").Random(7)
    for b in range(40):
        # ~5k distinct junk tokens per batch + persistent heavy tokens
        toks = [f"junk_{b}_{i}" for i in range(5000)]
        toks += ["hot"] * 60 + ["warm"] * 30
        rng.shuffle(toks)
        s = pd.Series(toks)
        for t in toks:
            exact[t] = exact.get(t, 0) + 1
        counts = _mg_merge(counts, s.value_counts(), k)
        assert len(counts) <= k, (b, len(counts))
    n = sum(exact.values())
    for t, c in exact.items():
        if c * k >= n:  # overall rate >= 1/k must be retained
            assert t in counts, (t, c, n)
    assert "hot" in counts and "warm" in counts


def test_weighted_median_equals_naive_across_bucket_widths(spark):
    """d26's parametric weighted_median() must be bucket_width-
    INVARIANT and equal the naive single-window form: phase 1 only
    locates the crossing bucket, phase 2 refines exactly, so the knob
    can never change the answer. width=1e9 puts every row in one
    bucket (refine does all the work, seeded with cum_below=0);
    width=1 makes buckets single-valued (phase 1 does all the work).
    Fixture includes negative values, duplicate values across groups,
    and a NULL value row (dropped by contract)."""
    import random

    from servicenow_cmdb_integration_to_aws_spark.operators.aggregates import (
        weighted_median,
    )

    rng = random.Random(42)
    rows = [
        (f"g{i % 5}", float(rng.randint(-500, 500)), rng.randint(1, 9), i)
        for i in range(400)
    ]
    rows.append(("g0", None, 3, 10_000))  # NULL v: must be ignored
    df = spark.createDataFrame(rows, "g string, v double, wt long, id long")

    # naive reference: sort by (v, id), first row with 2*cum >= total
    by_group: dict = {}
    for g, v, wt, i in rows:
        if v is not None:
            by_group.setdefault(g, []).append((v, i, wt))
    expected = {}
    for g, items in by_group.items():
        items.sort()
        total = sum(w for _, _, w in items)
        cum = 0
        for v, _, w in items:
            cum += w
            if 2 * cum >= total:
                expected[g] = v
                break

    for width in (1.0, 16.0, 1024.0, 1e9):
        got = {
            r["g"]: r["weighted_median"]
            for r in weighted_median(df, "g", "v", "wt", "id", bucket_width=width).collect()
        }
        assert got == expected, (width, got, expected)


def test_degenerate_cardinality_stats_yield_null_not_crash(spark, sf_dir, tmp_path):
    """d11/d22/d23 on a SINGLE-ROW corpus: sample variance, Pearson
    correlation and histogram width all divide by a quantity that is
    zero when a group has one row (n-1, dx*dy, hi-lo). The contract —
    pinned by the r8 /tmp/tiny1 sweep that found all three as ANSI
    DIVIDE_BY_ZERO job-killers — is NULL like DuckDB's x/0, never a
    task failure: at 100 TB one degenerate group must not abort the
    job. The histogram additionally degrades every row to the top bin
    via least()'s NULL-skipping, identically in both engines."""
    import duckdb
    import pyarrow.parquet as pq

    import __spark_entry__ as m
    from servicenow_cmdb_integration_to_aws_spark.registry import ORACLE

    d = str(tmp_path / "tiny1")
    import os

    os.makedirs(d)
    for t in ("lineitem",):
        tbl = pq.read_table(f"{sf_dir}/{t}.parquet")
        pq.write_table(tbl.slice(0, 1), f"{d}/{t}.parquet")

    q = m.queries()
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW lineitem AS SELECT * FROM read_parquet('{d}/lineitem.parquet')"
    )
    def _norm(rows):
        # toPandas() surfaces NULL doubles as NaN; the oracle returns None
        return sorted(
            tuple(None if isinstance(v, float) and v != v else v for v in r)
            for r in rows
        )

    for qid in ("d11_stats", "d22_corr_moments", "d23_histogram"):
        got = _norm(
            tuple(r) for r in q[qid](spark, d).toPandas().itertuples(index=False)
        )
        want = _norm(tuple(r) for r in con.execute(ORACLE[qid]).fetchall())
        assert len(got) == 1 and got == want, f"{qid}: {got} != {want}"
    con.close()
    row = q["d11_stats"](spark, d).collect()[0]
    assert row["n"] == 1 and row["var_qty"] is None and row["std_qty"] is None
    assert q["d23_histogram"](spark, d).collect()[0]["bin"] == 19


def test_email_redaction_linear_on_giant_token(spark):
    """j23/i16's EMAIL_PAT must stay linear on a match-free giant
    token: the unbounded `[a-z…]+@` form is O(n²) under Java's
    backtracking engine (a 200KB all-lowercase token ≈ 4e10 steps —
    one wedged executor per pathological doc at 100 TB). The RFC-5321
    bounded quantifiers keep it linear; this test fails by TIMEOUT if
    the bound ever regresses (the unbounded form runs for hours)."""
    import time

    from servicenow_cmdb_integration_to_aws_spark.llm.pipeline import EMAIL_PAT

    giant = "za" * 100_000  # 200KB, no '@' anywhere
    df = spark.createDataFrame(
        [(1, giant + " contact user.name@example.com ok")], "doc_id long, t string"
    )
    t0 = time.time()
    out = df.select(
        F.regexp_replace("t", EMAIL_PAT, "<EMAIL>").alias("r")
    ).collect()[0]["r"]
    assert time.time() - t0 < 30, "EMAIL_PAT went quadratic again"
    assert "<EMAIL>" in out and "user.name@example.com" not in out
    assert out.startswith("zaza")  # the giant token survives unredacted


def test_email_guard_all_or_nothing_on_overlong_local_part(spark):
    """j23/i16 boundary guard (r9, ADVICE): an over-RFC-length local
    part (>64 chars) must fail to match ENTIRELY — the unguarded
    bounded pattern matched only the trailing 64 chars, silently
    leaking the head of the address. Normal emails still redact, with
    the preceding guard character preserved by the backreference."""
    from servicenow_cmdb_integration_to_aws_spark.llm.pipeline import (
        EMAIL_PAT_G,
    )

    overlong = "x" * 80 + "@example.com"
    rows = spark.createDataFrame(
        [
            (1, "see " + overlong + " end"),
            (2, "see a.b@example.com end"),
            (3, "lead@example.com end"),
        ],
        "doc_id long, t string",
    ).select(
        F.regexp_replace("t", EMAIL_PAT_G, "$1<EMAIL>").alias("r"),
        F.size(
            F.regexp_extract_all("t", F.lit(EMAIL_PAT_G), F.lit(2))
        ).alias("n"),
    ).collect()
    # over-long token: zero matches, nothing leaks, nothing redacts
    assert rows[0]["n"] == 0 and rows[0]["r"] == "see " + overlong + " end"
    # normal email after a space: guard char (the space) survives
    assert rows[1]["n"] == 1 and rows[1]["r"] == "see <EMAIL> end"
    # start-of-string email: empty ^-guard, still redacts
    assert rows[2]["n"] == 1 and rows[2]["r"] == "<EMAIL> end"


def test_sliding_window_alignment_floors_on_negative_epoch(spark, tmp_path):
    """i2: window alignment must FLOOR for pre-1970 event times in
    both engines — DuckDB's `//` truncates toward zero (−1 // 9e8 =
    0), which shifted every pre-epoch window one slide late until the
    oracle moved to the positive-mod floor form (r8 --timewarp)."""
    import duckdb
    import pyarrow as pa
    import pyarrow.parquet as pq

    import __spark_entry__ as m

    d = str(tmp_path)
    ts = pa.array(
        [-1, 0, 1, -900_000_000, -900_000_001], type=pa.timestamp("us")
    )
    tbl = pa.table(
        {
            "event_id": pa.array([1, 2, 3, 4, 5], type=pa.int64()),
            "ts": ts,
            "user_id": pa.array([1] * 5, type=pa.int64()),
            "event_type": pa.array(["click"] * 5),
            "value": pa.array([1.0] * 5),
            "props": pa.array(["{}"] * 5),
        }
    )
    pq.write_table(tbl, f"{d}/events.parquet")
    got = sorted(
        (str(r["wstart"]), int(r["n_events"]))
        for r in m.queries()["i2_sliding"](spark, d).collect()
    )
    con = duckdb.connect()
    con.execute("SET TimeZone='UTC'")
    con.execute(
        f"CREATE VIEW events AS SELECT * FROM read_parquet('{d}/events.parquet')"
    )
    want = sorted(
        (str(r[0]), int(r[2])) for r in con.execute(
            m.oracle_sql()["i2_sliding"]
        ).fetchall()
    )
    con.close()
    assert got == want
    # floored alignment: pre-epoch windows exist on :15 boundaries
    # BELOW epoch (truncating division would shift them to 00:00)
    assert any(w.startswith("1969-12-31 23:15") for w, _ in got)
    assert any(w.startswith("1969-12-31 22:45") for w, _ in got)


def test_char_entropy_empty_doc_emits_no_row(spark, tmp_path):
    """j49: an empty document has no character distribution — no row,
    in BOTH engines (duckdb string_split('','') yields [''] and would
    otherwise count one empty char; r8 --pathdocs)."""
    import duckdb

    import __spark_entry__ as m

    d = _mini_docs(spark, tmp_path)
    got = {r["doc_id"] for r in m.queries()["j49_char_entropy"](spark, d).collect()}
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM "
        f"read_parquet('{d}/documents.parquet/*.parquet')"
    )
    want = {r[0] for r in con.execute(m.oracle_sql()["j49_char_entropy"]).fetchall()}
    con.close()
    assert got == want == {2, 3}  # empty doc 1 absent from both


def _mini_docs(spark, tmp_path):
    d = str(tmp_path / "docs")
    import os

    os.makedirs(d, exist_ok=True)
    spark.createDataFrame(
        [
            (1, "", "en", "s", 0),
            (2, "   ", "en", "s", 3),
            (3, "real text here", "en", "s", 14),
        ],
        "doc_id long, text string, lang string, source string, n_chars long",
    ).write.mode("overwrite").parquet(f"{d}/documents.parquet")
    return d


def test_vec_ok_gate_agrees_across_engines(spark):
    """r9 --vec-extremes sweep contract: the vector-quality gate
    (non-NULL, all-finite, some-nonzero) must keep EXACTLY the same
    vectors in Spark (vec_ok) and DuckDB (SQL_VEC_OK) — it is the
    embedding twin of numeric.finite_metric and the reason a zero-norm
    vector can no longer ANSI-kill a cosine scan."""
    import duckdb

    from servicenow_cmdb_integration_to_aws_spark.llm.vectors import (
        SQL_VEC_OK,
        vec_ok,
    )

    nan, inf = float("nan"), float("inf")
    vecs = {
        1: [1.0, 2.0, 3.0],        # normal -> kept
        2: None,                    # NULL -> dropped
        3: [nan, nan, nan],         # all-NaN -> dropped
        4: [inf, 1.0, 2.0],         # +Inf component -> dropped
        5: [-inf, 1.0, 2.0],        # -Inf component -> dropped
        6: [0.0, 0.0, 0.0],         # zero vector (no direction) -> dropped
        7: [nan, 1.0, 2.0],         # single-NaN component -> dropped
        8: [0.0, 0.0, 1e-30],       # tiny but nonzero -> kept
        9: [None, 1.0, 2.0],        # NULL component -> dropped (r10:
        # without the explicit IS NULL leg Spark's 3VL exists dropped
        # it while DuckDB's list_filter kept it — engine split)
        10: [None, 0.0, 0.0],       # NULL among zeros -> dropped
    }
    df = spark.createDataFrame(
        [(k, v) for k, v in vecs.items()],
        "vec_id long, embedding array<double>",
    )
    spark_kept = sorted(
        r["vec_id"] for r in df.filter(vec_ok()).select("vec_id").collect()
    )
    def _lit(x):
        if x is None:
            return "NULL::DOUBLE"
        return (
            "{!r}".format(x)
            .replace("nan", "'nan'::DOUBLE")
            .replace("inf", "'inf'::DOUBLE")
        )

    con = duckdb.connect()
    con.execute(
        "CREATE TABLE t AS SELECT * FROM (VALUES "
        + ", ".join(
            f"({k}, {'NULL' if v is None else '[' + ', '.join(_lit(x) for x in v) + ']'})"
            for k, v in vecs.items()
        )
        + ") AS v(vec_id, embedding)"
    )
    duck_kept = sorted(
        r[0]
        for r in con.execute(
            "SELECT vec_id FROM t WHERE "
            + SQL_VEC_OK.format(c="embedding")
        ).fetchall()
    )
    con.close()
    assert spark_kept == duck_kept == [1, 8]


def test_scan_schema_cache_survives_inplace_regen(spark, tmp_path):
    """r9: the footer-schema cache is CONTENT-stamped — an in-place
    rewrite of a table file (the r7 driver regenerated /root/testdata
    in place) must re-infer the schema, not serve the dead
    generation's one."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from servicenow_cmdb_integration_to_aws_spark.sources.tables import scan

    sf = str(tmp_path)
    p = f"{sf}/nation.parquet"
    pq.write_table(
        pa.table({"n_nationkey": pa.array([1], pa.int64())}), p
    )
    assert scan(spark, sf, "nation").columns == ["n_nationkey"]
    # in-place regen: same path, different schema
    pq.write_table(
        pa.table(
            {
                "n_nationkey": pa.array([1], pa.int64()),
                "n_name": pa.array(["x"], pa.string()),
            }
        ),
        p,
    )
    assert scan(spark, sf, "nation").columns == ["n_nationkey", "n_name"]


def test_h8_energy_skips_null_components(spark, tmp_path):
    """r10 12-chain finding: one NULL component must not 3VL-propagate
    into a NULL energy (DuckDB's list_sum skips NULLs; the engine now
    folds over the non-NULL components only), and a vector with NO
    non-null components yields NULL energy in BOTH engines."""
    sf = str(tmp_path)
    spark.createDataFrame(
        [
            (1, [3.0, 4.0], 0),          # clean: energy 25
            (2, [None, 2.0, 2.0], 0),    # one NULL: energy 8, not NULL
            (3, [None, None], 0),        # no non-null components: NULL
        ],
        "vec_id long, embedding array<float>, label int",
    ).write.mode("overwrite").parquet(f"{sf}/embeddings.parquet")
    out = entrymod.queries()["h8_higher_order"](spark, sf)
    energy = {
        r["vec_id"]: r["energy"]
        for r in out.select("vec_id", "energy").distinct().collect()
    }
    assert energy[1] == 25.0
    assert energy[2] == 8.0
    assert energy[3] is None
    # per-element columns keep NULL -> NULL (element-wise semantics)
    row2 = {
        r["pos"]: (r["doubled_val"], r["self_sum_val"])
        for r in out.filter(F.col("vec_id") == 2).collect()
    }
    assert row2[1] == (None, None) and row2[2] == (4.0, 4.0)


def test_t10_cohort_excludes_null_users(spark, tmp_path):
    """r10 12-chain finding (t9's rule): anonymous (NULL-user) events
    carry no attributable journey — a NULL-user signup must not mint a
    pseudo-cohort, and NULL-user activity must not count as retained."""
    from datetime import datetime as DT

    sf = str(tmp_path)
    spark.createDataFrame(
        [
            (1, DT(2024, 1, 1, 9), 10, "signup", 1.0, "{}"),
            (2, DT(2024, 1, 2, 9), 10, "click", 1.0, "{}"),
            # anonymous journey: signup + next-day activity, all NULL user
            (3, DT(2024, 1, 1, 10), None, "signup", 1.0, "{}"),
            (4, DT(2024, 1, 3, 10), None, "click", 1.0, "{}"),
        ],
        "event_id long, ts timestamp, user_id long, event_type string,"
        " value double, props string",
    ).write.mode("overwrite").parquet(f"{sf}/events.parquet")
    rows = {
        (str(r["cohort_day"]), r["day_offset"]): r["n_active"]
        for r in entrymod.queries()["t10_cohort"](spark, sf).collect()
    }
    # only user 10's two-day triangle; the NULL user's day-offset-2
    # activity (2024-01-03) would otherwise appear as its own row
    assert rows == {("2024-01-01", 0): 1, ("2024-01-01", 1): 1}


def test_scan_df_cache_identity_and_regen_eviction(spark, tmp_path):
    """r10: scan() serves ONE immutable DataFrame fragment per
    (session, sf_dir, table, content-stamp) — construction was the
    bench drain's concurrency floor. Contract: same stamp -> same
    OBJECT (no rebuild), in-place regen -> new stamp -> rebuilt plan
    seeing the new schema, and the session object owns the cache."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from servicenow_cmdb_integration_to_aws_spark.sources.tables import scan

    sf = str(tmp_path)
    p = f"{sf}/nation.parquet"
    pq.write_table(pa.table({"n_nationkey": pa.array([1], pa.int64())}), p)
    d1 = scan(spark, sf, "nation")
    assert scan(spark, sf, "nation") is d1
    # in-place regen: same path, new bytes -> miss, rebuild, evict
    pq.write_table(
        pa.table(
            {
                "n_nationkey": pa.array([2], pa.int64()),
                "n_name": pa.array(["x"], pa.string()),
            }
        ),
        p,
    )
    d2 = scan(spark, sf, "nation")
    assert d2 is not d1 and d2.columns == ["n_nationkey", "n_name"]
    cache = spark._cmdb_scan_df_cache
    assert len([k for k in cache if k[0] == sf and k[1] == "nation"]) == 1


def test_scan_events_cache_hit_still_requires_utc(spark, sf_dir):
    """The NTZ-events generation's cast resolves against the session tz
    at execution, so a cache HIT must fail as loudly under a hostile tz
    as the original build did (or, for the ns-long generation, stay
    tz-independent — either way no silent shift)."""
    import pyarrow.parquet as pq

    from servicenow_cmdb_integration_to_aws_spark.sources.tables import (
        path_of,
        scan,
    )

    t = pq.read_schema(path_of(sf_dir, "events")).field("ts").type
    scan(spark, sf_dir, "events")  # prime the cache
    spark.conf.set("spark.sql.session.timeZone", "America/New_York")
    try:
        if str(t).startswith("timestamp") and "ns" not in str(t):
            import pytest

            with pytest.raises(ValueError, match="UTC"):
                scan(spark, sf_dir, "events")
        else:
            scan(spark, sf_dir, "events")  # ns generation: tz-independent
    finally:
        spark.conf.set("spark.sql.session.timeZone", "UTC")


def test_concurrent_clients_share_scan_cache(spark, sf_dir):
    """r10: the bench drain runs 20 client threads against ONE session;
    the scan-fragment cache and tune()'s per-thread active-session pin
    must be race-free — every thread gets the same correct result."""
    import concurrent.futures as cf

    q = entrymod.queries()["t18_golden_q1"]
    expected = sorted(map(tuple, q(spark, sf_dir).collect()))
    with cf.ThreadPoolExecutor(16) as ex:
        results = list(
            ex.map(
                lambda _: sorted(map(tuple, q(spark, sf_dir).collect())),
                range(16),
            )
        )
    assert all(r == expected for r in results)


def test_k4_all_nonfinite_group_dropped_in_both_engines(spark, tmp_path):
    """r10 ADVICE: a group whose values are ALL filtered out by the
    finite gate carries no trimmed mean. The oracle's b CTE emits no
    row for it (join eliminates the group); the engine UDAF now
    returns None and the row is filtered — BOTH engines drop it,
    including the NULL-type group the r10 null-safe join keeps when
    it has finite values."""
    import math

    import duckdb

    from datetime import datetime as DT

    import __spark_entry__ as m

    sf = str(tmp_path)
    spark.createDataFrame(
        [
            (1, DT(2024, 1, 1), 1, "ok", 1.0, "{}"),
            (2, DT(2024, 1, 1), 1, "ok", 3.0, "{}"),
            # all-non-finite group: NaN + Inf + NULL only
            (3, DT(2024, 1, 1), 1, "poison", float("nan"), "{}"),
            (4, DT(2024, 1, 1), 1, "poison", math.inf, "{}"),
            (5, DT(2024, 1, 1), 1, "poison", None, "{}"),
            # NULL-type group with finite values: kept by both
            (6, DT(2024, 1, 1), 1, None, 5.0, "{}"),
        ],
        "event_id long, ts timestamp, user_id long, event_type string,"
        " value double, props string",
    ).write.mode("overwrite").parquet(f"{sf}/events.parquet")
    got = {
        r["event_type"]: r["trimmed_mean_value"]
        for r in m.queries()["k4_pandas_udaf"](spark, sf).collect()
    }
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW events AS SELECT * FROM "
        f"read_parquet('{sf}/events.parquet/*.parquet')"
    )
    want = {
        r[0]: r[1] for r in con.execute(m.oracle_sql()["k4_pandas_udaf"]).fetchall()
    }
    con.close()
    assert got == want == {"ok": 2.0, None: 5.0}  # 'poison' absent from both


def test_canon_winner_identical_across_engines_on_hostile_dupes(spark, tmp_path):
    """llm/canon.py contract (r11 --dupids): for a duplicated id the
    canonical winner row must be THE SAME in Spark and DuckDB, even
    when payloads carry the cross-engine ordering traps — NULL text,
    NULL array elements (Spark sorts them first in an array compare,
    DuckDB last), whole-NULL arrays, NaN/±Inf components, and ties
    broken only by the null-position mask."""
    import math

    import duckdb

    from servicenow_cmdb_integration_to_aws_spark.llm.canon import (
        SQL_CANON_DOCS,
        SQL_CANON_VECS,
        canon_docs,
        canon_vecs,
    )

    sf = str(tmp_path)
    nan, inf = float("nan"), float("inf")
    spark.createDataFrame(
        [
            (1, "b text", "en", "s", 6),
            (1, "a text", "en", "s", 6),     # winner: min text
            (2, None, "en", "s", 0),          # winner: NULL text first
            (2, "z", "en", "s", 1),
            (3, "same", None, "s", 4),        # winner: NULL lang first
            (3, "same", "de", "s", 4),
        ],
        "doc_id long, text string, lang string, source string, n_chars long",
    ).write.mode("overwrite").parquet(f"{sf}/documents.parquet")
    spark.createDataFrame(
        [
            (1, [0.5, 0.5], 1),
            (1, [None, 0.5], 1),   # null element: engines disagree raw
            (2, None, 2),          # whole-NULL array first
            (2, [1.0, 2.0], 2),
            (3, [nan, 0.0], 3),    # NaN largest in both
            (3, [inf, 0.0], 3),
            (4, [-inf, 0.0], 4),   # real -Inf vs substituted NULL:
            (4, [None, 0.0], 4),   # the mask key disambiguates
        ],
        "vec_id long, embedding array<float>, label int",
    ).write.mode("overwrite").parquet(f"{sf}/embeddings.parquet")

    sd = {r["doc_id"]: (r["text"], r["lang"]) for r in canon_docs(spark, sf).collect()}
    sv = {
        r["vec_id"]: (None if r["embedding"] is None else tuple(r["embedding"]))
        for r in canon_vecs(spark, sf).collect()
    }
    con = duckdb.connect()
    for t in ("documents", "embeddings"):
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM "
            f"read_parquet('{sf}/{t}.parquet/*.parquet')"
        )
    dd = {
        r[0]: (r[1], r[2])
        for r in con.execute(
            SQL_CANON_DOCS.replace("main.documents", "documents")
        ).fetchall()
    }
    dv = {
        r[0]: (None if r[1] is None else tuple(r[1]))
        for r in con.execute(
            SQL_CANON_VECS.replace("main.embeddings", "embeddings")
        ).fetchall()
    }
    con.close()

    assert sd == dd == {1: ("a text", "en"), 2: (None, "en"), 3: ("same", None)}

    def veq(a, b):
        if (a is None) != (b is None):
            return False
        return a is None or all(
            (x is None) == (y is None)
            and (x is None or (math.isnan(x) and math.isnan(y)) or x == y)
            for x, y in zip(a, b)
        )

    assert set(sv) == set(dv) == {1, 2, 3, 4}
    for k in sv:
        assert veq(sv[k], dv[k]), (k, sv[k], dv[k])
    # and the specific hostile winners: null element < any value after
    # substitution? no — [None,0.5]→[-Inf,0.5] < [0.5,0.5]; NULL array
    # first; [NaN,..] vs [Inf,..] → Inf < NaN; [-Inf,0] vs [None,0] tie
    # on the substituted array, mask [F,F] < [T,F] → real -Inf wins
    assert veq(sv[1], (None, 0.5))
    assert sv[2] is None
    assert veq(sv[3], (inf, 0.0))
    assert veq(sv[4], (-inf, 0.0))


def test_canon_is_row_identity_on_unique_ids(spark, sf_dir):
    """On an id-unique corpus canonicalization must be a no-op (same
    row multiset) — the 100 TB claim that the window only ever drops
    genuinely duplicated ids."""
    from servicenow_cmdb_integration_to_aws_spark.llm.canon import canon_docs
    from servicenow_cmdb_integration_to_aws_spark.sources.tables import scan

    raw = scan(spark, sf_dir, "documents")
    assert canon_docs(spark, sf_dir).count() == raw.count()


def test_canon_cache_identity_and_regen_eviction(spark, tmp_path):
    """r11: canon_docs/canon_vecs serve ONE immutable canonical
    fragment per (session, sf_dir, table, content-stamp) — the scan()
    cache discipline one derivation up. Same stamp -> same OBJECT;
    in-place regen -> miss, rebuild over the new rows, stale stamp
    evicted."""
    from servicenow_cmdb_integration_to_aws_spark.llm.canon import canon_docs

    sf = str(tmp_path)

    def write(rows):
        spark.createDataFrame(
            rows,
            "doc_id long, text string, lang string, source string,"
            " n_chars long",
        ).coalesce(1).write.mode("overwrite").parquet(f"{sf}/documents.parquet")

    write([(1, "b", "en", "s", 1), (1, "a", "en", "s", 1)])
    d1 = canon_docs(spark, sf)
    assert canon_docs(spark, sf) is d1
    assert [r["text"] for r in d1.collect()] == ["a"]
    # in-place regen: new winner must be visible, old stamp evicted
    write([(1, "z", "en", "s", 1), (1, "c", "en", "s", 1)])
    d2 = canon_docs(spark, sf)
    assert d2 is not d1
    assert [r["text"] for r in d2.collect()] == ["c"]
    cache = spark._cmdb_scan_df_cache
    assert (
        len([k for k in cache if k[0] == sf and k[1] == "documents::canon"])
        == 1
    )


def test_fixpoint_reliable_checkpoint_identical_and_truncates(spark, tmp_path):
    """r11 verdict item 5: with FIXPOINT_CKPT_CONF set, every fixpoint
    round goes through reliable `checkpoint()` — output identical to
    the local-checkpoint default, checkpoint files actually written
    (durability), and lineage actually truncated (the returned plan no
    longer references the input join)."""
    import random

    from pyspark.sql import functions as F

    from servicenow_cmdb_integration_to_aws_spark.operators.fixpoint import (
        FIXPOINT_CKPT_CONF,
        cut_lineage,
    )
    from servicenow_cmdb_integration_to_aws_spark.operators.joins import (
        connected_components,
        transitive_closure,
    )

    rng = random.Random(12)
    n = 40
    edges = [(rng.randrange(n), rng.randrange(n)) for _ in range(60)]
    edf = spark.createDataFrame(edges, ["src", "dst"])
    ndf = spark.range(n).select(F.col("id").cast("long").alias("id"))
    pdf = edf.select(
        F.col("src").cast("string").alias("parent"),
        F.col("dst").cast("string").alias("child"),
    )

    def rows(df):
        return sorted(map(tuple, df.collect()))

    cc_local = rows(connected_components(edf, ndf))
    tc_local = rows(transitive_closure(pdf))
    ckdir = str(tmp_path / "reliable_ckpt")
    spark.conf.set(FIXPOINT_CKPT_CONF, ckdir)
    try:
        # lineage truncation: a checkpointed round's plan is a scan of
        # the checkpoint RDD, not the upstream join tree
        cut = cut_lineage(edf.join(ndf, edf["src"] == ndf["id"]))
        assert cut.rdd.is_checkpointed or "Scan ExistingRDD" in (
            cut._jdf.queryExecution().executedPlan().toString()
        )
        assert rows(connected_components(edf, ndf)) == cc_local
        assert rows(transitive_closure(pdf)) == tc_local
    finally:
        spark.conf.unset(FIXPOINT_CKPT_CONF)
    # durability: blocks were written under the reliable dir
    import os

    found = [
        os.path.join(r, f)
        for r, _, fs in os.walk(ckdir)
        for f in fs
    ]
    assert found, "reliable checkpoint wrote no files"


def test_fixpoint_ckpt_dir_pinned_once_per_conf(spark, tmp_path):
    """r12 advice (medium): Spark's setCheckpointDir stores
    `<dir>/<random-UUID>` (scheme-qualified), so comparing
    getCheckpointDir() against the raw conf value is always-true and
    re-invoked setCheckpointDir every cut_lineage call — a DFS mkdirs
    + a NEW UUID directory per fixpoint round. The fix caches the
    last-set raw value per application: N cut_lineage calls under one
    conf value must create exactly ONE UUID directory."""
    import os

    from pyspark.sql import functions as F

    from servicenow_cmdb_integration_to_aws_spark.operators.fixpoint import (
        FIXPOINT_CKPT_CONF,
        cut_lineage,
    )

    ckdir = str(tmp_path / "pin_once")
    df = spark.range(10).select(F.col("id"))
    spark.conf.set(FIXPOINT_CKPT_CONF, ckdir)
    try:
        for _ in range(3):
            assert cut_lineage(df).count() == 10
        uuid_dirs = os.listdir(ckdir)
        assert len(uuid_dirs) == 1, uuid_dirs  # one setCheckpointDir call
        # all three RDDs checkpointed into subdirs of the ONE uuid dir
        rdd_dirs = os.listdir(os.path.join(ckdir, uuid_dirs[0]))
        assert len(rdd_dirs) == 3, rdd_dirs
        # a FOREIGN setCheckpointDir (user/library code moving the
        # context's dir for its own checkpoints) must not silently
        # redirect fixpoint durability: the next cut re-pins under the
        # conf value (a second UUID dir appears THERE, nothing new
        # under the foreign dir from our cut)
        foreign = str(tmp_path / "foreign")
        spark.sparkContext.setCheckpointDir(foreign)
        n_foreign = len(os.listdir(foreign))
        assert cut_lineage(df).count() == 10
        assert len(os.listdir(ckdir)) == 2, os.listdir(ckdir)
        assert len(os.listdir(foreign)) == n_foreign  # nothing added
    finally:
        spark.conf.unset(FIXPOINT_CKPT_CONF)


def test_fixpoint_reliable_checkpoint_cross_session_restore(tmp_path):
    """r12 verdict item 4: a NEW SparkContext pointed at the same
    FIXPOINT_CKPT_CONF dir resumes a fixpoint's checkpointed state
    WITHOUT recomputing from source — proven by deleting the source
    parquet between the sessions (a lineage recompute would fail; the
    restore must not). Runs in a subprocess because it needs two
    fresh SparkContexts and must not disturb the shared fixture."""
    import subprocess
    import sys
    import textwrap

    script = tmp_path / "restore_probe.py"
    script.write_text(textwrap.dedent("""
        import glob, json, os, shutil, sys
        from pyspark.sql import SparkSession, functions as F

        from servicenow_cmdb_integration_to_aws_spark.operators.fixpoint import (
            FIXPOINT_CKPT_CONF, cut_lineage, restore_checkpoint,
        )

        work = sys.argv[1]
        ckdir = os.path.join(work, "reliable")
        src = os.path.join(work, "source_parquet")

        def build(name):
            return (SparkSession.builder.master("local[4]")
                    .appName(name)
                    .config("spark.sql.shuffle.partitions", "4")
                    .config("spark.ui.enabled", "false")
                    .getOrCreate())

        # session 1: one fixpoint-style round, reliably checkpointed
        spark = build("ckpt_writer")
        spark.range(1000).select(
            F.col("id"), (F.col("id") * 3 % 17).alias("g")
        ).write.mode("overwrite").parquet(src)
        df = (spark.read.parquet(src).groupBy("g")
              .agg(F.count(F.lit(1)).alias("n"), F.sum("id").alias("s")))
        spark.conf.set(FIXPOINT_CKPT_CONF, ckdir)
        ck = cut_lineage(df)
        rows1 = sorted(map(tuple, ck.collect()))
        record = {"schema": ck.schema.json()}
        rdd_dirs = glob.glob(os.path.join(ckdir, "*", "rdd-*"))
        assert len(rdd_dirs) == 1, rdd_dirs
        record["rdd_dir"] = rdd_dirs[0]
        spark.stop()

        # the source is GONE: restore cannot recompute from lineage
        shutil.rmtree(src)

        # session 2: brand-new SparkContext restores from files alone
        spark2 = build("ckpt_restorer")
        from pyspark.sql.types import StructType
        schema = StructType.fromJson(json.loads(record["schema"]))
        restored = restore_checkpoint(spark2, record["rdd_dir"], schema)
        rows2 = sorted(map(tuple, restored.collect()))
        assert rows2 == rows1, (rows1[:3], rows2[:3])
        # and it is a live DataFrame: further transforms plan and run
        assert restored.agg(F.sum("n")).collect()[0][0] == 1000
        spark2.stop()
        print("RESTORE_OK")
    """))
    import os

    repo_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    env = dict(os.environ)
    env["PYTHONPATH"] = repo_root + (
        ":" + env["PYTHONPATH"] if env.get("PYTHONPATH") else ""
    )
    out = subprocess.run(
        [sys.executable, str(script), str(tmp_path / "work")],
        cwd=repo_root,
        env=env,
        capture_output=True,
        text=True,
        timeout=300,
    )
    assert out.returncode == 0, out.stdout[-2000:] + out.stderr[-2000:]
    assert "RESTORE_OK" in out.stdout


def test_cc_probe_schedule_covers_final_budget_rounds():
    """r12 advice (low): the batched convergence probe must fire
    unconditionally in the last two budget rounds, so a graph
    converging at round max_iter-2 or max_iter-1 is still detected
    before the loop exhausts — the skip may never shrink the
    effective convergence budget."""
    from servicenow_cmdb_integration_to_aws_spark.operators.joins import (
        _probe_this_round,
    )

    for max_iter in range(1, 61):
        probed = {r for r in range(max_iter) if _probe_this_round(r, max_iter)}
        # the final two rounds always probe (detection before exhaustion)
        assert max_iter - 1 in probed
        if max_iter >= 2:
            assert max_iter - 2 in probed
        # warm-up rounds and odd rounds probe (the r11 schedule)
        assert {r for r in range(min(3, max_iter))} <= probed
        assert {r for r in range(max_iter) if r % 2 == 1} <= probed
        # any skipped round is even, late, and followed by a probe
        for r in set(range(max_iter)) - probed:
            assert r >= 3 and r % 2 == 0 and (r + 1) in probed


def test_connected_components_batched_probe_same_result(spark):
    """r11 verdict item 6: the every-2nd-round convergence probe must
    not change results — pin CC on a long path graph (many rounds, the
    shape where late probes are actually skipped) against union-find."""
    from pyspark.sql import functions as F

    from servicenow_cmdb_integration_to_aws_spark.operators.joins import (
        connected_components,
    )

    n = 200  # path 0-1-...-199 plus a few isolated nodes
    edges = [(i, i + 1) for i in range(n - 1)]
    edf = spark.createDataFrame(edges, ["src", "dst"])
    ndf = spark.range(n + 5).select(F.col("id").cast("long").alias("id"))
    got = {
        r["id"]: r["component"] for r in connected_components(edf, ndf).collect()
    }
    want = {i: 0 for i in range(n)}
    want.update({i: i for i in range(n, n + 5)})
    assert got == want


def test_consistent_read_equals_single_fold_any_split(spark):
    """i21 property: for ANY partition of the rows into batches and ANY
    straddle point (stores compacted to different prefixes), the
    equal-horizon read of every store equals the single-shot fold over
    the horizon prefix — latest-per-key is associative, so batching
    and lag must be unobservable. Deterministic seeds; 4 scenarios
    with distinct (n_batches, lag) shapes."""
    import datetime
    import os
    import random
    import tempfile

    from servicenow_cmdb_integration_to_aws_spark.streaming.compaction import (
        SnapshotStore,
        consistent_read,
    )

    for seed, n_batches in [(1, 2), (2, 3), (3, 4), (4, 3)]:
        rng = random.Random(seed)
        rows = [
            (eid, rng.randrange(6), rng.randrange(8))
            for eid in range(24)
        ]
        assign = [rng.randrange(n_batches) for _ in rows]
        lag = rng.randrange(n_batches - 1)  # B compacts through `lag`

        def mkstore():
            log = tempfile.mkdtemp(prefix="i21p_log_")
            st = SnapshotStore(
                tempfile.mkdtemp(prefix="i21p_snap_"),
                key="user_id",
                order=["ts", "event_id"],
            )
            return st, log

        def write(log, bid, subset):
            spark.createDataFrame(
                [
                    (e, u, datetime.datetime(2024, 1, 1, 12, 0, 0)
                     + datetime.timedelta(hours=d))
                    for (e, u, d) in subset
                ],
                "event_id long, user_id long, ts timestamp",
            ).write.parquet(os.path.join(log, f"batch_id={bid}"))

        store_a, log_a = mkstore()
        store_b, log_b = mkstore()
        for bid in range(n_batches):
            subset = [r for r, a in zip(rows, assign) if a == bid] or [
                (100 + bid, 0, 0)
            ]  # keep every batch non-empty
            write(log_a, bid, subset)
            write(log_b, bid, subset)
            store_a.compact(spark, log_a)  # A compacts after EVERY batch
            if bid <= lag:
                store_b.compact(spark, log_b)  # B stops at `lag`
        assert store_a._meta()["compacted_through"] == n_batches - 1
        assert store_b._meta()["compacted_through"] == lag
        h, (da, db) = consistent_read(
            spark, [(store_a, log_a), (store_b, log_b)]
        )
        assert h == n_batches - 1
        got_a = sorted(map(tuple, da.collect()))
        got_b = sorted(map(tuple, db.collect()))
        # single-shot fold over the whole horizon prefix (= everything)
        want_store, want_log = mkstore()
        for bid in range(n_batches):
            subset = [r for r, a in zip(rows, assign) if a == bid] or [
                (100 + bid, 0, 0)
            ]
            write(want_log, bid, subset)
        want_store.compact(spark, want_log)
        want = sorted(map(tuple, want_store.read(spark).collect()))
        assert got_a == want and got_b == want, (seed, n_batches, lag)


def test_fixpoint_ckpt_pin_rejects_sibling_prefix_dir(spark, tmp_path):
    """r13 ADVICE (low): the checkpoint-dir pin check used substring
    containment (`ckdir in cur`), so foreign code redirecting the
    context to a SIBLING whose name extends the configured dir
    ('/data/ck' vs '/data/ck-other') still passed the check and
    fixpoint checkpoints silently landed outside the configured
    durable dir. The check must compare path components: the next cut
    after such a redirect re-pins under the conf value and writes
    nothing new to the sibling."""
    import os

    from pyspark.sql import functions as F

    from servicenow_cmdb_integration_to_aws_spark.operators.fixpoint import (
        FIXPOINT_CKPT_CONF,
        _is_under,
        cut_lineage,
    )

    # unit surface: boundary semantics incl. scheme-qualified URIs
    assert _is_under("file:/data/ck/uuid-1", "/data/ck")
    assert _is_under("/data/ck/uuid-1", "/data/ck")
    assert _is_under("hdfs://nn:8020/ck/u", "hdfs://nn:8020/ck")
    assert not _is_under("file:/data/ck-other/uuid-1", "/data/ck")
    assert not _is_under("/data/ck-other/uuid-1", "/data/ck")
    assert not _is_under("file:/data/deck/uuid-1", "/data/ck")

    ckdir = str(tmp_path / "ck")
    sibling = str(tmp_path / "ck-other")  # contains ckdir as substring
    df = spark.range(10).select(F.col("id"))
    spark.conf.set(FIXPOINT_CKPT_CONF, ckdir)
    try:
        assert cut_lineage(df).count() == 10
        assert len(os.listdir(ckdir)) == 1
        spark.sparkContext.setCheckpointDir(sibling)
        n_sib = len(os.listdir(sibling))
        assert cut_lineage(df).count() == 10
        # re-pinned under the conf value: a second UUID dir THERE,
        # nothing added to the sibling by our cut
        assert len(os.listdir(ckdir)) == 2, os.listdir(ckdir)
        assert len(os.listdir(sibling)) == n_sib
    finally:
        spark.conf.unset(FIXPOINT_CKPT_CONF)


def test_hostile_ansi_off_is_restored_by_tune(spark, sf_dir):
    """r14: the engine's arithmetic/cast/overflow semantics are
    verified under ANSI mode (Spark 4 default) — a caller's session
    with ANSI off would silently run unverified semantics (overflow
    wraps, bad casts null instead of failing). The query wrapper's
    tune() must pin ansi=true exactly like the timezone. h6_cast and
    h16_try_functions are the ids whose outputs most directly encode
    the cast/try contract."""
    q = entrymod.queries()
    for qid in ("h6_cast", "h16_try_functions"):
        baseline = sorted(map(tuple, q[qid](spark, sf_dir).collect()))
        spark.conf.set("spark.sql.ansi.enabled", "false")
        try:
            hostile = sorted(map(tuple, q[qid](spark, sf_dir).collect()))
            # the wrapper re-pinned it before planning the query
            assert spark.conf.get("spark.sql.ansi.enabled") == "true"
        finally:
            spark.conf.set("spark.sql.ansi.enabled", "true")
        assert hostile == baseline, qid


def test_worker_rereads_zip_directory_only_when_archive_changes(spark, tmp_path):
    """Each Python task starts with importlib.invalidate_caches(), which on
    CPython 3.11 re-parses every zip on the worker path (~0.2 s a task).
    The engine's worker daemon keeps a zip's cached directory until the
    archive changes; a changed archive is still re-read and re-imported."""
    zpath = str(tmp_path / "zmod_probe.zip")

    def probe(batches):
        import importlib
        import os
        import sys
        import zipfile
        import zipimport

        import pandas as pd

        for _ in batches:
            pass

        def write(value):
            with zipfile.ZipFile(zpath + ".tmp", "w") as z:
                z.writestr("zmod_probe.py", f"VALUE = {value}\n")
            os.replace(zpath + ".tmp", zpath)

        write(1)
        sys.path.insert(0, zpath)
        read = zipimport._read_directory
        reads = []
        try:
            first = importlib.import_module("zmod_probe").VALUE
            zipimport._read_directory = lambda a: reads.append(a) or read(a)
            for _ in range(3):
                importlib.invalidate_caches()
            steady = len(reads)
            write(22)
            importlib.invalidate_caches()
            changed = reads[steady:]
            sys.modules.pop("zmod_probe")
            fresh = importlib.import_module("zmod_probe").VALUE
        finally:
            zipimport._read_directory = read
            sys.path.remove(zpath)
            sys.path_importer_cache.pop(zpath, None)
            sys.modules.pop("zmod_probe", None)
        yield pd.DataFrame(
            {"first": [first], "steady": [steady], "changed": [",".join(changed)], "fresh": [fresh]}
        )

    row = (
        spark.range(1, numPartitions=1)
        .mapInPandas(probe, "first long, steady long, changed string, fresh long")
        .collect()[0]
    )
    assert row["first"] == 1
    assert row["steady"] == 0
    assert row["changed"] == zpath
    assert row["fresh"] == 22
    conf = spark.sparkContext.getConf()
    assert conf.get("spark.python.daemon.module") == (
        "servicenow_cmdb_integration_to_aws_spark.worker_daemon"
    )
