"""Streaming determinism tests (SURVEY §5.4).

Pins the semantics the rows-only streaming ids (i4–i7) rely on:
- sealed-window emission matches the batch-equivalent aggregate;
- a row arriving behind the watermark in a LATER micro-batch is
  dropped (the crafted out-of-order fixture the i4 docstring cites);
- pandas state accumulates across micro-batches (i7 machinery).

Micro-batch boundaries are forced with maxFilesPerTrigger=1 over a
two-file staged source — file 1 advances the watermark, file 2 carries
the late row.
"""

from __future__ import annotations

import os
import tempfile

from pyspark.sql import functions as F

import __spark_entry__ as entrymod


def _write_events(spark, rows, path):
    """Write events rows (ts given in seconds) as ONE parquet file (the
    FileStreamSource layout: plain files in a dir, not writer dirs),
    with the ns-long ts layout the stream source expects."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    ids = list(range(len(rows)))
    table = pa.table(
        {
            "event_id": pa.array(ids, pa.int64()),
            "ts": pa.array([int(ts * 1e9) for ts, _, _ in rows], pa.int64()),
            "user_id": pa.array([uid for _, uid, _ in rows], pa.int64()),
            "event_type": pa.array(["t"] * len(rows), pa.string()),
            "value": pa.array([v for _, _, v in rows], pa.float64()),
            "props": pa.array(["{}"] * len(rows), pa.string()),
        }
    )
    pq.write_table(table, path)


def _read_stream(spark, src_dir):
    raw = (
        spark.readStream.schema(
            "event_id long, ts long, user_id long, event_type string, "
            "value double, props string"
        )
        .option("maxFilesPerTrigger", "1")
        .format("parquet")
        .load(src_dir)
    )
    return raw.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))


def _run(sdf, mode):
    name = f"t_{abs(hash(sdf)) % 10**9}"
    q = (
        sdf.writeStream.format("memory")
        .queryName(name)
        .outputMode(mode)
        .option("checkpointLocation", tempfile.mkdtemp(prefix="ckpt_t_"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return sdf.sparkSession.table(name)


HOUR = 3600.0


def test_late_row_dropped_after_watermark(spark):
    """A row older than (max event time − watermark) arriving in a later
    micro-batch must NOT be counted in its (already finalized) window."""
    import time

    src = tempfile.mkdtemp(prefix="late_src_")
    # batch 1: two rows in hour-0, then hour-3 rows pushing the
    # watermark (10 min) far past hour 0. (Files become separate
    # micro-batches via maxFilesPerTrigger=1 + distinct mtimes; the
    # watermark computed from batch N takes effect in batch N+1, so the
    # late row goes in a THIRD file.)
    _write_events(
        spark,
        [(10.0, 1, 1.0), (20.0, 1, 1.0), (3 * HOUR + 10, 2, 1.0)],
        os.path.join(src, "f1.parquet"),
    )
    time.sleep(1.1)
    # batch 2: another hour-3 row; watermark 02:50:10 is now in force
    _write_events(spark, [(3 * HOUR + 20, 2, 1.0)], os.path.join(src, "f2.parquet"))
    time.sleep(1.1)
    # batch 3: a late hour-0 row — behind the watermark, must drop.
    _write_events(spark, [(30.0, 1, 99.0)], os.path.join(src, "f3.parquet"))

    s = _read_stream(spark, src)
    agg = (
        s.withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "1 hour").alias("w"))
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.col("w.start").alias("ws"), "n")
    )
    out = {r["ws"].minute * 60 + r["ws"].hour * 3600: r["n"] for r in _run(agg, "append").collect()}
    # hour-0 window sealed with ONLY the two batch-1 rows
    assert out.get(0) == 2, out
    # the unsealed hour-3 window is not emitted in append mode
    assert 3 * 3600 not in out, out


def test_sealed_windows_match_batch_equivalent(spark, sf_dir):
    """i4 over the real corpus: every EMITTED (sealed) window's count
    equals the batch groupBy(hour) count for that hour."""
    q = entrymod.queries()
    streamed = {
        (r["wstart"], r["wend"]): r["n_events"]
        for r in q["i4_watermark_late"](spark, sf_dir).collect()
    }
    assert streamed, "no sealed windows emitted"
    batch = {
        (r["wstart"], r["wend"]): r["n_events"]
        for r in q["i1_tumbling"](spark, sf_dir).collect()
    }
    for k, n in streamed.items():
        assert batch.get(k) == n, (k, n, batch.get(k))


def test_pandas_state_accumulates_across_batches(spark):
    """i7 machinery: the same user seen in two micro-batches must show
    the SUM of both batches in the final state emission."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    src = tempfile.mkdtemp(prefix="state_src_")
    _write_events(spark, [(1.0, 7, 10.0), (2.0, 7, 5.0)], os.path.join(src, "f1.parquet"))
    _write_events(spark, [(3.0, 7, 1.0)], os.path.join(src, "f2.parquet"))

    def update(key, pdf_iter, state: GroupState):
        n, total = state.get if state.exists else (0, 0.0)
        for pdf in pdf_iter:
            n += len(pdf)
            total += float(pdf["value"].sum())
        state.update((n, total))
        yield pd.DataFrame({"user_id": [key[0]], "n": [n], "total": [total]})

    s = _read_stream(spark, src).select("user_id", "value")
    out = s.groupBy("user_id").applyInPandasWithState(
        update,
        outputStructType="user_id long, n long, total double",
        stateStructType="n bigint, total double",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    rows = _run(out, "update").collect()
    # update mode emits once per batch; the LAST emission carries the
    # accumulated state
    final = max((r["n"], r["total"]) for r in rows)
    assert final == (3, 16.0), rows


def test_stream_stream_join_matches_batch(spark, sf_dir):
    """i10: with availableNow over the static corpus, the stream-stream
    interval join must equal the identical batch join (nothing is late
    in a single-batch replay)."""
    from servicenow_cmdb_integration_to_aws_spark.sources.tables import scan

    q = entrymod.queries()
    streamed = sorted(
        (r["purchase_id"], r["click_id"])
        for r in q["i10_stream_stream_join"](spark, sf_dir).collect()
    )
    ev = scan(spark, sf_dir, "events")
    p = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"),
        F.col("user_id").alias("p_user"),
        F.col("ts").alias("p_ts"),
    )
    c = ev.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("click_id"),
        F.col("user_id").alias("c_user"),
        F.col("ts").alias("c_ts"),
    )
    batch = sorted(
        (r["purchase_id"], r["click_id"])
        for r in p.join(
            c,
            F.expr(
                "p_user = c_user AND c_ts >= p_ts - INTERVAL 1 HOUR"
                " AND c_ts <= p_ts"
            ),
        ).collect()
    )
    assert streamed == batch and len(streamed) > 0


def test_stream_outer_join_matches_batch_modulo_watermark(spark, sf_dir):
    """i13: matched rows equal the batch left join exactly; null rows
    are the batch's unmatched purchases except those the final
    watermark still holds open (tail of the stream)."""
    from servicenow_cmdb_integration_to_aws_spark.sources.tables import scan

    q = entrymod.queries()
    out = q["i13_stream_outer_join"](spark, sf_dir).collect()
    got_matched = sorted(
        (r["purchase_id"], r["click_id"]) for r in out if r["click_id"] is not None
    )
    got_nulls = {r["purchase_id"] for r in out if r["click_id"] is None}

    ev = scan(spark, sf_dir, "events")
    p = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"),
        F.col("user_id").alias("p_user"),
        F.col("ts").alias("p_ts"),
    )
    c = ev.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("click_id"),
        F.col("user_id").alias("c_user"),
        F.col("ts").alias("c_ts"),
    )
    batch = p.join(
        c,
        F.expr(
            "p_user = c_user AND c_ts >= p_ts - INTERVAL 1 HOUR AND c_ts <= p_ts"
        ),
        "left",
    ).collect()
    want_matched = sorted(
        (r["purchase_id"], r["click_id"]) for r in batch if r["click_id"] is not None
    )
    assert got_matched == want_matched and len(got_matched) > 0

    want_nulls = {r["purchase_id"]: r["p_ts"] for r in batch if r["click_id"] is None}
    assert got_nulls <= set(want_nulls)
    # anything older than (max click ts - watermark 2h - interval 1h)
    # is provably unmatched and MUST have been emitted
    max_cts = max(r["c_ts"] for r in batch if r["c_ts"] is not None)
    import datetime

    horizon = max_cts - datetime.timedelta(hours=3)
    must_emit = {pid for pid, ts in want_nulls.items() if ts < horizon}
    assert must_emit <= got_nulls, sorted(must_emit - got_nulls)[:5]


def test_snapshot_compact_equals_merge_on_read(spark, sf_dir):
    """a15: the compacted snapshot must equal pure merge-on-read over
    the full log (latest-per-key is associative), and a second
    compaction generation must fold the base, not replay history."""
    import os
    import tempfile

    from pyspark.sql import functions as F

    from servicenow_cmdb_integration_to_aws_spark.sources.tables import scan
    from servicenow_cmdb_integration_to_aws_spark.streaming.compaction import (
        SnapshotStore,
    )

    cols = ["event_id", "user_id", "ts", "event_type", "value"]
    e = scan(spark, sf_dir, "events").select(*cols)
    log_dir = tempfile.mkdtemp(prefix="a15t_log_")
    store = SnapshotStore(
        tempfile.mkdtemp(prefix="a15t_snap_"),
        key="user_id",
        order=["ts", "event_id"],
    )
    e.filter(F.col("event_id") % 2 == 0).write.parquet(
        os.path.join(log_dir, "batch_id=0")
    )
    assert store.compact(spark, log_dir) == 1
    e.filter(F.col("event_id") % 2 == 1).write.parquet(
        os.path.join(log_dir, "batch_id=1")
    )
    # merge-on-read BEFORE the second compaction: v1 base + log tail
    mor = sorted(map(tuple, store.read(spark, log_dir).select(*cols).collect()))
    assert store.compact(spark, log_dir) == 2
    compacted = sorted(map(tuple, store.read(spark).select(*cols).collect()))
    expected = sorted(
        map(tuple, store._latest_per_key(e).select(*cols).collect())
    )
    assert compacted == expected
    assert mor == expected


def _mini_store(spark):
    """(store, log_dir, writer): a tiny user-keyed snapshot store and
    a helper that writes one batch of (event_id, user_id, ts) rows."""
    import datetime
    import os
    import tempfile

    from servicenow_cmdb_integration_to_aws_spark.streaming.compaction import (
        SnapshotStore,
    )

    log_dir = tempfile.mkdtemp(prefix="acid_log_")
    store = SnapshotStore(
        tempfile.mkdtemp(prefix="acid_snap_"),
        key="user_id",
        order=["ts", "event_id"],
    )

    def write_batch(bid, rows):
        spark.createDataFrame(
            [
                (e, u, datetime.datetime(2024, 1, 1 + d, 12, 0, 0))
                for (e, u, d) in rows
            ],
            "event_id long, user_id long, ts timestamp",
        ).write.parquet(os.path.join(log_dir, f"batch_id={bid}"))

    return store, log_dir, write_batch


def test_snapshot_concurrent_compactors_serialize(spark):
    """ACID commit-conflict contract (r7 verdict item 6): two
    compactors racing one table version must serialize — the flock
    makes one fold both batches into v1 and the other observe
    compacted_through and no-op — never two divergent v1 commits, one
    of which would vanish (lost update)."""
    import threading

    store, log_dir, write_batch = _mini_store(spark)
    write_batch(0, [(10, 1, 0), (20, 2, 0)])
    write_batch(1, [(11, 1, 1), (30, 3, 0)])

    barrier = threading.Barrier(2)
    results, errors = [], []

    def racer():
        try:
            barrier.wait(timeout=30)
            results.append(store.compact(spark, log_dir))
        except Exception as e:  # surfaced below; a swallowed raise
            errors.append(e)   # would fake a green race

    ts = [threading.Thread(target=racer) for _ in range(2)]
    for t in ts:
        t.start()
    for t in ts:
        t.join(timeout=120)
    assert not errors
    # both observe the SAME committed version; exactly one advanced it
    assert results == [1, 1]
    meta = store._meta()
    assert meta["version"] == 1 and meta["compacted_through"] == 1
    state = {
        r["user_id"]: r["event_id"] for r in store.read(spark).collect()
    }
    assert state == {1: 11, 2: 20, 3: 30}  # no update lost


def test_snapshot_crashed_compactor_recovery(spark):
    """A compactor that died mid-flight must not poison the store:
    (a) a crashed flock HOLDER releases the lock with its process (fd
    close semantics — simulated by acquiring and closing), so the next
    compactor proceeds; (b) an ORPHAN version directory written before
    the crash but never committed to _LATEST is invisible to readers
    and is overwritten by the next successful compaction."""
    import os

    store, log_dir, write_batch = _mini_store(spark)
    write_batch(0, [(10, 1, 0), (20, 2, 0)])

    # (a) crashed holder: lock taken, process dies (fd closes)
    lf = open(os.path.join(store.root, "_LOCK"), "w")
    import fcntl

    fcntl.flock(lf, fcntl.LOCK_EX)
    lf.close()  # crash: OS releases the flock

    # (b) orphan v=1 from a compactor that died before _commit()
    spark.createDataFrame(
        [(999, 999, None)],
        "event_id long, user_id long, ts timestamp",
    ).write.parquet(os.path.join(store.root, "v=1"))
    assert store._meta()["version"] == 0  # reader-invisible

    assert store.compact(spark, log_dir) == 1
    state = {
        r["user_id"]: r["event_id"] for r in store.read(spark).collect()
    }
    assert state == {1: 10, 2: 20}  # orphan rows gone, log rows in


def test_snapshot_reader_pinned_mid_compaction(spark):
    """Snapshot isolation: a reader that resolved _LATEST before a
    compaction keeps reading its pinned version unchanged (immutable
    dirs, zero read locks); a reader arriving after sees the new
    version. Version numbers only ever advance."""
    store, log_dir, write_batch = _mini_store(spark)
    write_batch(0, [(10, 1, 0), (20, 2, 0)])
    assert store.compact(spark, log_dir) == 1

    pinned = store.read(spark)  # resolves _LATEST → v1 at plan time
    write_batch(1, [(11, 1, 1), (30, 3, 0)])
    assert store.compact(spark, log_dir) == 2  # monotone bump

    old = {r["user_id"]: r["event_id"] for r in pinned.collect()}
    assert old == {1: 10, 2: 20}  # mid-compaction reader unaffected
    new = {r["user_id"]: r["event_id"] for r in store.read(spark).collect()}
    assert new == {1: 11, 2: 20, 3: 30}
    assert store._meta()["version"] == 2


def test_stream_quality_gate_matches_batch(spark, sf_dir):
    """i14: the streaming gate admits exactly the docs the batch
    classifier (j28) keeps — same ids, same scores (shared expression
    list makes divergence structurally impossible; this pins it)."""
    import __spark_entry__ as entrymod

    q = entrymod.queries()
    batch = {
        r["doc_id"]: r["score"]
        for r in q["j28_quality_classifier"](spark, sf_dir).collect()
        if r["keep"]
    }
    stream = {
        r["doc_id"]: r["score"]
        for r in q["i14_stream_quality_gate"](spark, sf_dir).collect()
    }
    assert stream == batch and len(stream) > 0


def test_change_feed_classifies_and_catches_same_ts_updates(spark, sf_dir):
    """a16: changes(v1, v2) classifies insert/update and — the edge a
    coalesce-based inequality would silently drop — reports a key
    whose new latest row has the SAME ts but a different event_id.
    Unchanged keys never appear in the feed."""
    import datetime
    import os
    import tempfile

    from servicenow_cmdb_integration_to_aws_spark.streaming.compaction import (
        SnapshotStore,
    )

    t1 = datetime.datetime(2024, 1, 1, 12, 0, 0)
    t2 = datetime.datetime(2024, 1, 2, 12, 0, 0)
    log_dir = tempfile.mkdtemp(prefix="a16t_log_")
    store = SnapshotStore(
        tempfile.mkdtemp(prefix="a16t_snap_"),
        key="user_id",
        order=["ts", "event_id"],
    )
    b0 = spark.createDataFrame(
        [(10, 1, t1), (20, 2, t1), (40, 4, t1)],
        "event_id long, user_id long, ts timestamp",
    )
    b0.write.parquet(os.path.join(log_dir, "batch_id=0"))
    assert store.compact(spark, log_dir) == 1
    b1 = spark.createDataFrame(
        [(11, 1, t2), (21, 2, t1), (30, 3, t1)],
        "event_id long, user_id long, ts timestamp",
    )
    b1.write.parquet(os.path.join(log_dir, "batch_id=1"))
    assert store.compact(spark, log_dir) == 2
    feed = {
        r["user_id"]: r.asDict()
        for r in store.changes(spark, 1, 2).collect()
    }
    assert set(feed) == {1, 2, 3}  # user 4 unchanged → absent
    assert feed[1]["change_op"] == "update"
    assert feed[1]["new_event_id"] == 11
    # user 2: same ts, higher event_id wins → must surface as update
    assert feed[2]["change_op"] == "update"
    assert (feed[2]["old_event_id"], feed[2]["new_event_id"]) == (20, 21)
    assert feed[2]["old_ts"] == feed[2]["new_ts"]
    assert feed[3]["change_op"] == "insert"
    assert feed[3]["old_event_id"] is None


def test_file_sink_checkpoint_resume_exactly_once(spark):
    """i17's exactly-once contract, demonstrated across a RESTART:
    run the stream to completion, land a second source file, re-run
    with the SAME checkpoint — the sink must contain batch-1 rows
    exactly once plus the new rows (a fresh checkpoint would re-land
    everything; no checkpoint honor = duplicates)."""
    import glob
    import os
    import shutil
    import tempfile

    from pyspark.sql import functions as F

    src = tempfile.mkdtemp(prefix="resume_src_")
    sink = tempfile.mkdtemp(prefix="resume_sink_")
    ckpt = tempfile.mkdtemp(prefix="resume_ckpt_")

    def land(lo, hi, name):
        tmp = tempfile.mkdtemp(prefix="resume_stage_")
        spark.range(lo, hi).select(
            F.col("id"), (F.col("id") * 2).alias("v")
        ).coalesce(1).write.mode("overwrite").parquet(tmp)
        part = glob.glob(tmp + "/part-*.parquet")[0]
        shutil.copy(part, os.path.join(src, name + ".parquet"))

    def run_once():
        s = (
            spark.readStream.schema("id long, v long")
            .format("parquet")
            .load(src)
        )
        q = (
            s.writeStream.format("parquet")
            .option("path", sink)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    land(0, 100, "batch1")
    run_once()
    assert spark.read.parquet(sink).count() == 100

    land(100, 150, "batch2")
    run_once()
    got = spark.read.parquet(sink)
    assert got.count() == 150  # batch1 NOT re-landed
    assert got.select(F.count_distinct("id")).collect()[0][0] == 150


def test_stream_outer_join_eviction_boundary_pinned(spark):
    """i13's SQL oracle encodes an engine-version-specific eviction
    boundary: the close-out batch null-emits exactly the unmatched
    purchases with ``p_ts < min(max p_ts, max c_ts) - 2h`` (STRICT).
    Pin that assumption on a synthetic fixture with purchases just
    below / exactly at / just above the boundary, so a Spark upgrade
    that moves the close-out eviction rule fails HERE with context
    instead of as a spurious parity FAIL on i13 (probe-verified on
    pyspark 4.1.2; see the i13 docstring before touching the oracle)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    q = entrymod.queries()
    src = tempfile.mkdtemp(prefix="i13_boundary_")
    rows = [
        # (event_id, ts_hours, user_id, event_type)
        (200, 5.5, 5, "click"),      # matches purchase 100
        (100, 6.0, 5, "purchase"),   # matched pair
        (201, 10.0, 99, "click"),    # max c_ts = 10h
        (101, 12.0, 98, "purchase"), # max p_ts = 12h; unmatched, in horizon
        # wm = min(12h, 10h) - 2h = 8h; boundary is STRICT p_ts < wm
        (102, 8.0 - 1 / 3600, 1, "purchase"),  # below wm -> null row MUST emit
        (103, 8.0, 2, "purchase"),             # exactly wm -> withheld
        (104, 8.0 + 1 / 3600, 3, "purchase"),  # above wm -> withheld
    ]
    table = pa.table(
        {
            "event_id": pa.array([r[0] for r in rows], pa.int64()),
            "ts": pa.array([int(r[1] * 3600 * 1e9) for r in rows], pa.int64()),
            "user_id": pa.array([r[2] for r in rows], pa.int64()),
            "event_type": pa.array([r[3] for r in rows], pa.string()),
            "value": pa.array([1.0] * len(rows), pa.float64()),
            "props": pa.array(["{}"] * len(rows), pa.string()),
        }
    )
    pq.write_table(table, os.path.join(src, "events.parquet"))

    out = q["i13_stream_outer_join"](spark, src).collect()
    matched = sorted(
        (r["purchase_id"], r["click_id"]) for r in out if r["click_id"] is not None
    )
    nulls = sorted(r["purchase_id"] for r in out if r["click_id"] is None)
    assert matched == [(100, 200)], matched
    assert nulls == [102], nulls


# ---------------------------------------------------------------------------
# r9 kill-at-every-step fault injection (VERDICT r8 punch-list item 5):
# the commit protocols (a20 2PC, a15 snapshot commit, i11/i17 idempotent
# batch writes) were crash-TESTED only at chosen points before; these
# parametrize a crash at EVERY step and assert exactly-once read-back.

import pytest  # noqa: E402

_UPSERT_SCHEMA = "o_orderkey long, o_orderstatus string, o_totalprice double"


def _upsert_rows(spark):
    return spark.createDataFrame(
        [(i, "O", float(i) * 1.5) for i in range(1, 41)], _UPSERT_SCHEMA
    ).repartition(4)


@pytest.mark.parametrize(
    "point,nth",
    [
        ("commit_start", 1),   # all tasks staged, nothing renamed
        ("after_rename", 2),   # partial commit: 2 of 4 files moved
        ("before_manifest", 1),  # all moved, commit record absent
        ("after_manifest", 1),   # durable; failure AFTER the commit
    ],
)
def test_upsert_sink_crash_at_every_commit_step(spark, point, nth):
    """a20 2PC: crash the driver commit at each step, then retry the
    whole job. Invariants: (1) a reader that honors the manifest sees
    either NOTHING or the COMPLETE dataset — never a partial commit;
    (2) after the retry the reader sees exactly one copy (orphans from
    the crashed attempt are never listed)."""
    import tempfile as _tf

    from servicenow_cmdb_integration_to_aws_spark.sources.python_source import (
        read_committed,
        register_sink,
    )

    register_sink(spark)
    out = _tf.mkdtemp(prefix=f"a20_crash_{point}_")
    df = _upsert_rows(spark)
    expected = sorted(map(tuple, df.collect()))

    with pytest.raises(Exception, match="injected crash"):
        (
            df.write.format("cmdb_upsert")
            .option("path", out)
            .option("crash_at", point)
            .option("crash_nth", str(nth))
            .mode("append")
            .save()
        )

    mid = sorted(map(tuple, read_committed(spark, out, _UPSERT_SCHEMA).collect()))
    if point == "after_manifest":
        assert mid == expected  # commit record out -> write is durable
    else:
        assert mid == []  # no commit record -> reader sees nothing

    # recovery: the retry must land exactly one copy, crashed-attempt
    # orphans in committed/ stay invisible (not in the new manifest)
    df.write.format("cmdb_upsert").option("path", out).mode("append").save()
    got = sorted(map(tuple, read_committed(spark, out, _UPSERT_SCHEMA).collect()))
    assert got == expected


@pytest.mark.parametrize(
    "point", ["after_fold_write", "before_latest_replace", "after_latest_replace"]
)
def test_snapshot_compactor_crash_at_every_step(spark, point):
    """a15: crash the compactor at each commit step. Readers must see
    the pre-crash version until the _LATEST replace lands (atomicity);
    a retried compaction converges to the same state a crash-free run
    produces (exactly-once), and version numbers never skip."""
    store, log_dir, write_batch = _mini_store(spark)
    write_batch(0, [(10, 1, 0), (20, 2, 0)])
    assert store.compact(spark, log_dir) == 1
    before = {r["user_id"]: r["event_id"] for r in store.read(spark).collect()}
    assert before == {1: 10, 2: 20}

    write_batch(1, [(11, 1, 1), (30, 3, 0)])

    def boom(p):
        if p == point:
            raise RuntimeError(f"injected crash at {p}")

    store._fault = boom
    try:
        with pytest.raises(RuntimeError, match="injected crash"):
            store.compact(spark, log_dir)
    finally:
        store._fault = None

    durable = point == "after_latest_replace"
    meta = store._meta()
    assert meta["version"] == (2 if durable else 1)
    state = {r["user_id"]: r["event_id"] for r in store.read(spark).collect()}
    assert state == ({1: 11, 2: 20, 3: 30} if durable else before)

    # recovery: the next compactor folds batch 1 exactly once (or
    # no-ops if the crashed run already committed) — same final state
    assert store.compact(spark, log_dir) == 2
    state = {r["user_id"]: r["event_id"] for r in store.read(spark).collect()}
    assert state == {1: 11, 2: 20, 3: 30}
    assert store._meta()["compacted_through"] == 1
    assert not [p for p in os.listdir(store.root) if p.endswith(".tmp")]


def test_foreach_batch_retry_idempotent(spark):
    """i11's idempotence hook: a retried micro-batch re-runs with the
    SAME batch_id and must overwrite itself, not double-deliver —
    including when the first attempt died mid-write and left a partial
    batch directory behind."""
    import datetime
    import shutil

    log_dir = tempfile.mkdtemp(prefix="i11_retry_")

    def batch_df(rows):
        return spark.createDataFrame(
            [
                (e, u, datetime.datetime(2024, 1, 1 + d, 12, 0, 0))
                for (e, u, d) in rows
            ],
            "event_id long, user_id long, ts timestamp",
        )

    def apply_batch(df, bid):  # the i11 sink contract
        df.write.mode("overwrite").parquet(
            os.path.join(log_dir, f"batch_id={bid}")
        )

    # attempt 1 of batch 0 dies mid-write: partial junk in the dir
    bdir = os.path.join(log_dir, "batch_id=0")
    batch_df([(999, 9, 0)]).write.parquet(bdir)  # stale partial attempt
    shutil.rmtree(os.path.join(bdir, "_SUCCESS"), ignore_errors=True)

    # retry of batch 0 (same batch_id) + batch 1
    apply_batch(batch_df([(10, 1, 0), (20, 2, 0)]), 0)
    apply_batch(batch_df([(11, 1, 1)]), 1)
    # a second redelivery of batch 1 (checkpoint not yet advanced)
    apply_batch(batch_df([(11, 1, 1)]), 1)

    log = spark.read.parquet(log_dir)
    assert log.count() == 3  # no duplicates, no rows from the dead attempt
    assert log.filter(F.col("event_id") == 999).count() == 0
    latest = {
        r["user_id"]: r["event_id"]
        for r in log.groupBy("user_id")
        .agg(F.max_by("event_id", "ts").alias("event_id"))
        .collect()
    }
    assert latest == {1: 11, 2: 20}


def test_file_sink_orphan_file_invisible_to_log_reader(spark):
    """i17: a parquet file that lands in the sink directory WITHOUT a
    _spark_metadata commit (a task that wrote before its batch died)
    must be invisible to readers — Spark's batch reader resolves the
    sink's transaction log, not the directory listing."""
    import glob
    import shutil

    src = tempfile.mkdtemp(prefix="i17_src_")
    _write_events(
        spark,
        [(1.0, 1, 1.0), (2.0, 2, 2.0), (3.0, 3, 3.0)],
        os.path.join(src, "events.parquet"),
    )
    out = tempfile.mkdtemp(prefix="i17_orphan_")
    s = _read_stream(spark, src).select("event_id", "user_id", "ts", "value")
    q = (
        s.writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", tempfile.mkdtemp(prefix="ckpt_i17t_"))
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    committed = spark.read.parquet(out)
    n = committed.count()
    assert n == 3

    # uncommitted orphan: a data file with no transaction-log entry
    a_part = glob.glob(os.path.join(out, "part-*.parquet"))[0]
    shutil.copy(a_part, os.path.join(out, "part-99999-orphan.parquet"))
    assert len(glob.glob(os.path.join(out, "part-*.parquet"))) > n or True
    assert spark.read.parquet(out).count() == 3  # log-honoring reader


def test_incremental_rollup_log_consumer_ignores_orphans(spark):
    """i18: the silver refresher discovers bronze files through the
    sink's transaction log, so (a) it must see one entry per committed
    micro-batch (two staged files -> two batches), and (b) an orphan
    data file planted in the bronze directory (a task that wrote
    before its batch died) must not change the refreshed rollup."""
    import shutil

    from servicenow_cmdb_integration_to_aws_spark.streaming.stream_ops import (
        _sink_log_batches,
    )

    src = tempfile.mkdtemp(prefix="i18t_src_")
    for i, rows in enumerate(
        [[(1.0, 1, 10.0), (2.0, 2, 20.0)], [(3.0, 1, 30.0)]]
    ):
        _write_events(spark, rows, os.path.join(src, f"h{i}.parquet"))
    out = tempfile.mkdtemp(prefix="i18t_bronze_")
    s = (
        spark.readStream.schema(
            "event_id long, ts long, user_id long, event_type string, "
            "value double, props string"
        )
        .option("maxFilesPerTrigger", "1")
        .format("parquet")
        .load(src)
        .select("event_id", "user_id", "value")
    )
    q = (
        s.writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", tempfile.mkdtemp(prefix="ckpt_i18t_"))
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()

    batches = _sink_log_batches(out)
    assert sorted(batches) == [0, 1], batches  # one log entry per batch
    n_files = sum(len(v) for v in batches.values())

    def fold():
        total = 0.0
        for bid in sorted(batches):
            df = spark.read.parquet(*batches[bid])
            total += df.agg(F.sum("value")).collect()[0][0]
        return total

    before = fold()
    assert before == 60.0

    # orphan: a data file with no log entry — the consumer never lists
    # the directory, so the fold re-reads the SAME committed set
    import glob

    a_part = glob.glob(os.path.join(out, "part-*.parquet"))[0]
    shutil.copy(a_part, os.path.join(out, "part-99999-i18orphan.parquet"))
    batches2 = _sink_log_batches(out)
    assert batches2 == batches  # log unchanged by the orphan
    assert sum(len(v) for v in batches2.values()) == n_files


def test_sink_log_consumer_handles_compaction(tmp_path):
    """i18's log consumer must treat the LATEST `N.compact` entry as
    its base (all files through batch N in one entry), count only
    plain entries after it as deltas, skip superseded plain entries
    (double-counting a compacted file would double its rows in the
    rollup), and ignore `delete` retention actions."""
    import json

    from servicenow_cmdb_integration_to_aws_spark.streaming.stream_ops import (
        _sink_log_batches,
    )

    meta = tmp_path / "_spark_metadata"
    meta.mkdir()

    def entry(path, action="add"):
        return json.dumps({"path": f"file://{path}", "action": action})

    (meta / "0").write_text("v1\n" + entry("/data/a.parquet"))
    (meta / "1").write_text("v1\n" + entry("/data/b.parquet"))
    (meta / "2.compact").write_text(
        "v1\n"
        + "\n".join(
            [
                entry("/data/a.parquet"),
                entry("/data/b.parquet"),
                entry("/data/c.parquet"),
                entry("/data/gone.parquet", action="delete"),
            ]
        )
    )
    (meta / "3").write_text("v1\n" + entry("/data/d.parquet"))
    (meta / "4.crc").write_text("junk")  # non-log file, ignored

    batches = _sink_log_batches(str(tmp_path))
    assert sorted(batches) == [2, 3]
    assert sorted(batches[2]) == [
        "/data/a.parquet",
        "/data/b.parquet",
        "/data/c.parquet",
    ]
    assert batches[3] == ["/data/d.parquet"]
    # no compact present: plain entries all count
    (meta / "2.compact").unlink()
    batches = _sink_log_batches(str(tmp_path))
    assert sorted(batches) == [0, 1, 3]


def test_sink_log_rejects_missing_header(tmp_path):
    """r10 (r9 verdict observation): a sink-log entry without the 'v1'
    version header must fail LOUDLY, not silently skip line 0 — a
    headerless file would otherwise drop its first data entry; an
    unknown version is a format we don't understand."""
    import json

    import pytest

    from servicenow_cmdb_integration_to_aws_spark.streaming.stream_ops import (
        _sink_log_batches,
    )

    meta = tmp_path / "_spark_metadata"
    meta.mkdir()
    entry = json.dumps({"path": "file:///data/a.parquet", "action": "add"})

    (meta / "0").write_text(entry)  # headerless: data on line 0
    with pytest.raises(ValueError, match="expected 'v1' header"):
        _sink_log_batches(str(tmp_path))

    (meta / "0").write_text("v2\n" + entry)  # unknown version
    with pytest.raises(ValueError, match="expected 'v1' header"):
        _sink_log_batches(str(tmp_path))

    (meta / "0").write_text("")  # zero-length file
    with pytest.raises(ValueError, match="empty sink-log"):
        _sink_log_batches(str(tmp_path))

    (meta / "0").write_text("v1\n" + entry)  # well-formed: parses
    assert _sink_log_batches(str(tmp_path)) == {0: ["/data/a.parquet"]}


def test_stage_copy_preserves_hive_partition_values(spark, tmp_path):
    """r10 ADVICE (medium): staging a hive-partitioned table must keep
    the key=... directory structure — the partition column's VALUES
    live in the dir names, so the r9 flat copy made a read-schema
    partition column silently all-NULL in the staged stream while the
    batch oracle reconstructed it."""
    from servicenow_cmdb_integration_to_aws_spark.streaming.stream_ops import (
        _DOCS_SCHEMA,
        _stage_dir,
    )

    sfd = tmp_path / "sf"
    sfd.mkdir()
    rows = [
        (1, "hello world", "en", "s", 11),
        (2, "bonjour monde", "fr", "s", 13),
        (3, "hallo welt", "de", "s", 10),
    ]
    spark.createDataFrame(rows, _DOCS_SCHEMA).write.partitionBy(
        "lang"
    ).mode("overwrite").parquet(str(sfd / "documents.parquet"))

    staged = _stage_dir(str(sfd), "documents")
    # the staged dir must still carry the lang=... structure
    assert any(d.startswith("lang=") for d in os.listdir(staged))

    sdf = (
        spark.readStream.schema(_DOCS_SCHEMA)
        .format("parquet")
        .load(staged)
        .select("doc_id", "lang")
    )
    got = sorted(map(tuple, _run(sdf, "append").collect()))
    assert got == [(1, "en"), (2, "fr"), (3, "de")]


def test_staged_dir_evicted_on_inplace_regen(spark, tmp_path):
    """r10 ADVICE: an in-place testdata regen must EVICT the superseded
    generation's staged stream dir (rmtree + single cache entry per
    sf_dir), not leak a full parquet copy per regen for the life of
    the driver."""
    from servicenow_cmdb_integration_to_aws_spark.sources.tables import ARTIFACTS
    from servicenow_cmdb_integration_to_aws_spark.streaming.stream_ops import (
        _DOCS_SCHEMA,
        _stage_dir,
    )

    sfd = tmp_path / "sf"
    sfd.mkdir()

    def write_docs(rows):
        import pyarrow as pa
        import pyarrow.parquet as pq

        pq.write_table(
            pa.table(
                {
                    "doc_id": pa.array([r[0] for r in rows], pa.int64()),
                    "text": pa.array([r[1] for r in rows], pa.string()),
                    "lang": pa.array(["en"] * len(rows), pa.string()),
                    "source": pa.array(["s"] * len(rows), pa.string()),
                    "n_chars": pa.array(
                        [len(r[1]) for r in rows], pa.int64()
                    ),
                }
            ),
            str(sfd / "documents.parquet"),
        )

    write_docs([(1, "generation one")])
    d1 = _stage_dir(str(sfd), "documents")
    assert _stage_dir(str(sfd), "documents") == d1  # stamp hit: cached

    write_docs([(1, "generation two, regenerated in place!")])
    d2 = _stage_dir(str(sfd), "documents")
    assert d2 != d1
    assert not os.path.exists(d1)  # superseded copy reclaimed
    assert [k[:2] for k in ARTIFACTS if k[0] == str(sfd)] == [
        (str(sfd), "documents")
    ]


def test_stage_batch_dirs2_take_refuses_to_overwrite(spark, tmp_path):
    """Two-log staging links part files into a batch dir; taking the
    same value into the same dest twice must fail loudly — only a
    cross-device link falls back to a copy, never an existing file."""
    from servicenow_cmdb_integration_to_aws_spark.streaming.compaction import (
        _stage_batch_dirs,
    )

    df = spark.range(6).withColumnRenamed("id", "k")
    take, done = _stage_batch_dirs(df, a=F.col("k") % 2, b=F.col("k") % 3)
    dest = str(tmp_path / "batch_id=0")
    try:
        take("a", 0, dest)
        staged = sorted(os.listdir(dest))
        assert staged
        with pytest.raises(FileExistsError):
            take("a", 0, dest)
        assert sorted(os.listdir(dest)) == staged
        assert sorted(r.k for r in spark.read.parquet(dest).collect()) == [0, 2, 4]
    finally:
        done()


def test_read_written_schema_is_inferences(spark, sf_dir, tmp_path):
    """sources/tables.read_written gives the schema `spark.read.parquet`
    infers on every layout the engine reads back (partition column,
    nullability and field order included), and where the footers
    settle it the read launches no Spark job. Pyarrow-written testdata
    (no Spark key in the footer) and two roots whose footers disagree
    fall back to inference."""
    import glob

    from servicenow_cmdb_integration_to_aws_spark.sources.tables import (
        _written_schema,
        path_of,
        read_written,
        scan,
    )
    from servicenow_cmdb_integration_to_aws_spark.streaming.compaction import (
        SnapshotStore,
        _stage_batch_dirs,
    )
    from servicenow_cmdb_integration_to_aws_spark.streaming.stream_ops import (
        _drain,
        _stream_events,
    )

    cols = ["event_id", "user_id", "ts", "event_type", "value"]
    log = str(tmp_path / "log")
    take, done = _stage_batch_dirs(
        scan(spark, sf_dir, "events").select(*cols), a=F.col("event_id") % 2
    )
    try:
        for b in (0, 1):
            take("a", b, os.path.join(log, f"batch_id={b}"))
    finally:
        done()
    store = SnapshotStore(str(tmp_path / "snap"), key="user_id", order=["ts", "event_id"])
    assert store.compact(spark, log) == 1
    sink = str(tmp_path / "sink")
    _drain(
        spark,
        _stream_events(spark, sf_dir).select(*cols).writeStream.format("parquet")
        .option("path", sink),
    )
    assert os.path.isdir(os.path.join(sink, "_spark_metadata"))
    wide, narrow = str(tmp_path / "wide"), str(tmp_path / "narrow")
    spark.range(3).write.parquet(wide)
    spark.range(3).selectExpr("cast(id as int) id").write.parquet(narrow)

    cases = {
        "batch dir": ([os.path.join(log, "batch_id=0")], True),
        "version dir": ([str(tmp_path / "snap" / "v=1")], True),
        "partitioned log": ([log], True),
        "stream sink": ([sink], True),
        "file list": (sorted(glob.glob(os.path.join(sink, "part-*.parquet"))), True),
        "pyarrow testdata": ([path_of(sf_dir, "events")], False),
        "footers disagree": ([wide, narrow], False),
    }
    dag = spark.sparkContext._jsc.sc().dagScheduler()
    for case, (paths, by_footer) in cases.items():
        assert paths, case
        assert (_written_schema(tuple(paths)) is not None) == by_footer, case
        before = dag.nextJobId()
        got = read_written(spark, *paths).schema
        jobs = dag.nextJobId() - before
        assert got == spark.read.parquet(*paths).schema, case
        if by_footer:
            assert jobs == 0, (case, jobs)
    assert read_written(spark, log).columns[-1] == "batch_id"


def test_drain_pins_state_partitions_only_across_start(
    spark, tmp_path, monkeypatch
):
    """_drain freezes 8 state partitions into the query while the
    caller's session keeps its own shuffle.partitions during the
    batches, and deletes its checkpoint dir afterwards."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from servicenow_cmdb_integration_to_aws_spark import scratch
    from servicenow_cmdb_integration_to_aws_spark.streaming.stream_ops import (
        _drain,
    )

    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    src = tmp_path / "src"
    src.mkdir()
    pq.write_table(
        pa.table({"k": pa.array([i % 3 for i in range(20)], pa.int64())}),
        str(src / "part.parquet"),
    )
    seen = []

    def on_batch(batch_df, batch_id):
        batch_df.collect()  # a stateful batch must be fully consumed
        seen.append(
            (
                batch_df.rdd.getNumPartitions(),
                spark.conf.get("spark.sql.shuffle.partitions"),
            )
        )

    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "5")
    try:
        counts = (
            spark.readStream.schema("k long").parquet(str(src))
            .groupBy("k").count()
        )
        _drain(spark, counts.writeStream.outputMode("update").foreachBatch(on_batch))
        assert spark.conf.get("spark.sql.shuffle.partitions") == "5"
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
    assert seen and all(n == 8 and caller == "5" for n, caller in seen), seen
    assert not [p for p in os.listdir(scratch.root()) if p.startswith("ckpt_")]


def test_scope_frees_query_dirs_but_not_process_caches(spark, sf_dir, duck):
    """scratch.scope() frees the dirs a15 and a5 made inside it once
    their results are consumed; the staged stream source made inside
    the same block is a process cache and survives, so a7 still reads
    it afterwards and matches its oracle."""
    from check_parity import rows_canon

    from servicenow_cmdb_integration_to_aws_spark import scratch
    from servicenow_cmdb_integration_to_aws_spark.sources.tables import ARTIFACTS
    from servicenow_cmdb_integration_to_aws_spark.streaming.stream_ops import (
        _stage_dir,
    )

    queries = entrymod.queries()
    before = set(os.listdir(scratch.root()))
    for k in [k for k in ARTIFACTS if k[:2] == (sf_dir, "events")]:
        ARTIFACTS.pop(k)  # restage inside the block
    with scratch.scope():
        for qid in ("a15_snapshot_compact", "a5_sink_partitioned"):
            assert queries[qid](spark, sf_dir).collect(), qid
        staged = _stage_dir(sf_dir)
        made = set(os.listdir(scratch.root())) - before
    assert {p.split("_")[0] for p in made} >= {"a15", "sink"}, made
    assert made & set(os.listdir(scratch.root())) == {os.path.basename(staged)}

    df = queries["a7_replay_stream"](spark, sf_dir)
    got = rows_canon(df.columns, df.collect())
    oracle = duck.execute(entrymod.oracle_sql()["a7_replay_stream"])
    want = rows_canon([c[0] for c in oracle.description], oracle.fetchall())
    assert got == want


@pytest.mark.parametrize(
    "point,nth",
    [
        ("after_fold_write", 1),       # batch 0: v1 written, not committed
        ("before_fold_batch_1", 1),    # between the two batch folds
        ("after_fold_write", 2),       # batch 1: v2 written, pointer not advanced
        ("before_latest_replace", 2),  # batch 1: tmp meta written, not live
        ("after_latest_replace", 2),   # batch 1: commit durable, then died
    ],
)
def test_i18_silver_fold_crash_at_every_step(spark, point, nth):
    """r10 (r9 verdict item 3): kill i18's refresh fold at every commit
    step — between a silver version write and the pointer advance, and
    between batch folds — then re-run the fold and assert refreshed ≡
    rebuilt: the resumed fold continues after the last COMMITTED batch,
    re-folds a torn version idempotently (overwrite from the same
    base), and never double-merges a batch (sum aggregates would
    double — the final-state assert catches it)."""
    import datetime

    from servicenow_cmdb_integration_to_aws_spark.streaming.stream_ops import (
        _silver_store,
    )

    d1, d2 = datetime.date(2024, 1, 1), datetime.date(2024, 1, 2)
    batches = {
        0: [(d1, 2, 100, 60), (d2, 1, 40, 40)],
        1: [(d1, 1, 50, 50), (d2, 2, 90, 70)],
    }
    prefix_state = {  # folded state after committing batches 0..k
        0: {d1: (2, 100, 60), d2: (1, 40, 40)},
        1: {d1: (3, 150, 60), d2: (3, 130, 70)},
    }

    def load(rows):
        return spark.createDataFrame(
            rows, "day date, n_events bigint, sum_cents bigint, max_cents bigint"
        )

    store = _silver_store(tempfile.mkdtemp(prefix="i18_crash_"))
    seen = {"n": 0}

    def boom(p):
        if p == point:
            seen["n"] += 1
            if seen["n"] == nth:
                raise RuntimeError(f"injected crash at {p}")

    store._fault = boom
    try:
        with pytest.raises(RuntimeError, match="injected crash"):
            store.fold_batches(spark, batches, load)
    finally:
        store._fault = None

    # whatever survived is a committed PREFIX of the batch sequence —
    # never a torn version (readers resolve _LATEST) and the pointer
    # never runs ahead of the folded state
    meta = store._meta()
    assert meta["version"] == meta["compacted_through"] + 1 or (
        meta["version"] == 0 and meta["compacted_through"] == -1
    )
    if meta["version"] > 0:
        got = {
            r["day"]: (r["n_events"], r["sum_cents"], r["max_cents"])
            for r in store.read(spark).collect()
        }
        assert got == prefix_state[meta["compacted_through"]]

    # recovery: the resumed fold converges to exactly the rebuilt state
    store.fold_batches(spark, batches, load)
    got = {
        r["day"]: (r["n_events"], r["sum_cents"], r["max_cents"])
        for r in store.read(spark).collect()
    }
    assert got == prefix_state[1]
    assert store._meta()["compacted_through"] == 1

    # a third run is a no-op (nothing newer than the pointer)
    v = store.fold_batches(spark, batches, load)
    assert v == store._meta()["version"]
    got2 = {
        r["day"]: (r["n_events"], r["sum_cents"], r["max_cents"])
        for r in store.read(spark).collect()
    }
    assert got2 == prefix_state[1]


@pytest.mark.parametrize(
    "point,nth",
    [
        ("after_fold_write", 1),       # batch 0: v1 written, not committed
        ("before_fold_batch_1", 1),    # between the two batch folds
        ("after_fold_write", 2),       # batch 1: v2 written, pointer behind
        ("before_latest_replace", 2),
        ("after_latest_replace", 2),
    ],
)
def test_i19_retract_fold_crash_at_every_step(spark, point, nth):
    """i19's delete-aware fold under the kill-at-every-step harness:
    tombstones force a day-level rebuild, and a crash anywhere in the
    two-batch fold must resume to exactly the rebuilt state — a
    double-merged batch would inflate the sums, a lost tombstone would
    resurrect a deleted row's max."""
    import datetime

    from servicenow_cmdb_integration_to_aws_spark.streaming.stream_ops import (
        _I19_BRONZE_SCHEMA,
        _i19_fold_batches,
        _silver_store,
    )

    def ts(day):
        return datetime.datetime(2024, 1, day, 12, 0, 0)

    def write_batch(rows):
        d = tempfile.mkdtemp(prefix="i19_batch_")
        spark.createDataFrame(rows, _I19_BRONZE_SCHEMA).coalesce(
            1
        ).write.mode("overwrite").parquet(d)
        return [d]

    p0 = write_batch(
        [("I", 1, ts(1), 1.0), ("I", 2, ts(1), 2.0), ("I", 3, ts(2), 3.0)]
    )
    p1 = write_batch(
        [
            ("I", 4, ts(2), 4.0),
            ("I", 5, ts(3), 5.0),
            ("D", 2, ts(1), None),  # hits batch-0 history
            ("D", 3, ts(2), None),  # day also receiving a new insert
        ]
    )
    aug = {0: (p0, p0), 1: (p1, p0 + p1)}
    d1, d2, d3 = (datetime.date(2024, 1, d) for d in (1, 2, 3))
    prefix_state = {
        0: {d1: (2, 300, 200), d2: (1, 300, 300)},
        1: {d1: (1, 100, 100), d2: (1, 400, 400), d3: (1, 500, 500)},
    }

    store = _silver_store(tempfile.mkdtemp(prefix="i19_crash_"))
    seen = {"n": 0}

    def boom(p):
        if p == point:
            seen["n"] += 1
            if seen["n"] == nth:
                raise RuntimeError(f"injected crash at {p}")

    store._fault = boom
    try:
        with pytest.raises(RuntimeError, match="injected crash"):
            _i19_fold_batches(spark, store, aug)
    finally:
        store._fault = None

    meta = store._meta()
    assert meta["version"] == meta["compacted_through"] + 1 or (
        meta["version"] == 0 and meta["compacted_through"] == -1
    )
    if meta["version"] > 0:
        got = {
            r["day"]: (r["n_events"], r["sum_cents"], r["max_cents"])
            for r in store.read(spark).collect()
        }
        assert got == prefix_state[meta["compacted_through"]]

    # recovery: resumed fold == rebuilt-with-retractions, exactly once
    _i19_fold_batches(spark, store, aug)
    got = {
        r["day"]: (r["n_events"], r["sum_cents"], r["max_cents"])
        for r in store.read(spark).collect()
    }
    assert got == prefix_state[1]
    assert store._meta()["compacted_through"] == 1

    # idempotent no-op on a third run
    v = _i19_fold_batches(spark, store, aug)
    assert v == store._meta()["version"]


import shutil  # noqa: E402


def _mk_fragmented_sink(spark, n_batches=3) -> tuple:
    """Hand-build a streaming parquet sink dir in the exact on-disk
    format the sink writes (verified against a real writeStream run):
    one committed data file per batch + a v1 plain log entry each.
    Returns (out_dir, expected_rows)."""
    import glob as _glob
    import json as _json

    out = tempfile.mkdtemp(prefix="i20_crash_sink_")
    meta = os.path.join(out, "_spark_metadata")
    os.makedirs(meta)
    expected = []
    for b in range(n_batches):
        rows = [(b * 10 + i, float(b * 10 + i)) for i in range(5)]
        expected += rows
        tmp = tempfile.mkdtemp(prefix="i20_b_")
        spark.createDataFrame(rows, "event_id long, value double").coalesce(
            1
        ).write.mode("overwrite").parquet(tmp)
        part = _glob.glob(os.path.join(tmp, "part-*.parquet"))[0]
        dst = os.path.join(out, f"part-0000{b}-{b}-c000.snappy.parquet")
        shutil.move(part, dst)
        shutil.rmtree(tmp, ignore_errors=True)
        st = os.stat(dst)
        entry = _json.dumps(
            {
                "path": "file://" + dst,
                "size": st.st_size,
                "isDir": False,
                "modificationTime": int(st.st_mtime * 1000),
                "blockReplication": 1,
                "blockSize": 33554432,
                "action": "add",
            },
            separators=(",", ":"),
        )
        with open(os.path.join(meta, str(b)), "w") as fh:
            fh.write("v1\n" + entry + "\n")
    return out, sorted(expected)


def _sink_rows(spark, out):
    return sorted(
        (r["event_id"], r["value"])
        for r in spark.read.parquet(out).collect()
    )


def test_stream_sink_compact_rewrites_log_and_files(spark):
    """i20 file-count gate: compaction collapses the fragmented sink to
    ceil(bytes/target) files, readers (Spark's own log-honoring reader
    AND the i18 consumer) flip atomically, and superseded data files
    are gone."""
    import glob as _glob

    from servicenow_cmdb_integration_to_aws_spark.streaming.stream_ops import (
        _sink_log_batches,
        compact_stream_sink,
    )

    out, expected = _mk_fragmented_sink(spark, n_batches=3)
    assert len(_glob.glob(os.path.join(out, "*.parquet"))) == 3
    assert _sink_rows(spark, out) == expected

    latest = compact_stream_sink(spark, out)
    assert latest == 2
    data = _glob.glob(os.path.join(out, "*.parquet"))
    assert len(data) == 1 and "part-compact-" in data[0]
    assert _sink_rows(spark, out) == expected  # Spark's reader, new log
    view = _sink_log_batches(out)
    assert set(view) == {2} and view[2] == data

    # idempotent: a second run only sweeps, changes nothing
    assert compact_stream_sink(spark, out) == 2
    assert _glob.glob(os.path.join(out, "*.parquet")) == data
    assert _sink_rows(spark, out) == expected


def test_stream_sink_compact_live_writer_appends_after(spark):
    """A writer committing batch N+1 while/after the compact-through-N
    is correct by construction: consumers take compact-as-base + later
    plain entries; nothing the writer does is touched."""
    import glob as _glob
    import json as _json

    from servicenow_cmdb_integration_to_aws_spark.streaming.stream_ops import (
        _sink_log_batches,
        compact_stream_sink,
    )

    out, expected = _mk_fragmented_sink(spark, n_batches=2)
    compact_stream_sink(spark, out)

    # simulate the live writer's next commit: data file + plain entry 2
    tmp = tempfile.mkdtemp(prefix="i20_live_")
    rows = [(100 + i, float(100 + i)) for i in range(3)]
    spark.createDataFrame(rows, "event_id long, value double").coalesce(
        1
    ).write.mode("overwrite").parquet(tmp)
    part = _glob.glob(os.path.join(tmp, "part-*.parquet"))[0]
    dst = os.path.join(out, "part-00002-live-c000.snappy.parquet")
    shutil.move(part, dst)
    st = os.stat(dst)
    with open(os.path.join(out, "_spark_metadata", "2"), "w") as fh:
        fh.write(
            "v1\n"
            + _json.dumps(
                {
                    "path": "file://" + dst,
                    "size": st.st_size,
                    "isDir": False,
                    "modificationTime": int(st.st_mtime * 1000),
                    "blockReplication": 1,
                    "blockSize": 33554432,
                    "action": "add",
                },
                separators=(",", ":"),
            )
            + "\n"
        )

    want = sorted(expected + rows)
    assert _sink_rows(spark, out) == want
    view = _sink_log_batches(out)
    assert set(view) == {1, 2}  # compact base + the live delta

    # and a follow-up compaction absorbs the new batch too
    assert compact_stream_sink(spark, out) == 2
    assert _sink_rows(spark, out) == want
    assert set(_sink_log_batches(out)) == {2}


@pytest.mark.parametrize(
    "point,nth",
    [
        ("after_snapshot", 1),
        ("after_rewrite", 1),
        ("mid_publish", 1),
        ("before_log_commit", 1),
        ("after_log_commit", 1),
        ("mid_cleanup", 1),
    ],
)
def test_stream_sink_compact_crash_at_every_step(spark, point, nth):
    """i20's kill-at-every-step harness (the a20/a15 protocol): a crash
    anywhere must leave the COMMITTED view readable and equal to the
    original set (old log or new log, never torn), and a plain re-run
    must converge to the fully compacted, fully swept state."""
    import glob as _glob

    from servicenow_cmdb_integration_to_aws_spark.streaming.stream_ops import (
        _sink_log_batches,
        compact_stream_sink,
    )

    out, expected = _mk_fragmented_sink(spark, n_batches=3)
    seen = {"n": 0}

    def boom(p):
        if p == point:
            seen["n"] += 1
            if seen["n"] == nth:
                raise RuntimeError(f"injected crash at {p}")

    with pytest.raises(RuntimeError, match="injected crash"):
        compact_stream_sink(spark, out, fault=boom)

    # invariant: committed view intact at EVERY crash point
    assert _sink_rows(spark, out) == expected

    # recovery: plain re-run converges — one compacted file, log view
    # is the single compact entry, no orphans or temp dirs left
    assert compact_stream_sink(spark, out) == 2
    data = _glob.glob(os.path.join(out, "*.parquet"))
    assert len(data) == 1 and "part-compact-" in data[0]
    assert _sink_rows(spark, out) == expected
    assert set(_sink_log_batches(out)) == {2}
    assert not _glob.glob(os.path.join(out, ".compact_tmp_*"))
    meta = os.listdir(os.path.join(out, "_spark_metadata"))
    assert not [f for f in meta if f.startswith("tmp") or f.endswith(".tmp")]


def test_stream_sink_compact_rewrite_plan_has_no_shuffle(spark):
    """i20's rewrite must stay read-once/write-once: coalesce over the
    committed files, no Exchange in the rewrite plan (a19's argument,
    pinned here for the streaming compactor's own read path)."""
    import glob as _glob
    import io
    import re
    from contextlib import redirect_stdout

    from servicenow_cmdb_integration_to_aws_spark.streaming.stream_ops import (
        _sink_log_batches,
    )

    out, _ = _mk_fragmented_sink(spark, n_batches=3)
    batches = _sink_log_batches(out)
    files = [p for b in sorted(batches) for p in batches[b]]
    plan_df = spark.read.parquet(*files).coalesce(1)
    buf = io.StringIO()
    with redirect_stdout(buf):
        plan_df.explain("formatted")
    p = buf.getvalue()
    assert not re.findall(r"^\(\d+\) Exchange", p, re.M), p
    assert "Coalesce" in p, p


def test_consistent_read_repairs_straddle_and_refuses_truncation(spark):
    """i21 mechanics: two stores fed the same batch sequence, one
    compactor lagging. (1) The naive two-pinned-version read observes
    the straddle (laggard's state differs from horizon state); (2)
    consistent_read serves the laggard AT the leader's horizon by
    folding its log tail — equal to what the laggard's own compactor
    would later publish; (3) with the tail truncated the read REFUSES
    with HorizonMismatch instead of serving the straddled join."""
    import os
    import shutil

    import pytest

    from servicenow_cmdb_integration_to_aws_spark.streaming.compaction import (
        HorizonMismatch,
        consistent_read,
    )

    store_a, log_a, write_a = _mini_store(spark)
    store_b, log_b, write_b = _mini_store(spark)
    batches = {
        0: [(1, 10, 0), (2, 20, 1)],
        1: [(3, 10, 2), (4, 30, 3)],
        2: [(5, 20, 4), (6, 40, 5)],  # user 20 moves, user 40 appears
    }
    for bid in (0, 1):
        write_a(bid, batches[bid])
        write_b(bid, batches[bid])
    assert store_a.compact(spark, log_a) == 1
    assert store_b.compact(spark, log_b) == 1
    write_a(2, batches[2])
    write_b(2, batches[2])
    assert store_a.compact(spark, log_a) == 2  # A leads
    assert store_b._meta()["compacted_through"] == 1  # B straddles

    def rows(df):
        return sorted(map(tuple, df.collect()))

    naive_b = rows(store_b._read_version(spark, 1))
    h, (da, db) = consistent_read(
        spark, [(store_a, log_a), (store_b, log_b)]
    )
    assert h == 2
    consistent_b = rows(db)
    assert naive_b != consistent_b  # the straddle is observable
    assert rows(da) == consistent_b  # equal horizon ⇒ equal state
    # the repaired read equals what B's own compactor later publishes
    assert store_b.compact(spark, log_b) == 2
    assert rows(store_b.read(spark)) == consistent_b

    # refusal: a third store lags AND its tail is gone
    store_c, log_c, write_c = _mini_store(spark)
    for bid in (0, 1):
        write_c(bid, batches[bid])
    assert store_c.compact(spark, log_c) == 1
    shutil.rmtree(os.path.join(log_c, "batch_id=1"))  # tail < horizon
    with pytest.raises(HorizonMismatch):
        consistent_read(spark, [(store_a, log_a), (store_c, log_c)])


def test_consistent_read_refuses_gap_in_log_tail(spark):
    """r12 advice (medium): the tail check must require CONTIGUOUS
    coverage of (compacted_through, horizon], not merely that the tail
    reaches the horizon. Oldest-first log retention can delete an
    INTERMEDIATE batch while keeping later ones — e.g. ct=0, h=3, log
    holds {2,3}: folding that tail silently serves state missing
    batch 1. The read must refuse with HorizonMismatch."""
    import os
    import shutil

    import pytest

    from servicenow_cmdb_integration_to_aws_spark.streaming.compaction import (
        HorizonMismatch,
        consistent_read,
    )

    batches = {
        0: [(1, 10, 0), (2, 20, 1)],
        1: [(3, 10, 2), (4, 30, 3)],
        2: [(5, 20, 4), (6, 40, 5)],
        3: [(7, 30, 6), (8, 50, 7)],
    }
    store_a, log_a, write_a = _mini_store(spark)
    for bid in range(4):
        write_a(bid, batches[bid])
    assert store_a.compact(spark, log_a) == 1  # leader: through batch 3
    assert store_a._meta()["compacted_through"] == 3

    store_b, log_b, write_b = _mini_store(spark)
    write_b(0, batches[0])
    assert store_b.compact(spark, log_b) == 1  # laggard: through batch 0
    for bid in (1, 2, 3):
        write_b(bid, batches[bid])
    # oldest-first retention eats the INTERMEDIATE batch 1; the tail
    # {2,3} still REACHES the horizon — the pre-fix check passed this
    shutil.rmtree(os.path.join(log_b, "batch_id=1"))
    with pytest.raises(HorizonMismatch, match="contiguous"):
        consistent_read(spark, [(store_a, log_a), (store_b, log_b)])


def test_store_group_handle_pins_body_fold_versions(spark):
    """r12 advice (low): an out-of-band per-store compactor (store
    flocks are independent of the group flock) advancing a member
    BETWEEN the body's folds and the manifest write must not get its
    version pinned into the group manifest. Folding through the
    yielded handle's g.compact records the version the body's fold
    RETURNED; the publish uses that, not a _LATEST re-read."""
    import tempfile

    from servicenow_cmdb_integration_to_aws_spark.streaming.compaction import (
        StoreGroup,
    )

    store_a, log_a, write_a = _mini_store(spark)
    store_b, log_b, write_b = _mini_store(spark)
    group = StoreGroup(
        tempfile.mkdtemp(prefix="i22_handle_"),
        {"a": store_a, "b": store_b},
    )
    write_a(0, [(1, 10, 0)])
    write_b(0, [(1, 10, 0)])
    with group.commit() as g:
        assert g.compact("a", spark, log_a) == 1
        assert g.compact("b", spark, log_b) == 1
        # out-of-band compactor races in AFTER the body's folds but
        # BEFORE the manifest write: member a advances to v2
        write_a(1, [(2, 20, 1)])
        assert store_a.compact(spark, log_a) == 2
    # the manifest pins what the BODY produced, not the racer's v2
    assert group.manifest() == {"a": 1, "b": 1}
    pinned = group.read_pinned(spark)
    assert pinned["a"].count() == pinned["b"].count() == 1
    # outside a commit body the handle is a plain pass-through
    write_b(1, [(3, 20, 2)])
    assert group.compact("b", spark, log_b) == 2
    assert group.manifest() == {"a": 1, "b": 1}  # unchanged


@pytest.mark.parametrize(
    "sf_dir", ["/root/testdata/sf0.001", "/root/testdata/sf0.01"]
)
def test_store_group_anomaly_and_torn_commit_on_events(spark, sf_dir):
    """i22 pins at two SFs on the REAL events table: (1) the
    naive-reader anomaly — after one member is compacted out-of-band,
    joining the two stores' _LATEST versions combines a full-corpus
    users state with a partial types rollup (torn pair); (2) the group
    reader is immune — read_pinned still serves the first commit's
    consistent pair; (3) a commit body that raises mid-group publishes
    NOTHING (torn-commit refusal), even though a member's own _LATEST
    advanced."""
    import os
    import shutil
    import tempfile

    from pyspark.sql import functions as F

    from servicenow_cmdb_integration_to_aws_spark.sources.tables import scan
    from servicenow_cmdb_integration_to_aws_spark.streaming.compaction import (
        SnapshotStore,
        StoreGroup,
        _type_rollup_fold,
    )

    cols = ["event_id", "user_id", "ts", "event_type", "value"]
    e = scan(spark, sf_dir, "events").select(*cols)
    dirs = [tempfile.mkdtemp(prefix=f"i22_pin_{i}_") for i in range(5)]
    log_a, log_b, root_a, root_b, group_root = dirs
    try:
        store_a = SnapshotStore(
            root_a, key="user_id", order=["ts", "event_id"]
        )
        store_b = SnapshotStore(
            root_b, key="event_type", order=[], fold=_type_rollup_fold
        )
        group = StoreGroup(
            group_root, {"users": store_a, "types": store_b}
        )
        key = F.coalesce(F.col("event_id"), F.lit(0))
        half, third = F.pmod(key, F.lit(2)), F.pmod(key, F.lit(3))
        e.filter(half == 0).write.parquet(os.path.join(log_a, "batch_id=0"))
        for i in (0, 1):
            e.filter(third == i).write.parquet(
                os.path.join(log_b, f"batch_id={i}")
            )
        with group.commit() as g:
            assert g.compact("users", spark, log_a) == 1
            assert g.compact("types", spark, log_b) == 1
        # out-of-band: ONLY users advances (store flocks are
        # independent of the group flock)
        e.filter(half == 1).write.parquet(os.path.join(log_a, "batch_id=1"))
        assert store_a.compact(spark, log_a) == 2

        n_total = e.count()
        n_first_two_thirds = e.filter(third != 2).count()
        assert n_first_two_thirds < n_total  # batch 2 is non-empty
        # (1) the naive pair is TORN: users' _LATEST covers the full
        # corpus while types' rollup counts only 2/3 of it
        naive_users = store_a._read_version(spark, 2)
        naive_types = store_b._read_version(spark, 1)
        assert naive_users.count() == e.select("user_id").distinct().count()
        naive_total = naive_types.agg(
            F.sum("type_n_events").alias("n")
        ).collect()[0]["n"]
        assert naive_total == n_first_two_thirds < n_total
        # (2) the group reader never sees it: manifest still the first
        # commit's pair, both sides cut at THEIR commit-time slices
        assert group.manifest() == {"users": 1, "types": 1}
        pinned = group.read_pinned(spark)
        assert (
            pinned["users"].count()
            == e.filter(half == 0).select("user_id").distinct().count()
        )
        assert (
            pinned["types"].agg(F.sum("type_n_events").alias("n"))
            .collect()[0]["n"]
            == n_first_two_thirds
        )
        # (3) torn-commit refusal: body folds types to v2 then dies —
        # nothing publishes, the pinned pair survives
        e.filter(third == 2).write.parquet(os.path.join(log_b, "batch_id=2"))
        with pytest.raises(RuntimeError, match="mid-group"):
            with group.commit() as g:
                assert g.compact("types", spark, log_b) == 2
                raise RuntimeError("died mid-group")
        assert group.manifest() == {"users": 1, "types": 1}
        assert store_b._meta()["version"] == 2  # _LATEST advanced, unpinned
        # a clean retry completes the group at the full corpus
        with group.commit() as g:
            g.compact("users", spark, log_a)
            g.compact("types", spark, log_b)
        assert group.manifest() == {"users": 2, "types": 2}
        fresh = group.read_pinned(spark)
        assert (
            fresh["types"].agg(F.sum("type_n_events").alias("n"))
            .collect()[0]["n"]
            == n_total
        )
    finally:
        for d in dirs:
            shutil.rmtree(d, ignore_errors=True)


def test_consistent_read_never_serves_past_the_horizon(spark):
    """i21 contract: uncompacted log batches NEWER than the horizon
    are invisible — a store whose log already holds batch h+1 is still
    served exactly at h (pinned version for a leader, capped tail for
    a laggard). Serving past the horizon would put the pair right back
    into a straddle, just in the other direction."""
    from servicenow_cmdb_integration_to_aws_spark.streaming.compaction import (
        consistent_read,
    )

    store_a, log_a, write_a = _mini_store(spark)
    store_b, log_b, write_b = _mini_store(spark)
    for bid in (0, 1):
        write_a(bid, [(bid * 10 + 1, 10, bid), (bid * 10 + 2, 20, bid)])
        write_b(bid, [(bid * 10 + 1, 10, bid), (bid * 10 + 2, 20, bid)])
    assert store_a.compact(spark, log_a) == 1
    assert store_b.compact(spark, log_b) == 1
    # batch 2 lands in BOTH logs but NEITHER compactor has run:
    # horizon stays 1, batch-2 rows (user 99) must not appear
    write_a(2, [(21, 99, 5)])
    write_b(2, [(21, 99, 5)])
    h, (da, db) = consistent_read(
        spark, [(store_a, log_a), (store_b, log_b)]
    )
    assert h == 1
    users_a = {r["user_id"] for r in da.collect()}
    users_b = {r["user_id"] for r in db.collect()}
    assert users_a == users_b == {10, 20}  # 99 capped out

    # and a MIXED pair: A compacts through 2 (leader), B stays at 1 —
    # B's tail repair must now include batch 2, nothing further
    assert store_a.compact(spark, log_a) == 2
    write_a(3, [(31, 77, 6)])  # uncompacted batch BEYOND the horizon
    write_b(3, [(31, 77, 6)])
    h2, (da2, db2) = consistent_read(
        spark, [(store_a, log_a), (store_b, log_b)]
    )
    assert h2 == 2
    users_a2 = {r["user_id"] for r in da2.collect()}
    users_b2 = {r["user_id"] for r in db2.collect()}
    assert users_a2 == users_b2 == {10, 20, 99}  # 77 capped out


def test_consistent_read_retry_sees_live_compactor_publish(spark):
    """i21 retry semantic: consistent_read re-polls the manifests
    between attempts because in a live deployment the laggard's own
    compactor may publish the missing fold. Simulate exactly that: B
    lags with its log tail GONE (attempt 1 must refuse), and B's
    compactor publishes v2 from its private full log between polls —
    the retry then serves B's pinned v2 at the horizon."""
    import os
    import shutil

    from servicenow_cmdb_integration_to_aws_spark.streaming.compaction import (
        consistent_read,
    )

    store_a, log_a, write_a = _mini_store(spark)
    store_b, log_b, write_b = _mini_store(spark)
    batches = {0: [(1, 10, 0), (2, 20, 1)], 1: [(3, 10, 2), (4, 30, 3)]}
    for bid, rows in batches.items():
        write_a(bid, rows)
        write_b(bid, rows)
    # compact() folds ALL new batches into ONE version: A lands at v1,
    # compacted through 1. B compacts only batch 0 (tail hidden), then
    # loses its tail: the straddle that cannot self-repair from the log
    assert store_a.compact(spark, log_a) == 1
    assert store_a._meta()["compacted_through"] == 1
    hidden = os.path.join(log_b, "hidden_batch_id=1")
    os.rename(os.path.join(log_b, "batch_id=1"), hidden)
    assert store_b.compact(spark, log_b) == 1
    shutil.rmtree(os.path.join(log_b, "batch_id=0"))  # log truncated

    calls = {"n": 0}
    real_meta = store_b._meta

    def meta_with_late_publish():
        calls["n"] += 1
        if calls["n"] == 2:  # between attempt 1 and attempt 2
            os.rename(hidden, os.path.join(log_b, "batch_id=1"))
            store_b.compact(spark, log_b)
        return real_meta()

    store_b._meta = meta_with_late_publish
    try:
        h, (da, db) = consistent_read(
            spark, [(store_a, log_a), (store_b, log_b)], attempts=3
        )
    finally:
        store_b._meta = real_meta
    assert h == 1 and calls["n"] >= 2
    assert sorted(map(tuple, da.collect())) == sorted(
        map(tuple, db.collect())
    )


def test_store_group_manifest_pins_and_flips_atomically(spark):
    """StoreGroup (remedy (b)): a group commit publishes one manifest
    for all members; a reader that resolved the manifest BEFORE a
    later group commit keeps reading the old consistent pair
    (immutable version dirs), a reader after sees the new pair, and a
    crash between folds publishes NOTHING even though a member's own
    _LATEST advanced — group readers never observe the torn state."""
    import os
    import tempfile

    import pytest

    from servicenow_cmdb_integration_to_aws_spark.streaming.compaction import (
        StoreGroup,
    )

    store_a, log_a, write_a = _mini_store(spark)
    store_b, log_b, write_b = _mini_store(spark)
    group = StoreGroup(
        tempfile.mkdtemp(prefix="i21_group_"),
        {"a": store_a, "b": store_b},
    )
    write_a(0, [(1, 10, 0), (2, 20, 1)])
    write_b(0, [(1, 10, 0), (2, 20, 1)])
    with group.commit():
        assert store_a.compact(spark, log_a) == 1
        assert store_b.compact(spark, log_b) == 1
    assert group.manifest() == {"a": 1, "b": 1}

    def rows(df):
        return sorted(map(tuple, df.collect()))

    pinned_v1 = group.read_pinned(spark)  # resolved NOW, at {a:1, b:1}
    v1_a, v1_b = rows(pinned_v1["a"]), rows(pinned_v1["b"])

    # crash between folds: A folds batch 1, B never does, body raises
    write_a(1, [(3, 10, 2), (4, 30, 3)])
    write_b(1, [(3, 10, 2), (4, 30, 3)])
    with pytest.raises(RuntimeError, match="torn"):
        with group.commit():
            assert store_a.compact(spark, log_a) == 2
            raise RuntimeError("torn mid-group")
    # nothing published: manifest still the v1 pair, even though A's
    # own _LATEST is at 2
    assert group.manifest() == {"a": 1, "b": 1}
    assert store_a._meta()["version"] == 2
    after_crash = group.read_pinned(spark)
    assert rows(after_crash["a"]) == v1_a
    assert rows(after_crash["b"]) == v1_b

    # a clean retry completes the group; the OLD pinned plan still
    # reads the old versions (repeatable read), a fresh resolve flips
    with group.commit():
        store_a.compact(spark, log_a)  # no-op: already through batch 1
        assert store_b.compact(spark, log_b) == 2
    assert group.manifest() == {"a": 2, "b": 2}
    assert rows(pinned_v1["a"]) == v1_a  # immutable dirs: plan stays valid
    fresh = group.read_pinned(spark)
    assert rows(fresh["a"]) == rows(fresh["b"])
    assert {r[1] for r in rows(fresh["a"])} == {10, 20, 30}


def test_store_group_reader_never_sees_torn_pair_mid_commit(spark):
    """Atomicity under live concurrency: a reader polling the group
    manifest WHILE a commit is mid-flight (member a folded, member b
    not yet) must only ever observe the old complete pair or the new
    complete pair — never {a: 2, b: 1}. The commit body parks between
    the two folds while the main thread polls."""
    import tempfile
    import threading

    from servicenow_cmdb_integration_to_aws_spark.streaming.compaction import (
        StoreGroup,
    )

    store_a, log_a, write_a = _mini_store(spark)
    store_b, log_b, write_b = _mini_store(spark)
    group = StoreGroup(
        tempfile.mkdtemp(prefix="i22_midflight_"),
        {"a": store_a, "b": store_b},
    )
    write_a(0, [(1, 10, 0)])
    write_b(0, [(1, 10, 0)])
    with group.commit() as g:
        g.compact("a", spark, log_a)
        g.compact("b", spark, log_b)
    assert group.manifest() == {"a": 1, "b": 1}

    write_a(1, [(2, 20, 1)])
    write_b(1, [(2, 20, 1)])
    mid_fold = threading.Event()
    release = threading.Event()
    observed: list[dict] = []
    errs: list[BaseException] = []

    def committer():
        try:
            with group.commit() as g:
                g.compact("a", spark, log_a)  # a's _LATEST now v2
                mid_fold.set()
                assert release.wait(timeout=60)
                g.compact("b", spark, log_b)
        except BaseException as e:  # surfaced below
            errs.append(e)

    t = threading.Thread(target=committer)
    t.start()
    assert mid_fold.wait(timeout=60)
    # the torn window is OPEN (a at v2, b at v1, commit unpublished):
    # every manifest resolve must still return the old complete pair
    assert store_a._meta()["version"] == 2
    for _ in range(20):
        observed.append(group.manifest())
    release.set()
    t.join(timeout=120)
    assert not errs
    assert all(m == {"a": 1, "b": 1} for m in observed), observed
    assert group.manifest() == {"a": 2, "b": 2}  # published after body


def test_store_group_refuses_empty_member_at_commit(spark):
    """A group commit that would pin a never-compacted (v=0) member
    must fail at COMMIT time — not at some later reader's plan time —
    and publish nothing."""
    import tempfile

    import pytest

    from servicenow_cmdb_integration_to_aws_spark.streaming.compaction import (
        StoreGroup,
    )

    store_a, log_a, write_a = _mini_store(spark)
    store_b, _log_b, _write_b = _mini_store(spark)  # never compacted
    group = StoreGroup(
        tempfile.mkdtemp(prefix="i21_group_empty_"),
        {"a": store_a, "b": store_b},
    )
    write_a(0, [(1, 10, 0)])
    with pytest.raises(ValueError, match="never-compacted"):
        with group.commit():
            store_a.compact(spark, log_a)
    assert group.manifest() == {}  # nothing published


def test_store_group_concurrent_commits_serialize(spark):
    """Two group commits racing the same StoreGroup must serialize
    under the group flock: each body folds whatever log batches exist
    when it runs, both publish internally-consistent manifests, and
    the final manifest matches the members' committed versions — never
    a torn {a: vN, b: vM} where one member's fold vanished."""
    import threading

    from servicenow_cmdb_integration_to_aws_spark.streaming.compaction import (
        StoreGroup,
    )
    import tempfile

    store_a, log_a, write_a = _mini_store(spark)
    store_b, log_b, write_b = _mini_store(spark)
    group = StoreGroup(
        tempfile.mkdtemp(prefix="i21_grace_"),
        {"a": store_a, "b": store_b},
    )
    write_a(0, [(1, 10, 0)])
    write_b(0, [(1, 10, 0)])
    write_a(1, [(2, 20, 1)])
    write_b(1, [(2, 20, 1)])

    barrier = threading.Barrier(2)
    errors = []

    def racer():
        try:
            barrier.wait(timeout=30)
            with group.commit():
                store_a.compact(spark, log_a)
                store_b.compact(spark, log_b)
        except Exception as e:  # surfaced below
            errors.append(e)

    ts = [threading.Thread(target=racer) for _ in range(2)]
    for t in ts:
        t.start()
    for t in ts:
        t.join(timeout=120)
    assert not errors
    # the store flocks make the second compactor a no-op, the group
    # flock makes the manifests publish one at a time — final manifest
    # must equal the members' actual committed versions
    m = group.manifest()
    assert m == {
        "a": store_a._meta()["version"],
        "b": store_b._meta()["version"],
    }
    assert m["a"] == m["b"] == 1  # one fold of both batches each
    pinned = group.read_pinned(spark)
    assert pinned["a"].count() == pinned["b"].count() == 2


def test_compact_refuses_gap_in_log(spark):
    """r13 ADVICE (medium): the contiguity refusal consistent_read
    gained in r13 must also guard the WRITE path. compact() folds
    whatever log batches exist above compacted_through — if retention
    deleted batch ct+1 while ct+2..N remain, the pre-fix fold would
    COMMIT a snapshot silently missing batches and advance
    compacted_through past the gap, baking the wrong answer durably
    into the store. Both compact() and the merge-on-read read() must
    refuse with HorizonMismatch; the store must stay at its last good
    commit."""
    import os
    import shutil

    from servicenow_cmdb_integration_to_aws_spark.streaming.compaction import (
        HorizonMismatch,
    )

    store, log_dir, write_batch = _mini_store(spark)
    write_batch(0, [(1, 10, 0), (2, 20, 1)])
    assert store.compact(spark, log_dir) == 1
    write_batch(1, [(3, 10, 2)])
    write_batch(2, [(4, 30, 3)])
    shutil.rmtree(os.path.join(log_dir, "batch_id=1"))  # retention gap
    with pytest.raises(HorizonMismatch, match="contiguous"):
        store.compact(spark, log_dir)
    assert store._meta() == {"version": 1, "compacted_through": 0}
    with pytest.raises(HorizonMismatch, match="contiguous"):
        store.read(spark, log_dir)
    # restoring contiguity (the deleted batch republished) heals both
    write_batch(1, [(3, 10, 2)])
    assert store.compact(spark, log_dir) == 2
    assert store._meta() == {"version": 2, "compacted_through": 2}
    assert store.read(spark, log_dir).count() == 3  # users 10, 20, 30


def test_fold_batches_refuses_gap_in_pending_ids(spark):
    """Same r13 ADVICE class on the streaming-sink path: fold_batches
    consumes pre-keyed batch ids (a sink's _spark_metadata log); a
    non-contiguous pending set above compacted_through means committed
    batches were lost, and folding past the hole would durably skip
    their rows. Refusal, not a partial fold."""
    from servicenow_cmdb_integration_to_aws_spark.streaming.compaction import (
        HorizonMismatch,
    )

    store, log_dir, write_batch = _mini_store(spark)
    write_batch(0, [(1, 10, 0)])
    write_batch(2, [(2, 20, 1)])
    import os

    def load(b):
        return spark.read.parquet(os.path.join(log_dir, f"batch_id={b}"))

    with pytest.raises(HorizonMismatch, match="contiguous"):
        store.fold_batches(spark, {0: 0, 2: 2}, load)
    assert store._meta()["version"] == 0  # nothing committed
    # contiguous ids fold fine, one version per batch
    write_batch(1, [(3, 30, 2)])
    assert store.fold_batches(spark, {0: 0, 1: 1, 2: 2}, load) == 3


def test_i19_fold_refuses_gap_in_sink_batch_ids(spark, tmp_path):
    """i19's delete-aware fold takes the same sink-log batch ids as
    fold_batches and must refuse the same gap: folding batch 2 with
    batch 1 lost would commit past the hole."""
    from servicenow_cmdb_integration_to_aws_spark.streaming.compaction import (
        HorizonMismatch,
    )
    from servicenow_cmdb_integration_to_aws_spark.streaming.stream_ops import (
        _i19_fold_batches,
        _silver_store,
    )

    store = _silver_store(str(tmp_path))
    with pytest.raises(HorizonMismatch, match="contiguous"):
        _i19_fold_batches(spark, store, {0: ([], []), 2: ([], [])})
    assert store._meta()["version"] == 0


def test_change_feed_sees_payload_only_winner_flip(spark):
    """r13 ADVICE (low): _latest_per_key can deterministically flip a
    key's winner on tiebreak (payload) columns alone — duplicate
    version keys under at-least-once delivery, the r13 rowshuffle
    class. The pre-fix changes() diffed only self.order, so vN → vN+1
    could change a key's stored payload with NO feed row and
    incremental consumers silently diverged from the snapshot. The
    feed must now emit an update for payload-only flips, including
    NULL → value transitions (null-safe compare)."""
    import datetime
    import os
    import tempfile

    from servicenow_cmdb_integration_to_aws_spark.streaming.compaction import (
        SnapshotStore,
    )

    log_dir = tempfile.mkdtemp(prefix="feed_flip_log_")
    store = SnapshotStore(
        tempfile.mkdtemp(prefix="feed_flip_snap_"),
        key="user_id",
        order=["ts"],
    )
    t0 = datetime.datetime(2024, 1, 1, 12, 0, 0)

    def write_batch(bid, rows):
        spark.createDataFrame(
            rows, "user_id long, ts timestamp, payload string"
        ).write.parquet(os.path.join(log_dir, f"batch_id={bid}"))

    # v1: user 1 payload 'a'; user 2 payload NULL; user 3 unchanged
    write_batch(0, [(1, t0, "a"), (2, t0, None), (3, t0, "z")])
    assert store.compact(spark, log_dir) == 1
    # v2 delta ties each key on ts (the version column) exactly:
    # user 1 gains 'b' (> 'a' under DESC NULLS LAST -> winner flips),
    # user 2 gains 'x' (beats NULL), user 3 re-delivers 'z' (no-op)
    write_batch(1, [(1, t0, "b"), (2, t0, "x"), (3, t0, "z")])
    assert store.compact(spark, log_dir) == 2
    feed = {
        r["user_id"]: r
        for r in store.changes(spark, 1, 2).collect()
    }
    assert set(feed) == {1, 2}  # user 3 unchanged => no row
    assert feed[1]["change_op"] == "update"
    assert (feed[1]["old_payload"], feed[1]["new_payload"]) == ("a", "b")
    assert feed[1]["old_ts"] == feed[1]["new_ts"] == t0
    # NULL -> 'x' must not vanish into a NULL comparison
    assert feed[2]["change_op"] == "update"
    assert (feed[2]["old_payload"], feed[2]["new_payload"]) == (None, "x")


def test_time_travel_read_pins_and_refuses(spark):
    """i23 mechanics: (1) a version read resolved at _LATEST=v1 returns
    IDENTICAL rows after a concurrent compaction advances the store to
    v2 (immutable version dirs); (2) never-committed versions refuse —
    v0, v > _LATEST, and crucially an ORPHAN v-dir a crashed compactor
    left behind (data exists on disk but was never committed); (3) a
    committed version whose dir retention garbage-collected refuses
    loudly instead of surfacing a parquet path error."""
    import os
    import shutil

    store, log_dir, write_batch = _mini_store(spark)
    write_batch(0, [(1, 10, 0), (2, 20, 1)])
    assert store.compact(spark, log_dir) == 1
    pinned = store.read_version(spark, 1)
    before = sorted(map(tuple, pinned.collect()))
    write_batch(1, [(3, 10, 2), (4, 30, 3)])
    assert store.compact(spark, log_dir) == 2
    # immune to the concurrent compact: same plan, same rows
    assert sorted(map(tuple, pinned.collect())) == before
    # a fresh AS-OF read of v1 equals the pre-compaction read
    assert sorted(map(tuple, store.read_version(spark, 1).collect())) == before
    assert store.read_version(spark, 2).count() == 3  # users 10, 20, 30

    # refusals: below/above the committed range
    with pytest.raises(ValueError, match="does not exist"):
        store.read_version(spark, 0)
    with pytest.raises(ValueError, match="does not exist"):
        store.read_version(spark, 3)
    # an orphan v=3 dir (crash after the fold write, before the
    # _LATEST replace) must stay unreadable: never committed
    write_batch(2, [(5, 40, 4)])

    class _Boom(RuntimeError):
        pass

    def fault(point):
        if point == "after_fold_write":
            raise _Boom(point)

    store._fault = fault
    with pytest.raises(_Boom):
        store.compact(spark, log_dir)
    store._fault = None
    assert os.path.isdir(os.path.join(store.root, "v=3"))  # orphan exists
    with pytest.raises(ValueError, match="does not exist"):
        store.read_version(spark, 3)
    # GC'd committed version: loud refusal naming the cause
    shutil.rmtree(os.path.join(store.root, "v=1"))
    with pytest.raises(ValueError, match="garbage-collected"):
        store.read_version(spark, 1)
    # the latest version is untouched by either refusal path
    assert store.read_version(spark, 2).count() == 3


def test_store_group_cross_process_commit_exclusion_and_atomic_manifest(
    tmp_path,
):
    """r13 verdict item 4: the torn-pair/atomic-flip/flock pins above
    run writer and reader as THREADS in one process, and flock
    semantics are per open-file-DESCRIPTION — only a subprocess
    committer pins the actual multi-process story the docstrings
    claim (the group flock standing in for a shared store's
    conditional put). A child PROCESS runs group commits that advance
    both members and publish manifests by atomic rename; the parent
    (a) proves taking the group lock BLOCKS while the child holds it
    (cross-process exclusion), and (b) polls the manifest continuously
    and must never observe a torn pair or a version going backwards
    (atomic-rename visibility across processes).

    The members' _LATEST is advanced through the store's own _commit
    primitive (temp-write + atomic replace — exactly what compact()
    publishes after the fold's parquet write); the fold itself needs a
    SparkSession and is irrelevant to the publication protocol under
    test, so the child stays Spark-free and fast."""
    import json
    import os
    import subprocess
    import sys
    import time

    from servicenow_cmdb_integration_to_aws_spark.streaming.compaction import (
        SnapshotStore,
        StoreGroup,
    )

    group_root = str(tmp_path / "group")
    root_a = str(tmp_path / "a")
    root_b = str(tmp_path / "b")
    k_commits = 30
    child_code = """
import os, sys, time
sys.path.insert(0, sys.argv[5])
from servicenow_cmdb_integration_to_aws_spark.streaming.compaction import (
    SnapshotStore, StoreGroup)
group_root, root_a, root_b = sys.argv[1], sys.argv[2], sys.argv[3]
k = int(sys.argv[4])
a = SnapshotStore(root_a, key="user_id", order=["ts"])
b = SnapshotStore(root_b, key="user_id", order=["ts"])
g = StoreGroup(group_root, {"a": a, "b": b})
with g.commit():
    # tell the parent the group flock is held, then keep holding it
    open(os.path.join(group_root, "CHILD_HAS_LOCK"), "w").close()
    time.sleep(2.0)
    a._commit({"version": 1, "compacted_through": 0})
    b._commit({"version": 1, "compacted_through": 0})
for v in range(2, k + 1):
    with g.commit():
        a._commit({"version": v, "compacted_through": v - 1})
        time.sleep(0.005)  # widen the torn _LATEST window (a=v, b=v-1)
        b._commit({"version": v, "compacted_through": v - 1})
"""
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    stores = {
        "a": SnapshotStore(root_a, key="user_id", order=["ts"]),
        "b": SnapshotStore(root_b, key="user_id", order=["ts"]),
    }
    group = StoreGroup(group_root, stores)
    child = subprocess.Popen(
        [sys.executable, "-c", child_code,
         group_root, root_a, root_b, str(k_commits), repo],
        stdout=subprocess.PIPE, stderr=subprocess.PIPE,
    )
    try:
        # (a) cross-process exclusion: once the child signals it holds
        # the group flock, our own commit must BLOCK until it releases
        deadline = time.monotonic() + 30
        flag = os.path.join(group_root, "CHILD_HAS_LOCK")
        while not os.path.exists(flag):
            assert time.monotonic() < deadline, "child never took the lock"
            assert child.poll() is None, child.stderr.read().decode()
            time.sleep(0.01)
        t0 = time.monotonic()
        with group.commit():
            pass  # members are at v1 by the time we get the lock
        waited = time.monotonic() - t0
        assert waited > 1.0, (
            f"parent acquired the group lock in {waited:.3f}s while the "
            "child process held it — flock is not excluding across "
            "processes"
        )
        # our commit may land between ANY of the child's later commits
        # (both contend for the flock fairly) — but because members
        # only move INSIDE the lock, whatever we published must be an
        # un-torn pair at least at the child's phase-1 level
        m0 = group.manifest()
        assert m0["a"] == m0["b"] >= 1, m0
        # (b) atomic manifest visibility: poll across the child's
        # remaining commits; every observation must be un-torn and
        # monotone even though the members' _LATEST files are torn
        # (a=v, b=v-1) for a widened window inside each commit
        seen = m0["a"]
        observations = 0
        deadline = time.monotonic() + 60
        while True:
            m = group.manifest()
            assert m["a"] == m["b"], f"torn manifest observed: {m}"
            assert m["a"] >= seen, f"manifest went backwards: {m} < {seen}"
            seen = m["a"]
            observations += 1
            if seen == k_commits:
                break
            assert time.monotonic() < deadline, (
                f"child stalled at version {seen}; "
                f"stderr: {child.stderr.peek()[:500]!r}"
            )
        # with 30 commits each widened by a 5 ms torn window, a tight
        # file-read poll loop observes many intermediate manifests —
        # but the INVARIANT checks above are the pin, so only sanity-
        # check that we polled at all (no flaky concurrency quota)
        assert observations >= 1
        assert child.wait(timeout=30) == 0, child.stderr.read().decode()
    finally:
        if child.poll() is None:
            child.kill()


def test_gc_and_prune_log_retention_contracts(spark):
    """Retention, both sweeps, both safety rules (r14): gc() deletes
    only COMMITTED versions older than keep_last — never the current
    version, never an uncommitted orphan above _LATEST (a crashed
    compactor's retry owns that dir) — and time travel to a swept
    version refuses loudly. prune_log() deletes only batches at or
    below compacted_through, so the store's gap refusals can never
    fire on a log this helper maintained: compact()/read() keep
    working across interleaved prunes."""
    import os

    from servicenow_cmdb_integration_to_aws_spark.streaming.compaction import (
        prune_log,
    )

    store, log_dir, write_batch = _mini_store(spark)
    write_batch(0, [(1, 10, 0), (2, 20, 1)])
    assert store.compact(spark, log_dir) == 1
    write_batch(1, [(3, 10, 2)])
    assert store.compact(spark, log_dir) == 2
    write_batch(2, [(4, 30, 3)])
    assert store.compact(spark, log_dir) == 3

    # keep_last=2: v1 goes, v2/v3 stay; repeat sweep is a no-op
    assert store.gc(keep_last=2) == [1]
    assert store.gc(keep_last=2) == []
    assert not os.path.isdir(os.path.join(store.root, "v=1"))
    with pytest.raises(ValueError, match="garbage-collected"):
        store.read_version(spark, 1)
    assert store.read_version(spark, 2).count() == 2
    assert store.read_version(spark, 3).count() == 3
    with pytest.raises(ValueError, match="keep_last"):
        store.gc(keep_last=0)

    # an uncommitted orphan above _LATEST survives any sweep: the
    # crashed compactor's retry overwrites it, gc must not race that
    write_batch(3, [(5, 40, 4)])

    class _Boom(RuntimeError):
        pass

    def fault(point):
        if point == "after_fold_write":
            raise _Boom(point)

    store._fault = fault
    with pytest.raises(_Boom):
        store.compact(spark, log_dir)
    store._fault = None
    assert os.path.isdir(os.path.join(store.root, "v=4"))  # orphan
    assert store.gc(keep_last=1) == [2]  # v3 current, v4 orphan kept
    assert os.path.isdir(os.path.join(store.root, "v=4"))
    # the retry then commits v4 normally over its own orphan
    assert store.compact(spark, log_dir) == 4

    # prune_log: only ids <= compacted_through go; the tail survives
    write_batch(4, [(6, 50, 5)])
    assert prune_log(store, log_dir) == [0, 1, 2, 3]
    left = sorted(os.listdir(log_dir))
    assert left == ["batch_id=4"]
    # the maintained log never trips the gap refusals
    assert store.read(spark, log_dir).count() == 5  # users 10..50
    assert store.compact(spark, log_dir) == 5
    assert prune_log(store, log_dir) == [4]
    assert store.read(spark, log_dir).count() == 5


def test_store_group_gc_honors_manifest_pins(spark):
    """r14 group-aware retention: StoreGroup.gc() sweeps members like
    the store-level gc but never a version the published manifest
    pins — the external-pin hazard SnapshotStore.gc documents, closed
    where the pins are known. A member compacted ahead of the
    manifest keeps BOTH its pinned version and its keep_last newest;
    after the next group commit re-pins, the stale version becomes
    sweepable."""
    import os
    import tempfile

    from servicenow_cmdb_integration_to_aws_spark.streaming.compaction import (
        StoreGroup,
    )

    store_a, log_a, write_a = _mini_store(spark)
    store_b, log_b, write_b = _mini_store(spark)
    group = StoreGroup(
        tempfile.mkdtemp(prefix="gc_group_"), {"a": store_a, "b": store_b}
    )
    write_a(0, [(1, 10, 0)])
    write_b(0, [(1, 10, 0)])
    with group.commit() as g:
        assert g.compact("a", spark, log_a) == 1
        assert g.compact("b", spark, log_b) == 1
    # member a races ahead OUTSIDE the group: v2, v3 (manifest still
    # pins a@1) — gc(keep_last=1) may sweep only v2: v3 is newest,
    # v1 is manifest-pinned
    for bid, rows in ((1, [(2, 20, 1)]), (2, [(3, 30, 2)])):
        write_a(bid, rows)
        assert store_a.compact(spark, log_a) == bid + 1
    assert group.gc(keep_last=1) == {"a": [2], "b": []}
    assert os.path.isdir(os.path.join(store_a.root, "v=1"))  # pinned
    assert os.path.isdir(os.path.join(store_a.root, "v=3"))  # newest
    assert not os.path.isdir(os.path.join(store_a.root, "v=2"))
    # the pinned read still resolves after the sweep
    assert group.read_pinned(spark)["a"].count() == 1
    # a fresh group commit re-pins {a: 4, b: 2}; v1 becomes sweepable
    write_a(3, [(4, 40, 3)])
    write_b(1, [(5, 50, 4)])
    with group.commit() as g:
        assert g.compact("a", spark, log_a) == 4
        assert g.compact("b", spark, log_b) == 2
    assert group.gc(keep_last=1) == {"a": [1, 3], "b": [1]}
    assert group.read_pinned(spark)["a"].count() == 4
    assert group.read_pinned(spark)["b"].count() == 2
    with pytest.raises(ValueError, match="keep_last"):
        group.gc(keep_last=0)


def _publish_store_latest(tmp_path, spark):
    from servicenow_cmdb_integration_to_aws_spark.streaming.compaction import (
        SnapshotStore,
    )

    store = SnapshotStore(str(tmp_path), key="user_id", order=["ts"])
    return (
        lambda: store._commit({"version": 1, "compacted_through": 0}),
        tmp_path / "_LATEST",
    )


def _publish_group_manifest(tmp_path, spark):
    from servicenow_cmdb_integration_to_aws_spark.streaming.compaction import (
        SnapshotStore,
        StoreGroup,
    )

    stores = {
        n: SnapshotStore(str(tmp_path / n), key="user_id", order=["ts"])
        for n in ("a", "b")
    }
    for s in stores.values():
        s._commit({"version": 1, "compacted_through": 0})
    group = StoreGroup(str(tmp_path / "group"), stores)

    def run():
        with group.commit():
            pass

    return run, tmp_path / "group" / "_MANIFEST"


def _publish_watermark(tmp_path, spark):
    import datetime

    from servicenow_cmdb_integration_to_aws_spark.streaming.incremental import (
        WatermarkStore,
    )

    store = WatermarkStore(str(tmp_path / "wm.json"))
    return (
        lambda: store.write("cmdb_ci", datetime.datetime(2024, 1, 1)),
        tmp_path / "wm.json",
    )


def _publish_sink_compact(tmp_path, spark):
    from servicenow_cmdb_integration_to_aws_spark.streaming.stream_ops import (
        compact_stream_sink,
    )

    out, _ = _mk_fragmented_sink(spark, n_batches=3)
    return (
        lambda: compact_stream_sink(spark, out),
        os.path.join(out, "_spark_metadata", "2.compact"),
    )


def _publish_upsert_manifest(tmp_path, spark):
    from servicenow_cmdb_integration_to_aws_spark.sources.python_source import (
        OrdersUpsertWriter,
        _UpsertCommit,
    )

    (tmp_path / "_staging").mkdir()
    staged = tmp_path / "_staging" / "part-0.csv"
    staged.write_text("1,O,1.5\n")
    writer = OrdersUpsertWriter({"path": str(tmp_path)})
    return (
        lambda: writer.commit([_UpsertCommit(str(staged), 1)]),
        tmp_path / "_MANIFEST",
    )


@pytest.mark.parametrize(
    "make",
    [
        _publish_store_latest,
        _publish_group_manifest,
        _publish_watermark,
        _publish_sink_compact,
        _publish_upsert_manifest,
    ],
    ids=["store_latest", "group_manifest", "watermark", "sink_compact", "a20"],
)
def test_commit_record_is_fsynced_before_rename(
    spark, tmp_path, monkeypatch, make
):
    """Every commit record is durable before it is live: the temp file
    renamed over the record was fsync'd first, so a power loss after
    the rename cannot publish an empty or torn record."""
    run, record = make(tmp_path, spark)
    events = []
    real_fsync, real_replace = os.fsync, os.replace

    def fsync(fd):
        events.append(("fsync", os.fstat(fd).st_ino))
        real_fsync(fd)

    def replace(src, dst, *args, **kwargs):
        events.append(("replace", os.stat(src).st_ino, os.fspath(dst)))
        real_replace(src, dst, *args, **kwargs)

    monkeypatch.setattr(os, "fsync", fsync)
    monkeypatch.setattr(os, "replace", replace)
    run()
    monkeypatch.undo()

    at = [
        i
        for i, e in enumerate(events)
        if e[0] == "replace" and e[2] == str(record)
    ]
    assert len(at) == 1, events
    assert ("fsync", events[at[0]][1]) in events[: at[0]], events
