"""Smoke: driver contract shape + flagship query end-to-end at sf0.001."""

from __future__ import annotations

import os
import subprocess
import sys

import pytest

import __spark_entry__ as entrymod


def test_contract_shape():
    q = entrymod.queries()
    o = entrymod.oracle_sql()
    assert q, "no queries registered"
    assert set(o) <= set(q), "oracle id without a query"
    # every callable takes (spark, sf_dir)
    for qid, fn in q.items():
        assert callable(fn), qid


def test_driver_order_rule(tmp_path):
    """Unlisted ids lead in registration order, listed ids follow the
    JSON order, and without the JSON registration order holds."""
    import json

    from servicenow_cmdb_integration_to_aws_spark import driver_order

    path = tmp_path / "driver_order.json"
    ids = ["x1", "new_b", "x2", "x3", "new_a"]
    assert driver_order(ids, path) == ids
    path.write_text(json.dumps(["x3", "gone", "x1", "x2"]))
    assert driver_order(ids, path) == ["new_b", "new_a", "x3", "x1", "x2"]


def test_committed_driver_order_names_registered_ids_once():
    import json

    from servicenow_cmdb_integration_to_aws_spark import DRIVER_ORDER_JSON

    listed = json.loads(DRIVER_ORDER_JSON.read_text())
    assert len(listed) == len(set(listed))
    assert set(listed) <= set(entrymod.queries())
    assert list(entrymod.queries())[-len(listed) :] == listed


def test_committed_driver_order_is_current():
    """The committed JSON equals the order tools/driver_order.py derives
    now; after editing any @query body, rerun the tool and commit."""
    import json

    import driver_order as tool

    assert tool.driver_order() == json.loads(tool.OUT.read_text())


_TEMP_CALLS = {("tempfile", f) for f in ("mkdtemp", "mkstemp", "TemporaryDirectory")}


@pytest.mark.parametrize(
    "home, module, names, dir_ok",
    [
        # locks and durable publishes
        ("statefile.py", "fcntl", {("os", "fsync"), ("tempfile", "mkstemp")}, False),
        # temp dirs and exit cleanups; a call that names its parent
        # dir (a cache under scratch.root(), a sink's hidden temp) is
        # placed by its caller
        ("scratch.py", "atexit", _TEMP_CALLS, True),
        # how a derived step is keyed to the table files it reads
        (
            "sources/tables.py",
            None,
            {(None, "content_stamp"), (None, "_cmdb_scan_df_cache")},
            False,
        ),
        # schema inference: every other read of parquet names a schema
        # or goes through read_written
        ("sources/tables.py", None, {("read", "parquet")}, False),
    ],
    ids=["statefile", "scratch", "memo", "inference"],
)
def test_state_file_jobs_live_in_statefile_only(home, module, names, dir_ok):
    """A recurring job has one home module: no other package module
    imports `module` or uses one of `names` (unless `dir_ok` and the
    call passes `dir=`). statefile.py owns the lock (fcntl) and the
    durable publish (os.fsync, tempfile.mkstemp); scratch.py owns temp
    dirs (tempfile.mkdtemp, mkstemp, TemporaryDirectory) and the exit
    cleanup (atexit); sources/tables.py owns the memo keys (the content
    stamp and the session's fragment dict) and schema inference (a
    `<x>.read.parquet` with no `.schema(...)` between). A `None` module
    in `names` matches the name on any module, and as a string
    constant; a module name also matches the attribute the name hangs
    off (`read` in `spark.read.parquet`)."""
    import ast
    import pathlib

    import servicenow_cmdb_integration_to_aws_spark as pkg

    root = pathlib.Path(pkg.__file__).parent
    offenders = []
    for path in sorted(root.rglob("*.py")):
        if path.relative_to(root).as_posix() == home:
            continue
        tree = ast.parse(path.read_text())
        placed = {
            id(node.func)
            for node in ast.walk(tree)
            if dir_ok
            and isinstance(node, ast.Call)
            and any(k.arg == "dir" for k in node.keywords)
        }
        for node in ast.walk(tree):
            if isinstance(node, ast.Import):
                bad = any(a.name == module for a in node.names)
            elif isinstance(node, ast.ImportFrom):
                bad = (module is not None and node.module == module) or any(
                    {(node.module, a.name), (None, a.name)} & names
                    for a in node.names
                )
            elif isinstance(node, ast.Attribute):
                if isinstance(node.value, ast.Name):
                    base = node.value.id
                elif isinstance(node.value, ast.Attribute):  # spark.read.parquet
                    base = node.value.attr
                else:
                    base = None
                bad = (
                    {(base, node.attr), (None, node.attr)} & names
                    and id(node) not in placed
                )
            elif isinstance(node, ast.Constant) and isinstance(node.value, str):
                bad = (None, node.value) in names
            else:
                continue
            if bad:
                offenders.append(f"{path.relative_to(root)}:{node.lineno}")
    assert not offenders, offenders


def test_memo_first_writer_wins_and_drops_the_rest(tmp_path):
    """Threads that cold-miss one key together all get the first
    writer's value, and every losing build goes to `drop` (two threads
    staging one stream source used to leave an orphan copy). A regen in
    place misses, and the superseded entry goes to `drop`. No Spark."""
    import threading
    import time

    from servicenow_cmdb_integration_to_aws_spark.sources.tables import memo

    sf = str(tmp_path)
    (tmp_path / "t.parquet").write_bytes(b"gen1")
    cache, built, dropped, got = {}, [], [], []
    n = 4 * (os.cpu_count() or 1)
    gate = threading.Barrier(n)

    def build():
        time.sleep(0.01)  # every client misses before the first insert
        v = object()
        built.append(v)
        return v

    def client():
        gate.wait(60)
        got.append(memo(cache, sf, "t", build, drop=dropped.append))

    prev = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        threads = [threading.Thread(target=client) for _ in range(n)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(60)
    finally:
        sys.setswitchinterval(prev)
    assert not any(t.is_alive() for t in threads)
    assert len(got) == n and all(v is got[0] for v in got)
    assert len(built) > 1  # the race happened
    assert sorted(map(id, dropped)) == sorted(id(v) for v in built if v is not got[0])
    assert list(cache.values()) == [got[0]]

    (tmp_path / "t.parquet").write_bytes(b"generation two")
    fresh = memo(cache, sf, "t", object, drop=dropped.append)
    assert fresh is not got[0] and dropped[-1] is got[0]
    assert list(cache.values()) == [fresh]


def test_scratch_root_is_lazy_and_removed_at_exit(tmp_path):
    """Importing scratch makes no dir (Spark's Python workers import
    package modules and never run exit handlers); the first mkdtemp
    makes the per-process root; a scope frees only the dirs its own
    thread made in it; a normal exit removes the root with every dir
    under it. No Spark."""
    code = (
        "import os, sys, threading\n"
        "from servicenow_cmdb_integration_to_aws_spark import scratch\n"
        "assert not os.listdir(sys.argv[1])\n"
        "a, other = scratch.mkdtemp('a_'), []\n"
        "with scratch.scope():\n"
        "    b = scratch.mkdtemp('b_')\n"
        "    t = threading.Thread(target=lambda: other.append(scratch.mkdtemp('c_')))\n"
        "    t.start(); t.join(60)\n"
        "assert not os.path.exists(b) and os.path.isdir(a) and os.path.isdir(other[0])\n"
        "assert os.path.dirname(a) == os.path.dirname(other[0]) == scratch.root()\n"
        "print(scratch.root())\n"
    )
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    proc = subprocess.run(
        [sys.executable, "-c", code, str(tmp_path)],
        cwd=root, env={**os.environ, "TMPDIR": str(tmp_path)},
        capture_output=True, text=True, timeout=120,
    )
    assert proc.returncode == 0, proc.stderr
    assert proc.stdout.strip().startswith(str(tmp_path))
    assert not os.listdir(tmp_path)


@pytest.mark.parametrize(
    "tool",
    ["check_parity", "check_determinism", "check_dtypes", "check_rescans", "profile_ids"],
)
def test_tool_rejects_unregistered_id(tool, tmp_path):
    """A mistyped id is a usage error before any session starts: with a
    SPARK_GRAFT_CPUS that build_session cannot parse, reaching the
    session would exit 1, not 2."""
    env = {**os.environ, "SPARK_GRAFT_CPUS": "no-session"}
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    script = os.path.join(root, "tools", f"{tool}.py")
    proc = subprocess.run(
        [sys.executable, script, "no_such_id"],
        cwd=tmp_path, env=env, capture_output=True, text=True, timeout=120,
    )
    assert proc.returncode == 2, proc.stderr
    assert "not registered: no_such_id" in proc.stderr


def test_duck_views_read_directory_tables(sf_dir, tmp_path):
    """idrun.duck reads a table stored as a directory of part files (two
    parts plus one empty part, the --filesplit shape) like the file."""
    import idrun
    import pyarrow.parquet as pq

    for t in idrun.TABLE_NAMES:
        tbl = pq.read_table(os.path.join(sf_dir, f"{t}.parquet"))
        d = tmp_path / f"{t}.parquet"
        d.mkdir()
        half = tbl.num_rows // 2
        pq.write_table(tbl.slice(0, 0), d / "part-0.parquet")
        pq.write_table(tbl.slice(0, half), d / "part-1.parquet")
        pq.write_table(tbl.slice(half), d / "part-2.parquet")

    def counts(con):
        return {
            t: con.execute(f"SELECT count(*) FROM {t}").fetchone()[0]
            for t in idrun.TABLE_NAMES
        }

    assert counts(idrun.duck(str(tmp_path))) == counts(idrun.duck(sf_dir))


def test_entry_flagship(spark):
    df = entrymod.entry(spark)
    rows = df.collect()
    assert len(rows) > 0
    cols = set(df.columns)
    assert {"l_returnflag", "l_linestatus", "sum_qty", "count_order"} <= cols


def test_every_query_runs_sf0001(spark, sf_dir):
    """Each registered query executes and yields a stable schema at sf0.001."""
    for qid, fn in entrymod.queries().items():
        df = fn(spark, sf_dir)
        assert df.columns, qid
        df.limit(5).collect()


def test_cmdb_engine_facade(spark, sf_dir):
    """CmdbEngine delegates to the oracle-tested operator machinery:
    scan, encoded query, closure, components, transform-map upsert,
    and corpus dup-clustering all run end-to-end from the facade."""
    from pyspark.sql import functions as F

    from servicenow_cmdb_integration_to_aws_spark import CmdbEngine
    from servicenow_cmdb_integration_to_aws_spark.operators.transform_map import (
        FieldMap,
    )

    eng = CmdbEngine(spark, sf_dir)
    assert eng.table("region").count() == 5
    assert (
        eng.encoded_query("orders", "o_orderstatus=O^o_totalprice>300000").count()
        > 0
    )
    edges = eng.table("nation").select(
        F.col("n_regionkey").cast("string").alias("parent"),
        F.col("n_nationkey").cast("string").alias("child"),
    )
    assert eng.closure(edges).count() == 25
    staging = eng.table("customer").limit(10).select(
        F.col("c_custkey").alias("k"), F.col("c_name").alias("nm")
    )
    target = eng.table("customer").select("c_custkey", "c_name")
    merged = eng.transform_map(
        staging,
        [FieldMap("k", "c_custkey"), FieldMap("nm", "c_name", fn=F.upper)],
        target,
        "c_custkey",
    )
    assert merged.filter(F.col("row_source") == "update").count() == 10
    docs = eng.table("documents").limit(80).select("doc_id", "text")
    clusters = eng.dup_clusters(docs)
    assert clusters.count() == 80  # every doc gets a component label


def test_cmdb_engine_facade_tokens_and_range_join(spark, sf_dir):
    """Facade round 2b: token_counts matches j18's per-doc regex;
    range_join reproduces c14's matched pairs on the events table."""
    from pyspark.sql import functions as F

    from servicenow_cmdb_integration_to_aws_spark import CmdbEngine

    eng = CmdbEngine(spark, sf_dir)
    docs = eng.table("documents").select("doc_id", "text")
    tc = eng.token_counts(docs)
    assert tc.filter(F.col("n_tokens") <= 0).count() == 0
    assert tc.count() == docs.count()

    ev = eng.table("events")
    win = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("win_id"),
        "user_id",
        F.col("ts").alias("start_ts"),
        (F.col("ts") + F.expr("INTERVAL 2 HOURS")).alias("end_ts"),
    )
    pts = ev.filter(F.col("event_type") != "purchase").select(
        F.col("event_id").alias("p_id"), "user_id", "ts", "value"
    )
    got = eng.range_join(win, pts, "user_id")
    naive = win.alias("w").join(
        pts.alias("p"),
        (F.col("w.user_id") == F.col("p.user_id"))
        & (F.col("p.ts") > F.col("w.start_ts"))
        & (F.col("p.ts") <= F.col("w.end_ts")),
    )
    assert got.count() == naive.count() > 0


def test_cmdb_engine_facade_session4_surface(spark, sf_dir):
    """Facade round 5d: sessionize/scd2/profile/semdedup/compact/
    zorder_write/sql delegate to the oracle-tested machinery and
    agree with the registered queries where one exists."""
    import glob
    import tempfile

    from pyspark.sql import functions as F

    import __spark_entry__ as entrymod
    from servicenow_cmdb_integration_to_aws_spark import CmdbEngine

    eng = CmdbEngine(spark, sf_dir)
    ev = eng.table("events")

    # sessionize ≡ e12 (same defaults)
    got = eng.sessionize(ev).count()
    want = entrymod.queries()["e12_sessionize"](spark, sf_dir).count()
    assert got == want

    # scd2 over the event-type change log: versions cover all users
    ch = ev.select("user_id", F.col("event_type").alias("state"), "ts", "event_id")
    scd = eng.scd2(ch)
    assert scd.filter(F.col("is_current")).count() == ev.select("user_id").distinct().count()

    # profile: one row per column, zero nulls in lineitem keys
    prof = {r["column_name"]: r for r in eng.profile(
        eng.table("lineitem").select("l_orderkey", "l_suppkey"),
        ["l_orderkey", "l_suppkey"],
    ).collect()}
    assert prof["l_suppkey"]["n_null"] == 0 and int(prof["l_suppkey"]["n_distinct"]) > 0

    # semdedup default ≡ j41
    assert eng.semdedup().count() == entrymod.queries()["j41_semdedup"](spark, sf_dir).count()

    # compact: fragmented dir → fewer files, equal rows
    frag = tempfile.mkdtemp(prefix="facade_frag_")
    eng.table("region").repartition(16).write.mode("overwrite").parquet(frag)
    out = eng.compact(frag)
    assert len(glob.glob(out + "/*.parquet")) < 16
    assert spark.read.parquet(out).count() == 5

    # zorder_write: readable, row-complete
    zdir = tempfile.mkdtemp(prefix="facade_z_")
    eng.zorder_write(
        eng.table("lineitem").select("l_partkey", "l_suppkey"),
        "l_partkey", "l_suppkey", zdir,
    )
    assert spark.read.parquet(zdir).count() == eng.table("lineitem").count()

    # sql surface
    n = eng.sql("SELECT COUNT(*) AS n FROM sqlv_orders").collect()[0]["n"]
    assert n == eng.table("orders").count()


def test_facade_warehouse_surface(spark, tmp_path):
    """CmdbEngine warehouse delegation (r12): snapshot_store /
    consistent_read / store_group wire to the oracle-tested compaction
    machinery — one end-to-end pass over a tiny shared log."""
    import datetime
    import os

    from servicenow_cmdb_integration_to_aws_spark import CmdbEngine

    eng = CmdbEngine(spark, str(tmp_path))
    log = str(tmp_path / "log")
    sa = eng.snapshot_store(
        str(tmp_path / "a"), key="user_id", order=["ts", "event_id"]
    )
    sb = eng.snapshot_store(
        str(tmp_path / "b"), key="user_id", order=["ts", "event_id"]
    )
    spark.createDataFrame(
        [
            (1, 10, datetime.datetime(2024, 1, 1, 12)),
            (2, 10, datetime.datetime(2024, 1, 1, 13)),
            (3, 20, datetime.datetime(2024, 1, 1, 14)),
        ],
        "event_id long, user_id long, ts timestamp",
    ).write.parquet(os.path.join(log, "batch_id=0"))
    assert sa.compact(spark, log) == 1
    assert sb.compact(spark, log) == 1
    h, (da, db) = eng.consistent_read([(sa, log), (sb, log)])
    assert h == 0
    assert sorted(map(tuple, da.collect())) == sorted(map(tuple, db.collect()))
    assert da.count() == 2  # latest per user: users 10 and 20
    group = eng.store_group(str(tmp_path / "grp"), {"a": sa, "b": sb})
    with group.commit():
        pass  # members already folded; publish {a: 1, b: 1}
    assert group.manifest() == {"a": 1, "b": 1}
    assert group.read_pinned(spark)["a"].count() == 2
