"""REST-source connector tests: filter pushdown really happens,
unsupported predicates stay in Spark, and paging partitions the read.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from servicenow_cmdb_integration_to_aws_spark.sources import rest_source
from servicenow_cmdb_integration_to_aws_spark.sources.tables import (
    SCHEMAS,
    path_of,
    scan,
)


def _read(spark, sf_dir, **options):
    rest_source.register(spark)
    r = spark.read.format("snow_table").schema(SCHEMAS["customer"])
    for k, v in options.items():
        r = r.option(k, v)
    return r.option("path", path_of(sf_dir, "customer")).load()


def test_filters_are_pushed_to_server(spark, sf_dir):
    """The translated encoded query must reach the server — i.e. the
    predicates left Spark."""
    df = _read(spark, sf_dir).filter(
        (F.col("c_acctbal") > 1000.0)
        & F.col("c_mktsegment").isin("BUILDING", "AUTOMOBILE")
    )
    n = df.count()
    pushed = rest_source.last_pushed(path_of(sf_dir, "customer"))
    assert "c_acctbal>1000.0" in pushed, pushed
    assert "c_mktsegmentINBUILDING,AUTOMOBILE" in pushed, pushed
    # and the server-filtered result matches a local parquet evaluation
    expect = (
        scan(spark, sf_dir, "customer")
        .filter(
            (F.col("c_acctbal") > 1000.0)
            & F.col("c_mktsegment").isin("BUILDING", "AUTOMOBILE")
        )
        .count()
    )
    assert n == expect


def test_unsupported_filter_stays_in_spark(spark, sf_dir):
    """An expression the Table API grammar can't express (length())
    must NOT be pushed — Spark re-applies it post-scan and the result
    is still correct (the DSv2 residual-filter contract)."""
    df = _read(spark, sf_dir).filter(
        (F.length("c_name") % 2 == 0) & (F.col("c_acctbal") > 0.0)
    )
    n = df.count()
    pushed = rest_source.last_pushed(path_of(sf_dir, "customer"))
    # the length() expression itself is not translatable and must stay
    # in Spark; only its null-intolerance (ISNOTEMPTY) may be pushed
    for term in pushed.split("^"):
        if term.startswith("c_name"):
            assert term == "c_nameISNOTEMPTY", pushed
    assert "c_acctbal>0.0" in pushed, pushed
    expect = (
        scan(spark, sf_dir, "customer")
        .filter((F.length("c_name") % 2 == 0) & (F.col("c_acctbal") > 0.0))
        .count()
    )
    assert n == expect


def test_paged_read_partitions_and_reassembles(spark, sf_dir):
    """page_size < table size → multiple input partitions; the union of
    pages must equal the plain scan exactly (no dup/lost rows)."""
    df = _read(spark, sf_dir, page_size="100")
    assert df.rdd.getNumPartitions() > 1
    got = sorted(r["c_custkey"] for r in df.collect())
    expect = sorted(
        r["c_custkey"] for r in scan(spark, sf_dir, "customer").collect()
    )
    assert got == expect


def test_transient_page_failure_is_retried(spark, sf_dir, tmp_path):
    """Fault injection: with flaky_dir set, the FIRST fetch of every
    page raises a simulated 429; the reader's per-page retry must
    absorb it and still return the exact row set — no dup, no loss."""
    flaky = tmp_path / "faults"
    flaky.mkdir()
    df = _read(spark, sf_dir, page_size="100", flaky_dir=str(flaky))
    got = sorted(r["c_custkey"] for r in df.collect())
    expect = sorted(
        r["c_custkey"] for r in scan(spark, sf_dir, "customer").collect()
    )
    assert got == expect
    # every page really did fail once (markers written by the server)
    assert len(list(flaky.glob("page_*.failed"))) == len(got) // 100 + (
        1 if len(got) % 100 else 0
    )


def test_retries_exhausted_raises(spark, sf_dir, tmp_path):
    """max_retries=0 with fault injection on: the first attempt fails
    and there is no second — the task must surface the error rather
    than silently return a short page."""
    import pytest

    flaky = tmp_path / "faults0"
    flaky.mkdir()
    df = _read(
        spark, sf_dir, page_size="100000", flaky_dir=str(flaky), max_retries="0"
    )
    with pytest.raises(Exception, match="simulated 429|TransientServerError"):
        df.count()


def test_metacharacter_value_not_pushed(spark, sf_dir):
    """A filter value containing an encoded-query metacharacter ('^')
    has no escape syntax in the Table API grammar — it must be DECLINED
    (evaluated by Spark post-scan), not interpolated into the query
    where the server would parse it as extra terms."""
    df = _read(spark, sf_dir).filter(
        (F.col("c_name") == "evil^c_acctbal>0") & (F.col("c_acctbal") > 500.0)
    )
    n = df.count()  # no such customer
    pushed = rest_source.last_pushed(path_of(sf_dir, "customer"))
    assert "evil" not in pushed, pushed  # the unsafe term stayed in Spark
    assert "c_acctbal>500.0" in pushed, pushed  # the safe term was pushed
    assert n == 0
    # IN list with a comma inside a member is equally untranslatable
    df2 = _read(spark, sf_dir).filter(F.col("c_mktsegment").isin("A,B", "HOUSEHOLD"))
    n2 = df2.count()
    pushed2 = rest_source.last_pushed(path_of(sf_dir, "customer"))
    assert "A,B" not in pushed2, pushed2
    expect2 = (
        scan(spark, sf_dir, "customer")
        .filter(F.col("c_mktsegment").isin("A,B", "HOUSEHOLD"))
        .count()
    )
    assert n2 == expect2


def test_sidecar_reset_on_new_scan(spark, sf_dir):
    """A scan with no pushable filters must not report the previous
    scan's pushdown: the sidecar is truncated at reader construction."""
    _read(spark, sf_dir).filter(F.col("c_acctbal") > 9000.0).count()
    assert "c_acctbal>9000.0" in rest_source.last_pushed(path_of(sf_dir, "customer"))
    _read(spark, sf_dir).count()  # unfiltered scan
    assert rest_source.last_pushed(path_of(sf_dir, "customer")) == ""


def test_last_pushed_raises_when_worker_wrote_elsewhere(
    spark, sf_dir, tmp_path, monkeypatch
):
    """The worker writes the sidecar under its own temp dir. With only
    the driver's `tempfile.tempdir` moved, the driver finds no sidecar:
    that must raise and name the dir it looked in, not read as a scan
    that pushed nothing."""
    import re
    import tempfile

    import pytest

    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    _read(spark, sf_dir).filter(F.col("c_acctbal") > 9000.0).count()
    with pytest.raises(FileNotFoundError, match=re.escape(str(tmp_path))):
        rest_source.last_pushed(path_of(sf_dir, "customer"))


def test_register_failure_raises(spark, monkeypatch):
    """A failed connector registration raises at the call, like
    python_source's register, and is not swallowed until a later read
    fails with a less specific error."""
    import pytest
    from pyspark.sql.datasource import DataSourceRegistration

    def boom(self, cls):
        raise RuntimeError(f"cannot register {cls.name()}")

    monkeypatch.setattr(DataSourceRegistration, "register", boom)
    with pytest.raises(RuntimeError, match="cannot register snow_table"):
        rest_source.register(spark)


def test_python_sink_two_phase_commit(spark, sf_dir):
    """a20: after the write, staging must be EMPTY (all files renamed
    on commit, none leaked), the manifest totals must match the input
    exactly, and there is one committed file per write task."""
    import glob
    import json
    import os
    import tempfile

    from servicenow_cmdb_integration_to_aws_spark.sources.python_source import (
        register_sink,
    )
    from servicenow_cmdb_integration_to_aws_spark.sources.tables import scan

    register_sink(spark)
    out = tempfile.mkdtemp(prefix="a20_test_")
    o = scan(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    ).repartition(4)
    o.write.format("cmdb_upsert").option("path", out).mode("append").save()
    manifest = json.load(open(os.path.join(out, "_MANIFEST")))
    assert manifest["n_rows"] == o.count()
    committed = glob.glob(os.path.join(out, "committed", "*.csv"))
    assert len(committed) == manifest["n_files"] == 4
    assert glob.glob(os.path.join(out, "_staging", "*")) == []


def test_python_sink_write_from_worker_thread(spark, sf_dir):
    """Regression (BENCH_r05 crash): DataFrameWriter.save resolves
    Python data sources through the JVM THREAD-LOCAL active session
    (no default-session fallback). A custom-format write dispatched
    from a fresh Python thread lands on a fresh py4j JVM thread with
    no active session and threw DATA_SOURCE_NOT_FOUND despite the
    source being registered; the query wrapper's tune() now pins the
    active session per thread."""
    import json
    import os
    import tempfile
    import threading

    import servicenow_cmdb_integration_to_aws_spark as engine

    engine.load_all()
    errors: list = []

    def run():
        try:
            df = engine.QUERIES["a20_python_datasource_writer"](spark, sf_dir)
            assert df.count() > 0
        except Exception as ex:  # noqa: BLE001
            errors.append(ex)

    t = threading.Thread(target=run)
    t.start()
    t.join()
    assert not errors, errors
