"""Shared fixtures: one SparkSession and one DuckDB connection per run."""

from __future__ import annotations

import os
import shutil
import sys
import tempfile

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)
sys.path.append(os.path.join(ROOT, "tools"))  # idrun, driver_order

import idrun
import servicenow_cmdb_integration_to_aws_spark as engine
from servicenow_cmdb_integration_to_aws_spark.session import build_session

SF_SMALL = os.environ.get("SPARK_GRAFT_TEST_SF", "/root/testdata/sf0.001")


@pytest.fixture(scope="session", autouse=True)
def _tempdir(tmp_path_factory):
    """Every temp file of the run lands in one dir under pytest's
    basetemp, removed at teardown: the tests' own `tempfile` calls, the
    engine's scratch root, and (set before the session starts) the
    Spark JVM's and Python workers' temp files. Workers and the driver
    must agree on the dir: a8's pushdown sidecar is written by one and
    read by the other."""
    d = str(tmp_path_factory.mktemp("tempfile"))
    opts = os.environ.get("SPARK_SUBMIT_OPTS", "")
    with pytest.MonkeyPatch.context() as mp:
        mp.setattr(tempfile, "tempdir", d)
        mp.setenv("TMPDIR", d)
        mp.setenv("SPARK_SUBMIT_OPTS", f"{opts} -Djava.io.tmpdir={d}".strip())
        yield d
    shutil.rmtree(d, ignore_errors=True)


@pytest.fixture(scope="session")
def spark():
    engine.load_all()
    s = build_session("pytest")
    yield s
    s.stop()  # Spark removes its block-manager dirs under SPARK_LOCAL_DIRS


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_SMALL


@pytest.fixture(scope="session")
def duck():
    con = idrun.duck(SF_SMALL)
    yield con
    con.close()
