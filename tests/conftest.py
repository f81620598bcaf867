"""Shared fixtures: one SparkSession and one DuckDB connection per run."""

from __future__ import annotations

import os
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)
sys.path.append(os.path.join(ROOT, "tools"))  # idrun, driver_order

import idrun
import servicenow_cmdb_integration_to_aws_spark as engine
from servicenow_cmdb_integration_to_aws_spark.session import build_session

SF_SMALL = os.environ.get("SPARK_GRAFT_TEST_SF", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    engine.load_all()
    s = build_session("pytest")
    yield s


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_SMALL


@pytest.fixture(scope="session")
def duck():
    con = idrun.duck(SF_SMALL)
    yield con
    con.close()
