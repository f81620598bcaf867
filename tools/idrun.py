"""The id runner under the query-checking tools.

``check_parity``, ``check_determinism``, ``check_dtypes``,
``check_rescans`` and ``profile_ids`` run the registry contract id by
id. Their shared set-up lives here: the command line (``parse``), the
session and registry maps (``session``), the DuckDB views (``duck``)
and the timed per-id loop (``each``). Each tool keeps only its own
comparison.
"""

from __future__ import annotations

import argparse
import os
import sys
import time
from collections import Counter
from collections.abc import Callable, Iterable

import duckdb

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entrymod  # the exact surface the driver imports
from servicenow_cmdb_integration_to_aws_spark import scratch
from servicenow_cmdb_integration_to_aws_spark.session import build_session
from servicenow_cmdb_integration_to_aws_spark.sources.tables import TABLE_NAMES


def parse(
    ap: argparse.ArgumentParser, sf: str, nargs: str = "*"
) -> argparse.Namespace:
    """Add ``--sf`` (default ``sf``) and the id list to ``ap``, then
    parse the command line. A mistyped id must not pass as zero
    failures, so any unregistered id is a usage error."""
    ap.add_argument("--sf", default=sf)
    ap.add_argument("ids", nargs=nargs)
    args = ap.parse_args()
    unknown = [qid for qid in args.ids if qid not in entrymod.queries()]
    if unknown:
        ap.error(f"not registered: {' '.join(unknown)}")
    return args


def session(app: str):
    """(spark, queries, oracles): the engine's own session and the
    registry maps the driver reads."""
    return build_session(app), entrymod.queries(), entrymod.oracle_sql()


def duck(sf_dir: str) -> duckdb.DuckDBPyConnection:
    """A UTC DuckDB connection with one view per table of ``sf_dir``.
    The sf corpora store a table as one file; Spark-written and
    ``--filesplit`` corpora store it as a directory of part files."""
    con = duckdb.connect()
    con.execute("SET TimeZone='UTC'")
    for t in TABLE_NAMES:
        path = os.path.join(sf_dir, f"{t}.parquet")
        if os.path.isdir(path):
            path = os.path.join(path, "*.parquet")
        con.execute(
            f"CREATE OR REPLACE VIEW {t} AS SELECT * FROM read_parquet('{path}')"
        )
    return con


def each(
    ids: Iterable[str],
    check: Callable[[str], tuple[str, str | None]],
    err: str = "FAIL",
) -> Counter:
    """Run ``check(qid)`` for every id and count the verdicts.

    ``check`` returns ``(verdict, detail)``; a detail that is not None
    is printed as ``<verdict> <qid>: <detail> (<seconds>s)``. An
    exception is that id's failure: verdict ``err``, the exception as
    its detail. ``check`` consumes the id's results, so the temp dirs
    its query bodies made are freed when it returns."""
    tally: Counter = Counter()
    for qid in ids:
        t0 = time.perf_counter()
        try:
            with scratch.scope():
                verdict, detail = check(qid)
        except Exception as ex:  # noqa: BLE001 - one id fails, the run goes on
            verdict, detail = err, f"{type(ex).__name__}: {ex}"
        if detail is not None:
            dt = time.perf_counter() - t0
            print(f"{verdict} {qid}: {detail} ({dt:.1f}s)", flush=True)
        tally[verdict] += 1
    return tally
