"""Python Data Source with server-side filter pushdown (SURVEY §4/§7
phase 6) — the ServiceNow REST Table API pattern.

The domain's ONE essential optimization is pushing predicates to the
source as a `sysparm_query` encoded string so the server filters
before the wire [SN-API]. This module implements that with Spark's
Python Data Source API (PySpark ≥4.0):

- :class:`TableApiServer` simulates the REST endpoint (no network in
  this sandbox): it evaluates an encoded query over a parquet file and
  serves `sysparm_offset`/`sysparm_limit` pages — server-side
  filtering + pagination, exactly the Table API contract.
- :class:`SnowTableDataSource` is the Spark connector. `pushFilters`
  translates Catalyst filters (EqualTo/GreaterThan/In/StringStartsWith
  …) into encoded-query terms and accepts them; untranslatable filters
  are returned to Spark for post-scan evaluation (the DSv2 contract).
  `partitions()` asks the server for the filtered count and emits one
  InputPartition per page → PARALLEL paginated ingest.

100 TB notes: pushdown means the cluster never sees non-matching rows
— the dominant cost at scale is the wire, not the CPU. Pages map to
input partitions so ingest parallelism is `ceil(matching/page_size)`,
and each worker fetches only its page. ServiceNow ingest is
rate-limit-bound in practice, so the per-page fetch retries transient
server failures (HTTP 429/503 analogue) with exponential backoff —
deterministically testable via the `flaky_dir` fault-injection option,
which makes the first fetch of every page fail once.
"""

from __future__ import annotations

import os
import time
from collections import OrderedDict
from dataclasses import dataclass
from typing import Iterator

from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    EqualTo,
    Filter,
    GreaterThan,
    GreaterThanOrEqual,
    In,
    InputPartition,
    IsNotNull,
    LessThan,
    LessThanOrEqual,
    StringContains,
    StringEndsWith,
    StringStartsWith,
)

PAGE_SIZE_DEFAULT = 25_000


class TransientServerError(RuntimeError):
    """Simulated transient REST failure (HTTP 429/503 analogue)."""


# Per-process cache of filtered+sorted frames keyed by
# (path, query, file mtime): page fetches of the same scan stop
# re-reading and re-filtering the parquet. Bounded FIFO — a worker
# process serves a handful of concurrent scans at most.
_FRAME_CACHE: OrderedDict = OrderedDict()
_FRAME_CACHE_MAX = 8


class TableApiServer:
    """Simulated ServiceNow Table API: encoded-query filter + paging
    over one parquet 'table'. Lives driver-side for count() and inside
    each worker for page fetches (stateless; path + query pickle).

    ``flaky_dir`` injects deterministic transient faults: the first
    fetch of each page raises :class:`TransientServerError` (marker
    files in ``flaky_dir`` make this exactly-once per page across
    worker processes), subsequent attempts succeed."""

    def __init__(self, path: str, flaky_dir: str | None = None):
        self.path = path
        self.flaky_dir = flaky_dir

    def _frame(self, sysparm_query: str):
        key = (self.path, sysparm_query, os.stat(self.path).st_mtime_ns)
        hit = _FRAME_CACHE.get(key)
        if hit is not None:
            return hit
        pdf = self._frame_uncached(sysparm_query)
        _FRAME_CACHE[key] = pdf
        while len(_FRAME_CACHE) > _FRAME_CACHE_MAX:
            _FRAME_CACHE.popitem(last=False)
        return pdf

    def _frame_uncached(self, sysparm_query: str):
        import pandas as pd  # noqa: F401  (worker-side import)
        import pyarrow.parquet as pq

        pdf = pq.read_table(self.path).to_pandas()
        if sysparm_query:
            from ..plans.encoded_query import parse

            groups = parse(sysparm_query)
            if len(groups) != 1:
                raise ValueError("server supports a single ^NQ branch")
            mask = None
            for disj in groups[0].groups:
                dmask = None
                for t in disj:
                    m = self._term_mask(pdf, t)
                    dmask = m if dmask is None else (dmask | m)
                mask = dmask if mask is None else (mask & dmask)
            if mask is not None:
                pdf = pdf[mask]
        # stable server-side order: primary key = first column
        return pdf.sort_values(list(pdf.columns[:1]), kind="mergesort")

    @staticmethod
    def _term_mask(pdf, t):
        col = pdf[t.field]
        if not len(col):
            # empty table: no row matches any term; comparing an empty
            # numeric series against the un-typed string value would
            # still TypeError in pandas (dtype check precedes length)
            return col.notna() & False
        v = type(col.iloc[0])(t.value) if len(col) and t.op not in (
            "IN", "ISNOTEMPTY", "STARTSWITH", "ENDSWITH", "LIKE",
        ) else t.value
        if t.op == "=":
            return col == v
        if t.op == "!=":
            return col != v
        if t.op == ">":
            return col > v
        if t.op == ">=":
            return col >= v
        if t.op == "<":
            return col < v
        if t.op == "<=":
            return col <= v
        if t.op == "IN":
            vals = t.value.split(",")
            typed = [type(col.iloc[0])(x) for x in vals] if len(col) else vals
            return col.isin(typed)
        if t.op == "STARTSWITH":
            return col.astype(str).str.startswith(t.value)
        if t.op == "ENDSWITH":
            return col.astype(str).str.endswith(t.value)
        if t.op == "LIKE":
            return col.astype(str).str.contains(t.value, regex=False)
        if t.op == "ISNOTEMPTY":
            return col.notna()
        raise ValueError(f"server does not implement {t.op}")

    def count(self, sysparm_query: str) -> int:
        return len(self._frame(sysparm_query))

    def fetch(self, sysparm_query: str, offset: int, limit: int):
        pdf = self.fetch_frame(sysparm_query, offset, limit)
        return list(pdf.itertuples(index=False, name=None))

    def fetch_frame(self, sysparm_query: str, offset: int, limit: int):
        """Page slice as the raw pandas frame (the reader converts it
        to one Arrow batch — no per-row tuple materialization). Same
        fault injection and idempotence contract as :meth:`fetch`."""
        if self.flaky_dir:
            marker = os.path.join(self.flaky_dir, f"page_{offset}.failed")
            try:
                # O_CREAT|O_EXCL: exactly one attempt per page loses,
                # atomically, even across concurrent worker processes.
                fd = os.open(marker, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
                os.close(fd)
                raise TransientServerError(
                    f"simulated 429 on first fetch of offset={offset}"
                )
            except FileExistsError:
                pass  # this page already paid its fault; serve it
        return self._frame(sysparm_query).iloc[offset : offset + limit]


def _safe_value(v) -> bool:
    """An encoded-query value is only pushable if it can't be parsed
    as extra grammar server-side: '^' would open a new term (or ^OR /
    ^NQ). Unsafe values return the filter to Spark for post-scan
    evaluation — correctness over pushdown (the DSv2 contract lets us
    decline any filter)."""
    return "^" not in str(v)


def _filter_to_term(f: Filter) -> str | None:
    """Catalyst Filter -> encoded-query term (None = not translatable,
    Spark re-applies it post-scan). Values containing encoded-query
    metacharacters ('^' anywhere; ',' inside an IN list, which would
    split into extra list members) are declined rather than escaped —
    the Table API grammar has no escape syntax [SN-API]."""
    if len(getattr(f, "attribute", ("x",))) != 1:
        return None
    a = f.attribute[0]
    if not _safe_value(getattr(f, "value", "")):
        return None
    if isinstance(f, EqualTo):
        return f"{a}={f.value}"
    if isinstance(f, GreaterThan):
        return f"{a}>{f.value}"
    if isinstance(f, GreaterThanOrEqual):
        return f"{a}>={f.value}"
    if isinstance(f, LessThan):
        return f"{a}<{f.value}"
    if isinstance(f, LessThanOrEqual):
        return f"{a}<={f.value}"
    if isinstance(f, In):
        if any(not _safe_value(v) or "," in str(v) for v in f.value):
            return None
        return f"{a}IN" + ",".join(str(v) for v in f.value)
    if isinstance(f, StringStartsWith):
        return f"{a}STARTSWITH{f.value}"
    if isinstance(f, StringEndsWith):
        return f"{a}ENDSWITH{f.value}"
    if isinstance(f, StringContains):
        return f"{a}LIKE{f.value}"
    if isinstance(f, IsNotNull):
        return f"{a}ISNOTEMPTY"
    return None


def _pushdown_log_path(path: str) -> str:
    """Sidecar file recording the last encoded query pushed for `path`.
    The reader runs inside a Spark Python worker process, so tests
    can't observe it via module state — the file is the audit channel
    (and mirrors a real connector's request log)."""
    import hashlib
    import tempfile

    h = hashlib.md5(path.encode()).hexdigest()[:16]
    return f"{tempfile.gettempdir()}/snow_pushed_{h}.log"


def last_pushed(path: str) -> str:
    """The encoded query most recently pushed for `path` ('' when the
    last scan pushed nothing). Every reader writes the sidecar when it
    is constructed, so a missing one means the worker wrote it under
    another temp dir than the driver's: that raises, naming the dir
    looked in, rather than reading as "nothing pushed"."""
    import os

    p = _pushdown_log_path(path)
    try:
        with open(p) as f:
            return f.read().strip()
    except FileNotFoundError:
        raise FileNotFoundError(
            f"no pushdown sidecar for {path} in {os.path.dirname(p)}: the "
            "reader's worker wrote it under another temp dir, or no scan "
            "of it has run"
        ) from None


@dataclass
class PagePartition(InputPartition):
    offset: int
    limit: int


class SnowTableReader(DataSourceReader):
    def __init__(self, schema, options):
        self.schema = schema
        self.path = options.get("path")
        self.page_size = int(options.get("page_size", PAGE_SIZE_DEFAULT))
        self.flaky_dir = options.get("flaky_dir")
        self.max_retries = int(options.get("max_retries", 3))
        self.retry_backoff_s = float(options.get("retry_backoff_s", 0.01))
        self.terms: list[str] = []
        # Truncate the sidecar at reader construction: if Spark never
        # calls pushFilters (no pushable filters), last_pushed() must
        # report '' for THIS scan, not the previous scan's pushdown.
        with open(_pushdown_log_path(self.path), "w") as fh:
            fh.write("")

    def pushFilters(self, filters: list[Filter]) -> Iterator[Filter]:
        for f in filters:
            term = _filter_to_term(f)
            if term is None:
                yield f  # Spark keeps evaluating this one
            else:
                self.terms.append(term)
        with open(_pushdown_log_path(self.path), "w") as fh:
            fh.write("^".join(self.terms))

    @property
    def _query(self) -> str:
        return "^".join(self.terms)

    def partitions(self):
        total = TableApiServer(self.path).count(self._query)
        return [
            PagePartition(off, self.page_size)
            for off in range(0, max(total, 1), self.page_size)
        ]

    def read(self, partition: PagePartition):
        """Fetch one page, retrying transient server failures with
        exponential backoff — the rate-limit-bound reality of Table
        API ingest. The page is idempotent (offset+limit over a
        stable server-side order), so a retry can't dup or drop rows.

        The page crosses the Python→JVM boundary as ONE Arrow
        RecordBatch (guide §4: a17/a18 already do this; the old
        ``yield from rows`` pickled every row individually). Column
        arrays are built against the arrow projection of the DECLARED
        Spark schema — ``from_pandas=True`` maps the pandas null-int→
        float64 artifact (NaN) back to int64 nulls instead of
        inventing a float column Spark would reject (the a20 trap)."""
        import pyarrow as pa

        from pyspark.sql.pandas.types import to_arrow_schema

        server = TableApiServer(self.path, flaky_dir=self.flaky_dir)
        for attempt in range(self.max_retries + 1):
            try:
                pdf = server.fetch_frame(
                    self._query, partition.offset, partition.limit
                )
                break
            except TransientServerError:
                if attempt == self.max_retries:
                    raise
                time.sleep(self.retry_backoff_s * (2**attempt))
        if len(pdf) == 0:
            return
        arrow_schema = to_arrow_schema(self.schema)
        cols = [
            pa.array(pdf[f.name], type=f.type, from_pandas=True)
            for f in arrow_schema
        ]
        yield pa.RecordBatch.from_arrays(cols, schema=arrow_schema)


class SnowTableDataSource(DataSource):
    """`spark.read.format("snow_table").schema(ddl).option("path", p)`"""

    @classmethod
    def name(cls) -> str:
        return "snow_table"

    def reader(self, schema) -> SnowTableReader:
        return SnowTableReader(schema, self.options)


def register(spark) -> None:
    """Register the connector on a session. ``spark.dataSource.register``
    is idempotent (python_source's ``register`` relies on the same), so
    any failure is real and raises here, not later at the read."""
    spark.dataSource.register(SnowTableDataSource)


# --- registered query id -------------------------------------------------

from pyspark.sql import DataFrame, SparkSession  # noqa: E402
from pyspark.sql import functions as F  # noqa: E402

from ..registry import query  # noqa: E402
from .tables import SCHEMAS, path_of  # noqa: E402


@query(
    "a8_rest_pushdown",
    oracle="""
    SELECT c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment
    FROM customer
    WHERE c_acctbal > 1000.0
      AND c_mktsegment IN ('BUILDING', 'AUTOMOBILE')
    """,
)
def a8_rest_pushdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REST-source scan with server-side filter pushdown (a8): the
    DataFrame filter below is translated by `pushFilters` into the
    encoded query `c_acctbal>1000.0^c_mktsegmentINBUILDING,AUTOMOBILE`
    and evaluated by the (simulated) Table API server — Spark receives
    only matching pages, in parallel. tests/test_rest_source.py asserts
    the predicates actually left Spark."""
    register(spark)
    df = (
        spark.read.format("snow_table")
        .schema(SCHEMAS["customer"])
        .option("path", path_of(sf_dir, "customer"))
        .load()
    )
    return df.filter(
        (F.col("c_acctbal") > 1000.0)
        & F.col("c_mktsegment").isin("BUILDING", "AUTOMOBILE")
    )
