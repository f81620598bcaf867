"""Custom Python Data Source (a17) — the Spark 4 `pyspark.sql.
datasource` API [SPK]: the paged-REST-export read (a4/a8 simulate it
with driver-side paging) rebuilt as a FIRST-CLASS pluggable source
with planner-visible partitions, so page fetches run as parallel
executor tasks instead of a driver loop.

100 TB notes: `partitions()` returns one InputPartition per key-range
page — Spark schedules one task per page, so ingest parallelism equals
page count, not 1; each task reads ONLY its range (range-predicate
pushdown inside the reader via pyarrow row filtering); rows travel as
Arrow record batches (the vectorized path — a tuple-yielding reader
would cross the Python boundary row by row). Against a real REST
endpoint the per-partition read is an HTTP page fetch with the same
key-range cursor (a4's sysparm_offset pattern); parquet stands in
here exactly like rest_source's simulated server."""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.datasource import (
    DataSource,
    DataSourceArrowWriter,
    DataSourceReader,
    DataSourceStreamReader,
    InputPartition,
    WriterCommitMessage,
)

from .. import scratch
from ..registry import query
from ..sources.tables import path_of, scan
from ..statefile import publish, read_json

PAGE_KEYS = 2_000  # orderkey span per page/partition

#: the paged-export row shape, shared by the batch (a17) and stream
#: (a18) sources' schema() AND passed explicitly at read time — an
#: explicit reader schema skips the driver-side Python schema() round
#: trip at load() (measured 2.8 → 1.55 s cold construction; r15)
ORDERS_PAGE_SCHEMA = "o_orderkey long, o_orderstatus string, o_totalprice double"

#: per-worker-process memo of the paged table → (pyarrow Table, sorted
#: key ndarray | None) — the stand-in for a real page server's response
#: cache; keyed on part-file size+mtime so a rewritten file (or an
#: in-place part rewrite inside a directory table, whose directory
#: inode does NOT change) invalidates.
_PAGE_TABLES: dict = {}


def _page_cache_key(path: str):
    import os as _os

    if _os.path.isdir(path):
        # recursive walk (r9, same class as the a9 fingerprint ADVICE):
        # a nested/partitioned layout keeps part files under key=...
        # subdirs — a top-level-only listing would key every state of
        # such a table identically and serve a stale cached decode
        # after an in-place rewrite
        parts = []
        for root, dirs, files in _os.walk(path):
            dirs.sort()
            for f in sorted(files):
                if f.endswith(".parquet"):
                    fp = _os.path.join(root, f)
                    st = _os.stat(fp)
                    parts.append(
                        (_os.path.relpath(fp, path), st.st_size, st.st_mtime_ns)
                    )
        return (path, tuple(parts))
    st = _os.stat(path)
    return (path, st.st_size, st.st_mtime_ns)


def _page_table(path: str):
    import pyarrow.parquet as pq

    key = _page_cache_key(path)
    hit = _PAGE_TABLES.get(key)
    if hit is None:
        import numpy as np

        while len(_PAGE_TABLES) >= 4:  # bound worker memory
            _PAGE_TABLES.pop(next(iter(_PAGE_TABLES)))
        t = pq.read_table(
            path, columns=["o_orderkey", "o_orderstatus", "o_totalprice"]
        )
        keys = t["o_orderkey"].to_numpy()
        # keep the key vector only when it admits the O(log n) slice
        sorted_keys = keys if np.all(np.diff(keys) >= 0) else None
        hit = (t, sorted_keys)
        _PAGE_TABLES[key] = hit
    return hit


def _page_slice(path: str, lo: int, hi: int):
    """Arrow batches for key range [lo, hi) — the per-page read.

    The r7 sweep excluded a18 because every page read re-filtered the
    WHOLE cached table: O(pages × table) comparisons per micro-batch,
    quadratic in table size at fixed page width. Export keys are
    monotone in any keyset-paged export (that is what makes keyset
    paging work), so the page is a binary-search SLICE of the one
    cached decode — O(log n + page_rows) per page, O(table) total per
    drain. The mask scan survives only as the fallback for an
    unsorted key column. On the multi-row-group production layout the
    same bound comes from footer row-group pruning before decode."""
    import pyarrow.compute as pc

    t, sorted_keys = _page_table(path)
    if sorted_keys is not None:
        import numpy as np

        i0 = int(np.searchsorted(sorted_keys, lo, side="left"))
        i1 = int(np.searchsorted(sorted_keys, hi, side="left"))
        yield from t.slice(i0, i1 - i0).to_batches()
        return
    mask = pc.and_(
        pc.greater_equal(t["o_orderkey"], lo), pc.less(t["o_orderkey"], hi)
    )
    yield from t.filter(mask).to_batches()


def _footer_max(path: str, col: str):
    """Planner-side max(col) from FOOTER row-group statistics only — a
    column read here would scan the whole key column on the driver,
    the exact anti-pattern the paged source exists to avoid. Handles
    both single-file tables (the testdata layout) and directory-of-
    part-files tables (every Spark-written table, i.e. the production
    layout): per-file footers, max across files — the same metadata a
    real catalog keeps per data file."""
    import glob as _glob
    import os as _os

    import pyarrow.parquet as pq

    files = (
        sorted(_glob.glob(_os.path.join(path, "*.parquet")))
        if _os.path.isdir(path)
        else [path]
    )
    if not files:
        raise FileNotFoundError(f"no parquet part files under {path}")
    mk = None
    total_rows = 0
    for f in files:
        md = pq.ParquetFile(f).metadata
        total_rows += md.num_rows
        ci = next(
            i for i in range(len(md.schema)) if md.schema.column(i).name == col
        )
        for g in range(md.num_row_groups):
            # a writer may omit column statistics per row group; a
            # stats-less chunk is skipped, never dereferenced
            st = md.row_group(g).column(ci).statistics
            if st is None or st.max is None:
                continue
            mk = st.max if mk is None else max(mk, st.max)
    if mk is None:
        # distinguish the two no-stats cases: a ZERO-ROW table is a
        # legitimate export state (a filter that matched nothing) and
        # must plan as an empty read, not kill the job (r8 empty-corpus
        # sweep); rows WITHOUT stats are a broken layout worth failing.
        if total_rows == 0:
            return None
        raise ValueError(
            f"no row-group statistics for column {col!r} in any part "
            f"file under {path}; the footer-only planner needs stats "
            "(rewrite the table with statistics enabled)"
        )
    return mk


class _PagePartition(InputPartition):
    def __init__(self, lo: int, hi: int, path: str):
        self.lo = lo
        self.hi = hi
        self.path = path


class OrdersPageReader(DataSourceReader):
    def __init__(self, options):
        self.path = options["path"]
        self.max_key = int(options["max_key"])

    #: cap on planned partitions: a fixed REST page size must not make
    #: task count grow unboundedly with the table — beyond the cap each
    #: task fetches k CONSECUTIVE pages with one cursor (same bytes,
    #: bounded scheduling overhead; 256 ≫ any one executor's slots)
    MAX_PARTITIONS = 256

    def partitions(self):
        if self.max_key < 0:  # empty export: one no-op partition
            return [_PagePartition(0, 0, self.path)]
        n_pages = self.max_key // PAGE_KEYS + 1
        pages_per_part = -(-n_pages // self.MAX_PARTITIONS)  # ceil
        span = PAGE_KEYS * pages_per_part
        return [
            _PagePartition(lo, lo + span, self.path)
            for lo in range(0, self.max_key + 1, span)
        ]

    def read(self, partition):
        # executed ON THE EXECUTOR: fetch only this partition's key
        # range, emit Arrow batches (vectorized boundary crossing).
        # Against a real endpoint this is ONE paged HTTP fetch; the
        # parquet stand-in memoizes the 3-column table per WORKER
        # PROCESS (workers are reused) so N page tasks cost ~|workers|
        # file reads, not N — without the cache each task re-read and
        # re-decoded the whole file (measured 3.9 s for a 300-page
        # read at sf0.1; ~1 s with it). The page itself is a
        # binary-search slice of the cached decode (_page_slice).
        yield from _page_slice(partition.path, partition.lo, partition.hi)


class OrdersPageSource(DataSource):
    """`spark.read.format("cmdb_pages")` — paged table export."""

    @classmethod
    def name(cls) -> str:
        return "cmdb_pages"

    def schema(self) -> str:
        return ORDERS_PAGE_SCHEMA

    def reader(self, schema) -> DataSourceReader:
        return OrdersPageReader(self.options)


def register(spark: SparkSession) -> None:
    # Register unconditionally: spark.dataSource.register is idempotent
    # (replaces the entry), and any dedupe keyed on the Python session
    # object is unsound — after a context restart CPython can reuse the
    # old session's address, so an id(spark) guard skips registration on
    # the NEW JVM and every cmdb_* read fails with ClassNotFoundException.
    spark.dataSource.register(OrdersPageSource)


@query(
    "a17_python_datasource",
    oracle="""
    SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders
    """,
)
def a17_python_datasource(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pluggable Python data source (a17): the full orders table read
    through the registered `cmdb_pages` format — N key-range pages
    planned as N input partitions, each fetched and Arrow-batched on
    an executor. Oracle: the same three columns straight off parquet
    (the source must be a faithful, complete export)."""
    register(spark)
    path = path_of(sf_dir, "orders")
    mk = _footer_max(path, "o_orderkey")  # None ⇒ empty export
    # Explicit reader schema (r15, guide §1/§4 — trim the Python
    # boundary): with a user-supplied schema Spark skips the driver-
    # side Python `schema()` round trip at load() — measured 2.8 →
    # 1.55 s cold construction and 0.27 → 0.02 s warm (A/B, fresh
    # sessions). Same DDL the source declares (a8's pattern); the
    # source's schema() stays authoritative for schema-less callers.
    return (
        spark.read.format("cmdb_pages")
        .schema(ORDERS_PAGE_SCHEMA)
        .option("path", path)
        .option("max_key", -1 if mk is None else mk)
        .load()
    )


class OrdersPageStreamReader(DataSourceStreamReader):
    """Streaming twin of :class:`OrdersPageReader` (a18): the paged
    export consumed incrementally — offsets are PAGE INDICES, so a
    restart resumes from the last committed page (the REST
    `sysparm_offset` cursor, checkpoint-persisted by Spark)."""

    def __init__(self, options):
        self.path = options["path"]

    def initialOffset(self) -> dict:
        return {"page": 0}

    def latestOffset(self) -> dict:
        # a real endpoint reports its current export cursor here; the
        # parquet stand-in's cursor is the footer max key, RE-PROBED
        # per micro-batch from row-group statistics only (no data
        # pages) — a growing table is planned from the footer
        # max-key DELTA vs the committed offset Spark hands back to
        # partitions(); the table itself is never walked to plan.
        mk = _footer_max(self.path, "o_orderkey")
        return {"page": 0 if mk is None else mk // PAGE_KEYS + 1}

    def partitions(self, start: dict, end: dict):
        # Same task-count cap as the batch reader (a17): a fixed page
        # width over a SPARSE key space must not make task count track
        # the key SPAN — the r8 4x probe (keys shifted per copy, span
        # 300M over 600k rows) planned ~150k near-empty tasks here and
        # wedged the executor pool. Beyond the cap each task fetches k
        # CONSECUTIVE pages with one cursor, exactly like a17.
        n_pages = end["page"] - start["page"]
        if n_pages <= 0:
            return []
        pages_per_part = -(-n_pages // OrdersPageReader.MAX_PARTITIONS)
        span = PAGE_KEYS * pages_per_part
        lo0 = start["page"] * PAGE_KEYS
        hi0 = end["page"] * PAGE_KEYS
        return [
            _PagePartition(lo, min(lo + span, hi0), self.path)
            for lo in range(lo0, hi0, span)
        ]

    def read(self, partition):
        # per-worker page cache + sorted-key slice (a17's _page_slice):
        # a micro-batch of k pages costs one amortized decode plus k
        # binary searches, not k full-table filter scans — the cost
        # that kept a18 out of the r7 4x differential sweep.
        yield from _page_slice(partition.path, partition.lo, partition.hi)

    def commit(self, end: dict) -> None:
        pass  # the fixture needs no ack; a REST cursor would ack here


class OrdersPageStreamSource(DataSource):
    """`spark.readStream.format("cmdb_pages_stream")` — incremental
    paged export."""

    @classmethod
    def name(cls) -> str:
        return "cmdb_pages_stream"

    def schema(self) -> str:
        return ORDERS_PAGE_SCHEMA

    def streamReader(self, schema) -> DataSourceStreamReader:
        return OrdersPageStreamReader(self.options)


def register_stream(spark: SparkSession) -> None:
    spark.dataSource.register(OrdersPageStreamSource)  # idempotent; see register()


@query(
    "a18_python_stream_source",
    oracle="""
    SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders
    """,
)
def a18_python_stream_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming Python data source (a18): the a17 paged export as a
    Spark 4 `streamReader` — page indices are the stream OFFSETS
    (checkpointable: a restarted query resumes from the committed
    page), each micro-batch's pages run as parallel executor tasks,
    rows cross as Arrow record batches.

    SQL-oracle-checkable (the i11 trick): the plan is a stateless
    append of a finite page sequence, so the final materialized set
    equals the full batch export regardless of micro-batching.

    100 TB notes: this is the production shape for "tail a REST
    export": offset-tracked pages give exactly-once ingest (pages
    re-fetch idempotently on failure before commit), page fetches
    parallelize across the cluster, and the per-batch page budget is
    the ingest rate limiter."""
    from ..streaming.stream_ops import _run_to_memory

    register_stream(spark)
    path = path_of(sf_dir, "orders")
    # explicit schema: same driver-side Python round-trip saving as
    # a17 (see ORDERS_PAGE_SCHEMA)
    s = (
        spark.readStream.format("cmdb_pages_stream")
        .schema(ORDERS_PAGE_SCHEMA)
        .option("path", path)
        .load()
    )
    return _run_to_memory(s)


# ---------------------------------------------------------------------------
# a20 — Python Data Source WRITER (the upsert/export direction of a17)

def read_committed(spark: SparkSession, path: str, schema: str) -> DataFrame:
    """Manifest-gated read-back of an a20 sink directory: resolve
    `_MANIFEST` (atomically published by commit) and read ONLY the
    files it lists. A crash at ANY commit step leaves either no
    manifest (reader sees the previous complete state — here, empty)
    or the complete new manifest; files renamed into `committed/`
    before a mid-commit crash are orphans no reader ever lists —
    the same reader discipline as i17's `_spark_metadata` log."""
    manifest = read_json(os.path.join(path, "_MANIFEST"), {})
    files = [
        os.path.join(path, "committed", name)
        for name in manifest.get("files", [])
    ]
    if not files:
        return spark.createDataFrame([], schema)
    # multiLine: the writer emits pandas-quoted CSV, so a string value
    # carrying an embedded newline is QUOTED on write — without this
    # option Spark's line-splitting reader would tear it into corrupt
    # rows (r14 ADVICE; latent for this corpus's 1-char statuses).
    # Cost: a multiLine file is parsed whole rather than split, which
    # is moot here — committed files are one-per-task and small.
    return spark.read.schema(schema).option("multiLine", True).csv(files)


class _UpsertCommit(WriterCommitMessage):
    """Per-task commit message: staged file + row count (picklable)."""

    def __init__(self, staged: str, n_rows: int):
        self.staged = staged
        self.n_rows = n_rows


class OrdersUpsertWriter(DataSourceArrowWriter):
    """Two-phase-commit export sink: tasks stage, the driver commits.

    Each task writes its rows to a uniquely-named file under
    `_staging/` and returns a commit message; `commit()` (driver, runs
    once, only after EVERY task succeeded) atomically renames staged
    files into the committed dir and writes a `_MANIFEST` with the
    total row count; `abort()` discards the staging files. A retried
    or zombie task therefore can never double-deliver — only files
    named in commit messages move. Against a real REST target the
    staged file is a page of pending upserts and commit() is the
    batch-submit call (import-set style); the local directory stands
    in exactly like rest_source's simulated server."""

    def __init__(self, options):
        self.path = options["path"]
        # test-only crash injection (r9 kill-at-every-step harness,
        # tests/test_streaming.py): .option("crash_at", <point>) makes
        # commit() raise at exactly that step — option-carried because
        # commit runs in its own Python worker process, where a test's
        # module-global hook would never be visible. Production writes
        # never set it; the cost is one string-compare per step.
        self._crash_at = options.get("crash_at")
        self._crash_nth = int(options.get("crash_nth", "1"))
        self._crash_seen = 0

    def _fault(self, point: str) -> None:
        if self._crash_at == point:
            self._crash_seen += 1
            if self._crash_seen >= self._crash_nth:
                raise RuntimeError(f"injected crash at {point}")

    def write(self, iterator):
        # Arrow-vectorized emission (r14, guide §4): the task receives
        # whole RecordBatches instead of pickled rows, and each batch
        # serializes through pandas' C CSV writer — the old
        # row-at-a-time f-string loop paid per-row deserialization AND
        # per-row formatting. Value fidelity is unchanged: pandas
        # renders float64 with the same shortest-roundtrip digits as
        # repr(float) (verified value-for-value on this corpus), and
        # the read-back parses to bit-identical doubles either way.
        # The key column is cast to STRING inside Arrow first — a
        # nullable int64 would otherwise coerce to float64 in pandas
        # and corrupt every key's text. Nulls now emit as empty fields
        # (read back as NULL, matching the oracle) where the old loop
        # wrote the literal 'None'.
        import os
        import uuid

        import pyarrow as pa
        import pyarrow.compute as pc

        staging = os.path.join(self.path, "_staging")
        os.makedirs(staging, exist_ok=True)
        fn = os.path.join(staging, f"part-{uuid.uuid4().hex}.csv")
        n = 0
        with open(fn, "w") as f:
            for batch in iterator:
                n += batch.num_rows
                if not batch.num_rows:
                    continue
                pdf = pa.table(
                    [
                        pc.cast(batch.column(0), "string"),
                        batch.column(1),
                        batch.column(2),
                    ],
                    names=["k", "s", "p"],
                ).to_pandas()
                f.write(pdf.to_csv(index=False, header=False))
        return _UpsertCommit(fn, n)

    def commit(self, messages):
        # Crash-safe at every step (r9 fault-injection hardening): the
        # manifest is the COMMIT RECORD — it lists the committed file
        # names and is published by statefile.publish, and readers
        # (read_committed) resolve it before touching any file. Die
        # before the replace → orphaned renames that no reader lists;
        # die after → the write is durable and complete. A full-job
        # retry stages fresh uuid-named files and REPLACES the
        # manifest, so the reader sees exactly one copy either way.
        import json
        import os

        self._fault("commit_start")  # all tasks staged, nothing committed
        final = os.path.join(self.path, "committed")
        os.makedirs(final, exist_ok=True)
        total, names = 0, []
        for m in messages:
            name = os.path.basename(m.staged)
            os.rename(m.staged, os.path.join(final, name))
            names.append(name)
            total += m.n_rows
            self._fault("after_rename")  # mid-commit: some files moved
        self._fault("before_manifest")  # all moved, commit record not yet out
        publish(
            os.path.join(self.path, "_MANIFEST"),
            json.dumps(
                {"n_rows": total, "n_files": len(names), "files": sorted(names)}
            ),
        )
        self._fault("after_manifest")  # durable; retry must stay exactly-once

    def abort(self, messages):
        import os

        for m in messages:
            if os.path.exists(m.staged):
                os.remove(m.staged)


class OrdersUpsertSink(DataSource):
    """`df.write.format("cmdb_upsert")` — paged upsert export."""

    @classmethod
    def name(cls) -> str:
        return "cmdb_upsert"

    def writer(self, schema, overwrite: bool):
        return OrdersUpsertWriter(self.options)


def register_sink(spark: SparkSession) -> None:
    spark.dataSource.register(OrdersUpsertSink)  # idempotent; see register()


@query(
    "a20_python_datasource_writer",
    oracle="""
    SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders
    """,
)
def a20_python_datasource_writer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Python Data Source writer (a20): the export/upsert DIRECTION of
    the a17/a18 source family — Spark 4's `DataSourceWriter` with real
    two-phase commit (stage on executors → single driver commit +
    manifest, abort discards). Completes the pluggable-source story:
    read (a17), streaming read (a18), write (this).

    The registered result is the committed read-back (doubles emitted
    via shortest-roundtrip repr, so the CSV hop is bit-exact); oracle
    = the source table. tests/test_rest_source.py pins the 2PC
    semantics: manifest totals match, staging is empty after commit,
    one file per task.

    100 TB notes: write parallelism = input partitions (each task
    streams its page independently); the driver touches only commit
    messages (file names + counts, not data). The rename-on-commit
    discipline is what makes speculative/retried tasks safe — the
    same protocol Spark's own FileOutputCommitter v1 uses."""
    register_sink(spark)
    out = scratch.mkdtemp("a20_sink_")
    from .tables import spread

    # write parallelism = input partitions (docstring contract), and
    # the single-row-group testdata reads as ONE split — spread the
    # narrow projection so the 2PC write runs one task per core here
    # (no-op at real scale, where the scan has thousands of splits)
    o = spread(
        scan(spark, sf_dir, "orders").select(
            "o_orderkey", "o_orderstatus", "o_totalprice"
        )
    )
    o.write.format("cmdb_upsert").option("path", out).mode("append").save()
    # commit() writes the manifest even for an empty export, so a
    # missing one is a failed commit, not an empty result
    if not os.path.exists(os.path.join(out, "_MANIFEST")):
        raise RuntimeError(f"a20: export {out} committed no _MANIFEST")
    # manifest-gated read-back (r9): only files the commit record lists
    return read_committed(
        spark, out, "o_orderkey long, o_orderstatus string, o_totalprice double"
    )
