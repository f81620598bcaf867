"""Spans around the engine's layer entry points, and Spark counters.

Spans are recorded by wrappers the benchmark installs from its own
files; the engine is not edited. :func:`install` must run before
``load_all()`` so that modules doing ``from ..sources.tables import
scan`` (and ``from .fixpoint import cut_lineage``) bind the wrapper.
Functions only looked up at call time (module globals, lazy imports,
class methods) are wrapped after ``load_all()`` by
:func:`install_late`.

Each op is one request: a root span ``op`` carrying the op's sequence
number, with children ``build`` and ``sink``; wrapped calls made during
``build`` nest under it by a per-thread span stack. Threads the engine
starts itself (fold pools) have an empty stack, so their spans are
recorded as roots without a request.
"""

from __future__ import annotations

import functools
import json
import threading
import time
from contextlib import contextmanager

from measure import self_time

PKG = "servicenow_cmdb_integration_to_aws_spark"

#: spans summed into the store commit, store read and encoded-query
#: compile layer metrics
COMMIT_SPANS = {
    "SnapshotStore.compact",
    "SnapshotStore.fold_batches",
    "SnapshotStore.gc",
    "StoreGroup.commit",
    "StoreGroup.compact",
    "StoreGroup.gc",
}
READ_SPANS = {
    "SnapshotStore.read",
    "SnapshotStore.read_version",
    "SnapshotStore.changes",
    "StoreGroup.read_pinned",
    "consistent_read",
}
STORE_METHODS = ("compact", "fold_batches", "gc", "commit", "read", "read_version", "changes", "read_pinned")
COMPILE_SPANS = {
    "compile_encoded",
    "compile_encoded_dotwalk",
    "dotwalk_select",
    "aggregate_encoded",
}


class Tracer:
    """In-memory span recorder; spans are written out at the end."""

    def __init__(self) -> None:
        self.enabled = False
        self.spans: list[dict] = []
        self._lock = threading.Lock()
        self._local = threading.local()
        self._next = 0

    def _stack(self) -> list[dict]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    @contextmanager
    def span(self, name: str, request: int | None = None, **attrs):
        stack = self._stack()
        parent = stack[-1] if stack else None
        with self._lock:
            sid = self._next
            self._next += 1
        sp = {
            "id": sid,
            "parent": parent["id"] if parent else None,
            "request": request if request is not None else (parent["request"] if parent else None),
            "name": name,
            **attrs,
        }
        stack.append(sp)
        sp["start"] = time.perf_counter()
        try:
            yield sp
        finally:
            sp["end"] = time.perf_counter()
            stack.pop()
            with self._lock:
                self.spans.append(sp)

    def wrap(self, fn, name: str):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            if not self.enabled:
                return fn(*args, **kwargs)
            with self.span(name):
                return fn(*args, **kwargs)

        return traced

    def wrap_scan(self, fn, tables):
        """``scan`` wrapper that also counts hits of the engine's
        per-session scan cache (the key mirrors ``tables.scan``)."""

        @functools.wraps(fn)
        def traced(spark, sf_dir, name):
            if not self.enabled:
                return fn(spark, sf_dir, name)
            key = (sf_dir, name, tables.content_stamp(tables.path_of(sf_dir, name)))
            hit = key in getattr(spark, "_cmdb_scan_df_cache", {})
            with self.span("scan", hit=hit):
                return fn(spark, sf_dir, name)

        return traced


def install(tracer: Tracer) -> None:
    """Wrap the names other modules bind at import time. Run before
    ``load_all()``."""
    import importlib

    tables = importlib.import_module(f"{PKG}.sources.tables")
    session = importlib.import_module(f"{PKG}.session")
    registry = importlib.import_module(f"{PKG}.registry")
    fixpoint = importlib.import_module(f"{PKG}.operators.fixpoint")
    tables.scan = tracer.wrap_scan(tables.scan, tables)
    fixpoint.cut_lineage = tracer.wrap(fixpoint.cut_lineage, "cut_lineage")
    # registry bound ``tune`` when the package was imported
    registry.tune = session.tune = tracer.wrap(session.tune, "tune")


def install_late(tracer: Tracer) -> None:
    """Wrap functions looked up at call time. Run after ``load_all()``."""
    import importlib

    eq = importlib.import_module(f"{PKG}.plans.encoded_query")
    comp = importlib.import_module(f"{PKG}.streaming.compaction")
    tmap = importlib.import_module(f"{PKG}.operators.transform_map")
    for name in sorted(COMPILE_SPANS):
        setattr(eq, name, tracer.wrap(getattr(eq, name), name))
    comp.consistent_read = tracer.wrap(comp.consistent_read, "consistent_read")
    tmap.upsert = tracer.wrap(tmap.upsert, "upsert")
    for cls in (comp.SnapshotStore, comp.StoreGroup):
        for name in STORE_METHODS:
            fn = cls.__dict__.get(name)
            if callable(fn):
                setattr(cls, name, tracer.wrap(fn, f"{cls.__name__}.{name}"))


def outermost_time(spans: list[dict], names: set[str]) -> float:
    """Summed duration of spans named in ``names`` that have no
    ancestor also named in ``names`` (nested calls counted once)."""
    by_id = {s["id"]: s for s in spans}
    total = 0.0
    for s in spans:
        if s["name"] not in names:
            continue
        p = by_id.get(s["parent"])
        while p is not None and p["name"] not in names:
            p = by_id.get(p["parent"])
        if p is None:
            total += s["end"] - s["start"]
    return total


def span_table(spans: list[dict]) -> dict[str, dict]:
    """Per span name: calls, total seconds and self seconds."""
    kids: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s["parent"] is not None:
            kids.setdefault(s["parent"], []).append((s["start"], s["end"]))
    out: dict[str, dict] = {}
    for s in spans:
        row = out.setdefault(s["name"], {"calls": 0, "total_s": 0.0, "self_s": 0.0})
        row["calls"] += 1
        row["total_s"] += s["end"] - s["start"]
        row["self_s"] += self_time(s["start"], s["end"], kids.get(s["id"], ()))
    return out


# ------------------------------------------------------- Spark status store


class StatusStore:
    """Reads jobs and stages of the live SparkContext as JSON, one py4j
    call each (the UI is off; the status store is kept regardless)."""

    def __init__(self, spark) -> None:
        sc = spark.sparkContext
        jvm = sc._jvm
        self._store = sc._jsc.sc().statusStore()
        self._mapper = jvm.com.fasterxml.jackson.databind.ObjectMapper()
        scala_mod = getattr(jvm.com.fasterxml.jackson.module.scala, "DefaultScalaModule$")
        self._mapper.registerModule(getattr(scala_mod, "MODULE$"))
        self._no_quantiles = sc._gateway.new_array(jvm.double, 0)
        self._sc = sc

    def jobs(self) -> list[dict]:
        return json.loads(self._mapper.writeValueAsString(self._store.jobsList(None)))

    def stages(self) -> list[dict]:
        seq = self._store.stageList(None, False, False, self._no_quantiles, None)
        return json.loads(self._mapper.writeValueAsString(seq))

    def persistent_rdds(self) -> int:
        return int(self._sc._jsc.sc().getPersistentRDDs().size())


def group_of(seq: int, phase: str) -> str:
    return f"{seq}:{phase}"


def parse_group(group: str | None) -> tuple[int, str] | None:
    if not group or ":" not in group:
        return None
    seq, phase = group.split(":", 1)
    if not seq.isdigit() or phase not in ("build", "sink"):
        return None
    return int(seq), phase


def spark_counters(jobs: list[dict], stages: list[dict], seqs: set[int]) -> dict[str, float]:
    """Counters of the jobs and stages a pass launched. ``jobs`` and
    ``stages`` are already limited to the pass; ``seqs`` are its ops.
    A job whose group names none of the ops is unattributed."""
    c = dict.fromkeys(
        (
            "jobs", "build_jobs", "unattributed_jobs", "stages", "tasks",
            "exec_noncpu_s", "shuffle_read_bytes", "shuffle_write_bytes",
            "spill_bytes", "input_bytes", "gc_s",
        ),
        0.0,
    )
    for j in jobs:
        g = parse_group(j.get("jobGroup"))
        if g is None or g[0] not in seqs:
            c["unattributed_jobs"] += 1
            continue
        c["jobs"] += 1
        if g[1] == "build":
            c["build_jobs"] += 1
    for s in stages:
        if s.get("status") not in ("COMPLETE", "FAILED"):
            continue  # skipped or still active
        c["stages"] += 1
        c["tasks"] += s["numCompleteTasks"] + s["numFailedTasks"]
        c["exec_noncpu_s"] += s["executorRunTime"] / 1e3 - s["executorCpuTime"] / 1e9
        c["shuffle_read_bytes"] += s["shuffleReadBytes"]
        c["shuffle_write_bytes"] += s["shuffleWriteBytes"]
        c["spill_bytes"] += s["memoryBytesSpilled"] + s["diskBytesSpilled"]
        c["input_bytes"] += s["inputBytes"]
        c["gc_s"] += s["jvmGcTime"] / 1e3
    return c
