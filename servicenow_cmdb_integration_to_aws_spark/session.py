"""SparkSession factory and runtime tuning.

Design point (SURVEY.md §6/§7): one shared session, AQE on, UTC session
timezone, Arrow enabled. ``spark.sql.shuffle.partitions`` is sized for
the local test harness via ``SPARK_GRAFT_CPUS``; on a real cluster the
same code runs with AQE coalescing partitions at runtime, so the static
number only sets the *upper* bound of the shuffle fan-out at small SF.

100 TB notes:
- every conf set here is cluster-valid; nothing assumes local mode
  except the ``master`` default in :func:`build_session` (tests/bench).
- AQE (adaptive query execution) handles runtime partition coalescing,
  skew-join splitting and broadcast demotion — required at scale and
  harmless at sf0.01.

:func:`build_session` sizes Spark's JVM-wide generated-class cache
(``spark.sql.codegen.cache.maxEntries``, default 100) to the registry's
working set, so a warm pass over the queries reuses compiled code instead
of recompiling every class. That conf is static: it holds only when
:func:`build_session` creates the JVM's first session, and a session the
caller builds keeps Spark's default.

It also names :mod:`.worker_daemon` as the Python worker daemon
(``spark.python.daemon.module``). Each Python task (pandas UDFs,
``mapInPandas``/``applyInPandas``, UDTFs, Python data sources) starts with
``importlib.invalidate_caches()``, which on CPython 3.11 re-parses every
zip on the worker path: 206-344 ms of a task's ``init`` against 1-2 ms of
user code (4 vCPU, sf0.01). The daemon keeps each zip's directory until
the archive changes. The package root goes on the workers' path so the
daemon imports from any working directory. The daemon module is static
too: a session the caller builds first keeps ``pyspark.daemon``.
"""

from __future__ import annotations

import os
import warnings

from pyspark.sql import SparkSession

_WARNED_ACTIVE_SESSION_PIN = False

#: the directory holding this package, put on the Python workers' path
_PACKAGE_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

#: Confs that are runtime-settable and must hold on ANY session our
#: queries run under — including the driver-owned session passed into
#: ``queries()[id](spark, sf_dir)``, which we do not construct.
RUNTIME_CONFS: dict[str, str] = {
    "spark.sql.session.timeZone": "UTC",
    # the engine's arithmetic/cast/overflow semantics are verified
    # under ANSI mode (Spark 4 default) — every try_* escape hatch,
    # finite-metric gate and DECIMAL-exact sum assumes it. A caller's
    # session with ANSI off would silently run unverified semantics
    # (overflow wraps instead of raising, bad casts null instead of
    # failing), so the wrapper pins it like the timezone (r14).
    "spark.sql.ansi.enabled": "true",
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # at 100 TB this is governed by AQE advisory sizes; locally it keeps
    # tiny shuffles from fanning out into hundreds of empty partitions.
    "spark.sql.adaptive.advisoryPartitionSizeInBytes": "64m",
    # let Python Data Sources receive pushed filters (rest_source.py —
    # the sysparm_query pushdown path)
    "spark.sql.python.filterPushdown.enabled": "true",
    # the TIMESTAMP(NANOS) events generation is readable only as raw
    # nanos (sources.tables.scan / streaming._stream_events convert it);
    # pinned here so no read depends on which query set it first
    "spark.sql.legacy.parquet.nanosAsLong": "true",
}


def tune(spark: SparkSession) -> SparkSession:
    """Apply runtime confs to an externally-provided session (idempotent).

    Also pins this THREAD's JVM active session: ``DataFrameWriter.save``
    resolves registered Python data sources through the JVM thread-local
    active session with NO fall-back to the default session, so a
    custom-format write dispatched from a fresh Python thread (whose
    py4j connection runs on a fresh JVM thread, active session empty)
    throws DATA_SOURCE_NOT_FOUND even though the source is registered
    — the bench concurrent-drain crash. One py4j call, idempotent."""
    try:
        jvm = spark._jvm
        if jvm is not None:
            jvm.org.apache.spark.sql.classic.SparkSession.setActiveSession(
                spark._jsparkSession
            )
    except Exception as ex:  # pragma: no cover - private API drift
        # The pin rides a PRIVATE py4j path; on Spark version drift it
        # must degrade loudly (once), not silently re-open the
        # DATA_SOURCE_NOT_FOUND window for worker-thread writes.
        global _WARNED_ACTIVE_SESSION_PIN
        if not _WARNED_ACTIVE_SESSION_PIN:
            _WARNED_ACTIVE_SESSION_PIN = True
            warnings.warn(
                "tune(): could not pin the JVM thread-local active session "
                f"({type(ex).__name__}: {ex}); Python data source writes "
                "from fresh threads may fail with DATA_SOURCE_NOT_FOUND",
                RuntimeWarning,
                stacklevel=2,
            )
    for k, v in RUNTIME_CONFS.items():
        try:
            spark.conf.set(k, v)
        except Exception:  # pragma: no cover - conf not settable post-start
            pass
    return spark


def build_session(app_name: str = "cmdb-spark-engine") -> SparkSession:
    """Build the engine's own local session (tests / bench / tools)."""
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    b = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(cpus))
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "24g"))
        # FAIR task scheduling: a multi-tenant drain (bench phase 1,
        # concurrent notebook users) must not let one long stage's task
        # set monopolize every core while 11 queued queries starve —
        # clients put themselves in per-client pools (see bench.run_one)
        # and the pools share the executor fairly. FIFO-equivalent for
        # single-query sessions; strictly better makespan under
        # concurrency. Cluster-valid conf.
        .config("spark.scheduler.mode", "FAIR")
        .config("spark.ui.enabled", "false")
        # static: the default 100-entry cache (segmented, keyed by class
        # loader too) thrashes on the registry's 2626 distinct generated
        # classes at sf0.01 — a warm serial pass over every id recompiled
        # 3317 of them, 24-58 with this cap (4 vCPU). 8192 leaves ~3x
        # headroom for per-segment skew and other SFs in the same JVM.
        .config("spark.sql.codegen.cache.maxEntries", "8192")
        # static: pyspark.daemon's workers re-read every zip on their path
        # before each task (~0.2 s, 4 vCPU); this daemon re-reads a zip only
        # when it changed. It runs as `python -m` from the JVM's cwd, so the
        # package root goes on the worker path too.
        .config("spark.python.daemon.module", f"{__package__}.worker_daemon")
        .config("spark.executorEnv.PYTHONPATH", _PACKAGE_ROOT)
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.sql.warehouse.dir", "/tmp/spark-warehouse")
    )
    for k, v in RUNTIME_CONFS.items():
        b = b.config(k, v)
    spark = tune(b.getOrCreate())
    spark.sparkContext.setLogLevel("ERROR")
    return spark
