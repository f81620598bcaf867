#!/usr/bin/env python3
"""Benchmark of the CMDB Spark engine: analyst query mix and batch jobs.

Usage, from the root of a checkout of the repository:

    python3 perfbench/run.py --workload relational_mix --seed 1 --seconds 5 --trace 0

Runs one workload (``perfbench/workloads.json``) in a child process
(``session_run.py``) against one warm shared Spark session, then prints
one JSON line as the last line of stdout:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

``--trace 0`` reports the end-to-end metrics (``BENCHMARK.json``):

- ``setup_s``: median of three set-ups, each a session (re)build plus
  one warm pass over the workload's ids;
- ``wall_s``: median time of one pass over the ids (the op list);
- ``op_geomean_s``: geometric mean over the ids of each id's median op
  latency (build plus sink);
- ``cpu_s``: median CPU seconds of the whole process tree (Spark driver
  Python, JVM, Python workers) per pass;
- ``peak_rss_mb``: peak resident size of the Spark driver plus its JVM;
- ``success_rate``: share of the ops that ran without error and whose
  id matched its DuckDB oracle.

Times have the host's steal removed (``session_run.summarize``).
``--trace 1`` reports the per-layer metrics instead. Details of the
run (raw pass walls, cores busy, steal, op latency percentiles, ids
that failed the oracle check, and with tracing the span table with
self times) go to ``.perfbench/out/``.

Each run gets a fresh ``TMPDIR``, Spark local dir and JVM temp dir under
``.perfbench/tmp/``, deleted when the run ends. Input data is the
parquet testdata under ``$PERFBENCH_DATA``, by default the testdata
root the engine's entry point uses (``__spark_entry__.SMOKE_SF_DIR``),
read only. The run exits non-zero, printing no result, when the engine
or the data is missing.
"""

from __future__ import annotations

import argparse
import ast
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
#: the child must finish well inside the 180 s a run may take
CHILD_TIMEOUT_S = 165.0


#: Spark driver (and, in local mode, executor) heap: far below the
#: host's RAM, and small enough that the heap fills up in every run. With
#: a larger one, how far the JVM grows its heap before collecting varied
#: from run to run, and the peak RSS with it.
DRIVER_MEM = "1g"


def data_root(entry_py: str) -> str:
    """``$PERFBENCH_DATA``, else the parent of the entry point's
    ``SMOKE_SF_DIR`` (read from its source, without importing it)."""
    if os.environ.get("PERFBENCH_DATA"):
        return os.environ["PERFBENCH_DATA"]
    with open(entry_py) as fh:
        for node in ast.parse(fh.read()).body:
            if isinstance(node, ast.Assign) and any(
                isinstance(t, ast.Name) and t.id == "SMOKE_SF_DIR" for t in node.targets
            ):
                return os.path.dirname(ast.literal_eval(node.value))
    raise ValueError(f"no SMOKE_SF_DIR in {entry_py}")


def kill_group(pgid: int) -> None:
    """Stop every process left in the child's process group and wait
    until none is left."""
    for sig in (signal.SIGTERM, signal.SIGKILL):
        try:
            os.killpg(pgid, sig)
        except ProcessLookupError:
            return
        deadline = time.monotonic() + 5.0
        while time.monotonic() < deadline:
            try:
                os.killpg(pgid, 0)
            except ProcessLookupError:
                return
            time.sleep(0.05)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    root = os.getcwd()
    with open(os.path.join(HERE, "workloads.json")) as fh:
        spec = json.load(fh)
    if args.workload not in spec["workloads"]:
        print(f"unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    entry_py = os.path.join(root, "__spark_entry__.py")
    needed = [
        entry_py,
        os.path.join(root, "servicenow_cmdb_integration_to_aws_spark", "__init__.py"),
        os.path.join(root, "tools", "check_parity.py"),
    ]
    missing = [p for p in needed if not os.path.exists(p)]
    if not missing:
        sf_dir = os.path.join(data_root(entry_py), spec["sf"])
        missing = [p for p in [os.path.join(sf_dir, "lineitem.parquet")] if not os.path.exists(p)]
    if missing:
        print(f"cannot run the benchmark, missing: {missing}", file=sys.stderr)
        return 2

    work = os.path.join(root, ".perfbench")
    out_dir = os.path.join(work, "out")
    run_dir = os.path.join(work, "tmp", f"{args.workload}-{args.seed}-{args.trace}-{os.getpid()}")
    tmp, local, jtmp = (os.path.join(run_dir, d) for d in ("tmp", "local", "java"))
    for d in (out_dir, tmp, local, jtmp):
        os.makedirs(d, exist_ok=True)
    result_path = os.path.join(run_dir, "result.json")
    stem = os.path.join(out_dir, f"{args.workload}-seed{args.seed}-trace{args.trace}")

    submit = ["pyspark-shell"]
    if args.trace:
        # the traced run reads every job and stage of the window back
        submit[:0] = ["--conf spark.ui.retainedJobs=100000", "--conf spark.ui.retainedStages=100000"]
    env = dict(os.environ)
    env.update(
        TMPDIR=tmp,
        SPARK_LOCAL_DIRS=local,
        SPARK_GRAFT_CPUS=str(os.cpu_count() or 1),
        SPARK_GRAFT_DRIVER_MEM=DRIVER_MEM,
        PYTHONPATH=os.pathsep.join(filter(None, [root, env.get("PYTHONPATH")])),
        PYSPARK_SUBMIT_ARGS=" ".join(submit),
        # every JVM (Spark's launcher too) keeps its temp files in the run
        # directory and writes no hsperfdata file, which goes to /tmp
        # whatever the temp dir
        JAVA_TOOL_OPTIONS=f"-Djava.io.tmpdir={jtmp} -XX:-UsePerfData",
        # the same string hashing (set and dict order) in every run
        PYTHONHASHSEED="0",
        # glibc's per-thread malloc arenas make the JVM's resident size
        # differ by hundreds of MB from run to run; YARN caps them at 4 too
        MALLOC_ARENA_MAX="4",
    )
    cmd = [
        sys.executable,
        os.path.join(HERE, "session_run.py"),
        "--workload", args.workload,
        "--seed", str(args.seed),
        "--seconds", str(args.seconds),
        "--trace", str(args.trace),
        "--sf-dir", sf_dir,
        "--out", result_path,
        "--trace-out", f"{stem}.json",
    ]
    # a terminated run still stops its child and the child's JVM (the
    # ``finally`` below)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    # the child's stdout (JVM and Python chatter) goes to our stderr:
    # stdout carries only the result line
    try:
        child = subprocess.Popen(cmd, cwd=root, env=env, stdout=sys.stderr, start_new_session=True)
        try:
            code = child.wait(timeout=CHILD_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            print(f"run exceeded {CHILD_TIMEOUT_S:.0f} s, stopped", file=sys.stderr)
            code = None
        finally:
            kill_group(child.pid)
            if child.poll() is None:
                child.wait()
        try:
            with open(result_path) as fh:
                result = json.load(fh)
        except (OSError, ValueError):
            result = None
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    if code != 0 or result is None:
        print(f"run failed (exit {code})", file=sys.stderr)
        return 1
    detail = result.pop("detail")
    with open(f"{stem}-detail.json", "w") as fh:
        json.dump(detail, fh, indent=1)
    print(json.dumps(detail, separators=(",", ":")), file=sys.stderr)
    print(json.dumps(result, separators=(",", ":")))
    return 0


if __name__ == "__main__":
    sys.exit(main())
