#!/usr/bin/env python
"""Per-id optimization profiler (r14): isolated serial timings + plan
capture, the guide §1 'measure first' harness.

For each id: run the query REPEATS times end-to-end through the noop
sink on one fresh session (first run = cold plan, rest warm), print
all timings with each run's generated-code compiles and compile
milliseconds (the Spark ``CodegenMetrics`` / ``CodeGenerator`` deltas;
a warm run that still compiles is missing the codegen cache) and its
Python-worker CPU seconds (the JVM's Python child processes, read from
``/proc`` by ``perfbench/measure.cpu_split``; a per-task worker cost
shows here), and
(with --plans DIR) write `<id>_<tag>.txt` containing
`explain("formatted")` of the exact DataFrame the bench executes.

Usage:
    python tools/profile_ids.py [--sf DIR] [--repeats N]
        [--plans plans/r14 --tag before] id [id ...]
"""

from __future__ import annotations

import argparse
import os
import sys
import time

import idrun
from idrun import entrymod
from perfbench import measure


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--repeats", type=int, default=3)
    ap.add_argument("--plans", default=None)
    ap.add_argument("--tag", default="before")
    args = idrun.parse(ap, "/root/testdata/sf0.1", nargs="+")
    spark, queries, _ = idrun.session("profile-ids")
    jvm = spark._jvm
    compiles = jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME()
    codegen = jvm.org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator

    def compiled() -> tuple[int, int]:
        """(classes compiled, compile nanoseconds) since the JVM started"""
        return compiles.getCount(), codegen.compileTime()

    def worker_cpu_s() -> float:
        """CPU seconds of the JVM's Python workers, live and exited"""
        return measure.cpu_split(os.getpid(), measure.read_stats())["workers"]

    # same warmup as bench.py: JVM + codegen + parquet footer
    entrymod.entry(spark).collect()

    def check(qid):
        runs, compiles_ms, worker_s = [], [], []
        for r in range(args.repeats):
            spark.sparkContext.setJobDescription(f"{qid} run{r}")
            n0, ns0 = compiled()
            w0 = worker_cpu_s()
            t0 = time.perf_counter()
            df = queries[qid](spark, args.sf)
            df.write.mode("overwrite").format("noop").save()
            runs.append(round(time.perf_counter() - t0, 3))
            n1, ns1 = compiled()
            compiles_ms.append((n1 - n0, round((ns1 - ns0) / 1e6)))
            worker_s.append(round(worker_cpu_s() - w0, 2))
        spark.sparkContext.setJobDescription(None)
        if args.plans:
            os.makedirs(args.plans, exist_ok=True)
            df = queries[qid](spark, args.sf)
            plan = df._sc._jvm.PythonSQLUtils.explainString(
                df._jdf.queryExecution(), "formatted"
            )
            with open(
                os.path.join(args.plans, f"{qid}_{args.tag}.txt"), "w"
            ) as fh:
                fh.write(plan)
        return "ok", (
            f"{runs} (min {min(runs):.3f}) compiles/ms {compiles_ms}"
            f" pyworker cpu s {worker_s}"
        )

    tally = idrun.each(args.ids, check, err="ERR")
    return 1 if tally["ERR"] else 0


if __name__ == "__main__":
    sys.exit(main())
