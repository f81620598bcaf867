"""Registry-wide lineage-duplication audit.

Spark re-plans a multi-consumer DataFrame's entire upstream lineage
once per consumer (exchange reuse only kicks in for identical shuffle
subtrees under AQE). The round-7 hand audit caught five offenders
(j2/j41/c19/j52/j12) by reading executed plans one at a time; this
tool generalizes that audit to the whole registry: run every batch
query once, then count `Scan parquet` nodes (and attribute them to
tables) in the EXECUTED (final adaptive) plan.

A high scan count is a *smell*, not a verdict — self-joins legitimately
scan a source once per join side, and chunked/blocked pair joins
deliberately re-scan columnar payloads instead of materializing a
corpus copy (j12's documented trade). The report exists so every
N-scan plan is a *decision*, not an accident.

Usage:
    python tools/check_rescans.py [--sf DIR] [--threshold 5] [id ...]

Exit code 0 whatever the counts (audit, not a gate — the per-id gates
live in tests/test_plans.py::test_multi_consumer_intermediates_materialize_once).
"""

from __future__ import annotations

import argparse
import re
from collections import Counter

import idrun

_TABLE_RE = re.compile(r"file:[^\s\],]*?/(\w+)\.parquet")


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--threshold", type=int, default=5)
    args = idrun.parse(ap, "/root/testdata/sf0.01")
    spark, queries, _ = idrun.session("check-rescans")
    report = []

    def check(qid):
        df = queries[qid](spark, args.sf)
        df.collect()
        plan = df._jdf.queryExecution().executedPlan().toString()
        # AdaptiveSparkPlan's toString prints BOTH the final and the
        # initial plan once finalized; counting the initial section
        # would double every adaptive scan. Keep the final plan only.
        plan = plan.split("== Initial Plan ==")[0]
        n_scan = plan.count("Scan parquet")
        n_reuse = plan.count("ReusedExchange") + plan.count("ReusedQueryStage")
        tables = Counter(_TABLE_RE.findall(plan))
        tbl = ",".join(f"{t}x{c}" for t, c in tables.most_common()) or "-"
        report.append((n_scan, n_reuse, qid, tbl))
        return "ok", None

    idrun.each(args.ids or sorted(queries), check, err="ERR")
    report.sort(reverse=True)
    print(f"\n{'scans':>5} {'reuse':>5}  {'id':<28} per-table")
    for n_scan, n_reuse, qid, tbl in report:
        flag = " <-- AUDIT" if n_scan >= args.threshold else ""
        print(f"{n_scan:>5} {n_reuse:>5}  {qid:<28} {tbl}{flag}")
    flagged = [r for r in report if r[0] >= args.threshold]
    print(
        f"\n{len(report)} ids audited, {len(flagged)} at/above "
        f"threshold {args.threshold} (executed-plan Scan parquet count)"
    )
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
