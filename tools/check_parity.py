"""Local differential-parity harness — mimics the driver's t2 gate.

Runs every registered query on Spark and its oracle on DuckDB over the
same parquet tables, then compares row count, sorted column names, and
the exact multiset of canonicalized row values (stricter than the
driver's hash: we diff values directly).

Usage:
    python tools/check_parity.py [--sf /root/testdata/sf0.01] [id ...]
"""

from __future__ import annotations

import argparse
import math
import os
import sys
from datetime import date, datetime
from decimal import Decimal

# perfbench/session_run.py loads this file by path: find idrun beside it
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import idrun
from idrun import TABLE_NAMES  # noqa: F401 - read from here by perfbench


def canon(v):
    """Canonicalize a cell value for cross-engine comparison."""
    if v is None:
        return None
    if isinstance(v, Decimal):
        return ("dec", str(v.normalize()))
    if isinstance(v, float):
        if math.isnan(v):
            return ("f", "nan")
        return ("f", v.hex())
    if isinstance(v, bool):
        return ("b", v)
    if isinstance(v, int):
        return ("i", v)
    if isinstance(v, datetime):
        return ("ts", v.replace(tzinfo=None).isoformat())
    if isinstance(v, date):
        return ("d", v.isoformat())
    if isinstance(v, (list, tuple)):
        return ("l", tuple(canon(x) for x in v))
    if isinstance(v, dict):
        return ("m", tuple(sorted((k, canon(x)) for k, x in v.items())))
    if isinstance(v, (bytes, bytearray)):
        return ("by", bytes(v).hex())
    return ("s", str(v))


def rows_canon(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = [tuple(canon(r[i]) for i in order) for r in rows]
    out.sort(key=repr)
    return [cols[i] for i in order], out


def main() -> int:
    args = idrun.parse(argparse.ArgumentParser(), "/root/testdata/sf0.01")
    con = idrun.duck(args.sf)
    spark, queries, oracles = idrun.session("check-parity")

    def check(qid):
        sdf = queries[qid](spark, args.sf)
        sc, s_can = rows_canon(sdf.columns, sdf.collect())
        if qid not in oracles:
            return "SKIP", f"rows-only ({len(s_can)} rows)"
        cur = con.execute(oracles[qid])
        dc, d_can = rows_canon([d[0] for d in cur.description], cur.fetchall())
        if sc != dc:
            return "FAIL", f"columns spark={sc} duckdb={dc}"
        if len(s_can) != len(d_can):
            return "FAIL", f"rowcount spark={len(s_can)} duckdb={len(d_can)}"
        diff = [(a, b) for a, b in zip(s_can, d_can) if a != b]
        if diff:
            a, b = diff[0]
            return "FAIL", (
                f"{len(diff)}/{len(s_can)} rows differ; first:\n"
                f"  cols : {sc}\n  spark: {a}\n  duck : {b}"
            )
        return "PASS", f"{len(s_can)} rows"

    tally = idrun.each(args.ids or sorted(queries), check)
    print(
        f"\n{tally['PASS']} passed, {tally['FAIL']} failed, "
        f"{tally['SKIP']} rows-only skipped"
    )
    return 1 if tally["FAIL"] else 0


if __name__ == "__main__":
    raise SystemExit(main())
