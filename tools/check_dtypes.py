"""Driver-hash dtype audit — catches the hugeint/int64 class of fail.

The driver's correctness gate hashes the *pandas* frames of both
engines (order-insensitive but dtype-sensitive: an int64 column hashes
by its 64-bit values, an object column of Python ints by string — see
the r2 d16/e10/j18 and r5 i7/e12 hash-FAILs, all caused by DuckDB
``SUM(BIGINT) -> HUGEINT`` surfacing as object dtype while Spark
returned int64). ``check_parity.py`` compares canonicalized *values*
so it is blind to this class; this tool compares
``spark_df.toPandas().dtypes`` against ``duckdb.sql(oracle).df().dtypes``
column-by-column and flags any mismatch.

Driver-round evidence (r1-r5) pins the equivalence classes: int width
(int32 vs int64 — e9/j18/j37 green), datetime64 unit (ns vs us — i12,
b8, c8 green) and object-of-date vs datetime64 (h3/h6 green) are all
BENIGN; int-vs-float is the FAIL class (DuckDB HUGEINT -> float64 via
.df() — r2 d16/e10/j18, r5 i7/e12). So compare dtype KINDS, resolving
object columns by inspecting a cell.

Usage:
    python tools/check_dtypes.py [--sf /root/testdata/sf0.001] [id ...]
"""

from __future__ import annotations

import argparse

import idrun


def kind(col) -> str:
    """Collapse a pandas column to its driver-visible value class."""
    k = col.dtype.kind
    if k in "iu":
        return "int"
    if k == "f":
        return "float"
    if k == "b":
        return "bool"
    if k == "M":
        return "dt"
    if k == "O":
        vals = col.dropna()
        if len(vals) == 0:
            return "obj-empty"
        import datetime as _dt
        import decimal as _dec

        v = vals.iloc[0]
        if isinstance(v, _dt.datetime):
            return "dt"
        if isinstance(v, _dt.date):
            return "dt"  # driver-proven equal to datetime64 (h3/h6)
        if isinstance(v, bool):
            return "bool"
        if isinstance(v, int):
            return "int-obj"  # hugeint path — driver-proven FAIL vs int64
        if isinstance(v, float):
            return "float"
        if isinstance(v, _dec.Decimal):
            return "decimal"
        if isinstance(v, (list, tuple)) or type(v).__name__ == "ndarray":
            return "list"
        if isinstance(v, (bytes, bytearray)):
            return "bytes"
        return "str"
    return k


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("-v", action="store_true", help="print per-id ok lines")
    args = idrun.parse(ap, "/root/testdata/sf0.001")
    con = idrun.duck(args.sf)
    spark, queries, oracles = idrun.session("check-dtypes")
    ids = [qid for qid in args.ids or sorted(oracles) if qid in oracles]

    def check(qid):
        spdf = queries[qid](spark, args.sf).toPandas()
        ddf = con.execute(oracles[qid]).df()
        sd = {c: kind(spdf[c]) for c in spdf.columns}
        dd = {c: kind(ddf[c]) for c in ddf.columns}
        diffs = [
            f"{c}: spark={sd[c]}({spdf[c].dtype}) duckdb={dd[c]}({ddf[c].dtype})"
            for c in sorted(sd)
            if c in dd and sd[c] != dd[c]
            and "obj-empty" not in (sd[c], dd[c])
        ] + [
            f"{c}: spark={sd.get(c, '<missing>')} duckdb={dd.get(c, '<missing>')}"
            for c in sorted(set(sd) ^ set(dd))
        ]
        if diffs:
            return "DIFF", f"{'; '.join(diffs)} (rows={len(spdf)})"
        return "ok", "dtype kinds match" if args.v else None

    tally = idrun.each(ids, check, err="ERR")
    print(
        f"done: {tally['DIFF']} ids with dtype diffs, {tally['ERR']} errors, "
        f"{len(ids)} checked"
    )
    return 1 if tally["DIFF"] or tally["ERR"] else 0


if __name__ == "__main__":
    raise SystemExit(main())
