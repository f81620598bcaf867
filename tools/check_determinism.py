"""Double-run determinism harness (r12): run every registered query
TWICE in one session and require the exact canonicalized row multisets
to match.

Why this exists next to check_parity: the DuckDB differential catches
nondeterminism only at the moment the engine's arbitrary pick diverges
from DuckDB's — a shuffle-order-dependent tie pick can agree for any
number of runs and split later (the r11 --dupids canon findings were
exactly this class). Running the SAME engine twice catches the
nondeterminism itself: if two runs differ, the operator has an
unpinned tie rule, full stop, no oracle needed. Complementary, not a
substitute — parity proves the value is RIGHT, this proves it is
STABLE.

Queries that stage temp dirs (stores, sinks, streams) rebuild them per
run, so this also re-proves that scaffolding is rerun-safe in one
session (fresh mkdtemp per call — a collision would surface here).

With ``--vs-sf DIR`` the second run reads a DIFFERENT corpus dir that
must hold the SAME logical content (the --rowshuffle layout twin): the
two canonicalized multisets must still be equal, which proves the
result is independent of PHYSICAL ROW ORDER — the property a 100 TB
deployment actually needs, since splits/compactions/shuffles feed the
same table in arbitrary order. A same-corpus double run cannot see
this class (both runs read the same layout).

Usage:
    python tools/check_determinism.py [--sf /root/testdata/sf0.001] [id ...]
    python tools/check_determinism.py --sf <orig> --vs-sf <rowshuffled>
"""

from __future__ import annotations

import argparse
import os

import idrun
from check_parity import rows_canon  # same canonicalization


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument(
        "--vs-sf", default=None,
        help="second corpus dir with identical logical content "
             "(e.g. the --rowshuffle twin); run 2 reads it instead",
    )
    ap.add_argument(
        "--cpus2", type=int, default=None,
        help="PARALLELISM axis (r14): rebuild the session with "
             "SPARK_GRAFT_CPUS=N before run 2 (local[N] master and N "
             "shuffle partitions) — results must be independent of "
             "core count and shuffle fan-out, the property a move "
             "from local[32] to a 1000-executor cluster needs. "
             "Composable with --vs-sf. Runs phase-wise (all ids on "
             "session 1, then all on session 2) to avoid a JVM "
             "restart per id.",
    )
    args = idrun.parse(ap, "/root/testdata/sf0.001")
    spark, queries, _ = idrun.session("determinism")

    def run(qid, sf_dir):
        df = queries[qid](spark, sf_dir)
        return rows_canon(df.columns, df.collect())

    ids = args.ids or sorted(queries)
    phase1: dict[str, tuple] = {}
    if args.cpus2 is not None:
        # phase-wise: collect run 1 for every id, rebuild the session
        # at the second parallelism, then run 2 compares against it
        def run1(qid):
            phase1[qid] = run(qid, args.sf)
            return "run1", f"{len(phase1[qid][1])} rows"

        idrun.each(ids, run1, err="ERROR(run1)")
        spark.stop()
        os.environ["SPARK_GRAFT_CPUS"] = str(args.cpus2)
        spark = idrun.build_session("determinism-cpus2")

    def check(qid):
        if args.cpus2 is None:
            first = run(qid, args.sf)
        elif qid in phase1:
            first = phase1[qid]
        else:
            return "FAIL", "run 1 failed"
        (c1, r1), (c2, r2) = first, run(qid, args.vs_sf or args.sf)
        if c1 != c2:
            return "FAIL", f"column sets differ {c1} vs {c2}"
        if r1 != r2:
            diffs = [a for a in r1 if a not in r2][:3]
            return "FAIL", (
                f"{len(r1)} vs {len(r2)} rows, multisets differ; "
                f"sample only-in-run1: {diffs}"
            )
        return "PASS", f"{len(r1)} rows"

    tally = idrun.each(ids, check, err="ERROR")
    n_fail = tally["FAIL"] + tally["ERROR"]
    print(f"\n{tally['PASS']} deterministic, {n_fail} failed")
    return 1 if n_fail else 0


if __name__ == "__main__":
    raise SystemExit(main())
