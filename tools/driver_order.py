"""Derive the ``queries()`` order from the correctness records and git.

A correctness check walks ids in ``queries()`` order and stops after a
fixed count, so the order decides which code gets a fresh hard-signal row.
This tool writes that order to ``<package>/driver_order.json``; the
rule is

1. ids with no green row in any ``CORRECTNESS_r*.json``;
2. ids whose ``@query`` function (``ast.unparse`` of the decorated
   def, oracle included) differs from the tree of the commit that
   added the CORRECTNESS file of their last green round;
3. every other id, oldest last-green round first.

Ties break on the id. Functions are found by their decorator id
through ``ast``, so no Spark session is needed.

Usage (repo root, after each round's CORRECTNESS file is committed;
commit the JSON unedited):
    python3 tools/driver_order.py
"""

from __future__ import annotations

import ast
import json
import re
import subprocess
from collections.abc import Iterable
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
PKG = "servicenow_cmdb_integration_to_aws_spark"
OUT = ROOT / PKG / "driver_order.json"


def _git(*args: str) -> str:
    return subprocess.run(
        ["git", *args], cwd=ROOT, check=True, capture_output=True, text=True
    ).stdout


def query_defs(sources: Iterable[str]) -> dict[str, str]:
    """id -> unparsed ``@query("<id>", ...)`` function over module sources."""
    defs = {}
    for src in sources:
        for node in ast.walk(ast.parse(src)):
            if not isinstance(node, ast.FunctionDef):
                continue
            for d in node.decorator_list:
                if (
                    isinstance(d, ast.Call)
                    and isinstance(d.func, ast.Name)
                    and d.func.id == "query"
                    and d.args
                    and isinstance(d.args[0], ast.Constant)
                ):
                    defs[d.args[0].value] = ast.unparse(node)
    return defs


def defs_at(commit: str) -> dict[str, str]:
    """query_defs over the package's ``.py`` files in ``commit``'s tree."""
    paths = _git("ls-tree", "-r", "--name-only", commit, "--", PKG).split()
    return query_defs(
        _git("show", f"{commit}:{p}") for p in paths if p.endswith(".py")
    )


def last_green_rounds() -> dict[str, tuple[int, str]]:
    """id -> (round, CORRECTNESS file) of its latest green row."""
    rounds = {
        int(re.fullmatch(r"CORRECTNESS_r(\d+)\.json", p.name).group(1)): p
        for p in ROOT.glob("CORRECTNESS_r*.json")
    }
    last = {}
    for rnd, f in sorted(rounds.items()):
        for qid, row in json.loads(f.read_text()).items():
            if row.get("hash_match") is True and row.get("err") is None:
                last[qid] = (rnd, f.name)
    return last


def driver_order() -> list[str]:
    now = query_defs(p.read_text() for p in sorted((ROOT / PKG).rglob("*.py")))
    green = last_green_rounds()
    trees: dict[str, dict[str, str]] = {}

    def rank(qid: str) -> tuple:
        if qid not in green:
            return (0, 0, qid)
        rnd, name = green[qid]
        if name not in trees:
            added = _git("log", "--diff-filter=A", "--format=%H", "--", name).split()
            if not added:
                raise SystemExit(f"{name} is not committed")
            trees[name] = defs_at(added[-1])
        if trees[name].get(qid) != now[qid]:
            return (1, 0, qid)
        return (2, rnd, qid)

    return sorted(now, key=rank)


def main() -> int:
    order = driver_order()
    OUT.write_text(json.dumps(order, indent=1) + "\n")
    print(f"{len(order)} ids -> {OUT.relative_to(ROOT)}")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
