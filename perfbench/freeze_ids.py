"""Regenerate the frozen id lists of ``workloads.json`` from the registry.

It prints the lists as JSON. They were generated once and are committed,
so a change that adds or moves a query id does not change what the
benchmark measures. Run this only to define a new benchmark version,
from the repository root:

    python3 perfbench/freeze_ids.py

Rules: see :data:`RELATIONAL_MODULES`, :data:`RELATIONAL_PICKS` and
:data:`BATCH_PICKS`.
"""

from __future__ import annotations

import json
import sys

#: relational_mix: every ``STRIDE``-th registered id of each of these
#: modules, sorted by id, starting with the first (cost-blind; every
#: module represented)
RELATIONAL_MODULES = [
    "operators.aggregates", "operators.joins", "operators.windows",
    "operators.filters", "operators.sorts", "operators.setops",
    "operators.extended", "operators.analytics", "operators.udf_surface",
    "operators.golden", "operators.golden2", "plans.encoded_query",
    "functions.scalar", "streaming.batch_equiv",
]
STRIDE = 13

#: relational modules whose stride sample misses the layer the module
#: stands for take these ids instead: the encoded-query compiler
#: (``compile_encoded``) and the dot-walk join planner (``dotwalk_select``)
RELATIONAL_PICKS = {
    "plans.encoded_query": ["p1_encoded_filter", "p5_dotwalk_select"],
}

#: batch_jobs: one id per batch layer, picked by the layer it exercises
#: (a run has room for about four multi-second batch ids; the only id
#: using ``sinks.compact_parquet_dir``, a19, alone takes 2.4 s and did
#: not fit)
BATCH_PICKS = {
    # Python-worker / Arrow kernel (mapInPandas feature extraction)
    "llm.multimodal": ["m1_binary_features"],
    # iterative fixpoint, one operators.fixpoint.cut_lineage per round
    "operators.graph": ["c22_k_core"],
    # SnapshotStore log compaction and versioned commits
    "streaming.compaction": ["a15_snapshot_compact"],
    # transform map + upsert into the target table
    "operators.transform_map": ["a13_transform_map"],
}

PKG = "servicenow_cmdb_integration_to_aws_spark"


def registered_by_module() -> dict[str, list[str]]:
    sys.path.insert(0, ".")
    import importlib

    engine = importlib.import_module(PKG)
    engine.load_all()
    out: dict[str, list[str]] = {}
    for qid, wrapped in engine.QUERIES.items():
        # the registry wrapper closes over the module's own function
        fn = next(c.cell_contents for c in wrapped.__closure__ if callable(c.cell_contents))
        out.setdefault(fn.__module__.removeprefix(PKG + "."), []).append(qid)
    return out


def main() -> int:
    by_module = registered_by_module()
    for mod, ids in {**RELATIONAL_PICKS, **BATCH_PICKS}.items():
        missing = set(ids) - set(by_module[mod])
        if missing:
            raise SystemExit(f"{sorted(missing)} not registered by {mod}")
    frozen = {
        "relational_mix": {
            m: RELATIONAL_PICKS.get(m) or sorted(by_module[m])[::STRIDE] for m in RELATIONAL_MODULES
        },
        "batch_jobs": BATCH_PICKS,
    }
    json.dump(frozen, sys.stdout, indent=1)
    print()
    return 0


if __name__ == "__main__":
    sys.exit(main())
