"""Incremental high-water-mark sync state (SURVEY §2 i8, §3.3).

The CMDB `sys_updated_on` poll pattern [SN-API]: each sync run reads
only rows newer than the persisted watermark, then advances it. This is
the batch alternative to Structured Streaming's state store — a tiny
JSON state file (atomically replaced) plus a filtered read.

100 TB notes: the watermark filter is a parquet row-group predicate, so
polls touch only new files; state is O(1) regardless of data volume.
On a cluster the state file lives on shared storage (S3/HDFS) — the
rename-commit here mirrors that pattern.
"""

from __future__ import annotations

import json
from datetime import datetime

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..statefile import exclusive, publish, read_json

ISO = "%Y-%m-%dT%H:%M:%S.%f"


class WatermarkStore:
    """Persisted high-water mark keyed by stream name."""

    def __init__(self, path: str):
        self.path = path

    def read(self, name: str, default: datetime) -> datetime:
        raw = read_json(self.path, {}).get(name)
        return datetime.strptime(raw, ISO) if raw else default

    def write(self, name: str, wm: datetime) -> None:
        """Read-modify-write under an exclusive flock: two streams
        committing different names concurrently can't lose an update
        (the rename alone is atomic but not isolated). On S3-backed
        deployments, where flock doesn't exist, the equivalent is
        one state object per stream name or a conditional put."""
        with exclusive(self.path + ".lock"):
            state = read_json(self.path, {})
            state[name] = wm.strftime(ISO)
            publish(self.path, json.dumps(state))


def sync_increment(
    df: DataFrame,
    ts_col: str,
    store: WatermarkStore,
    name: str,
    epoch_start: datetime,
) -> tuple[DataFrame, datetime]:
    """One incremental poll: rows with ts > watermark; returns the new
    watermark (max ts seen, or the old one if no new rows). Caller
    commits via ``store.write(name, new_wm)`` *after* its sink succeeds
    (at-least-once on failure, like the REST poll it models)."""
    wm = store.read(name, epoch_start)
    fresh = df.filter(F.col(ts_col) > F.lit(wm))
    row = fresh.agg(F.max(ts_col).alias("m")).collect()[0]
    new_wm = row["m"] if row["m"] is not None else wm
    return fresh, new_wm
