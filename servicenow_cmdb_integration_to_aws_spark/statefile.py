"""The engine's small state files: one lock, one read, one publish.

Every commit record the engine keeps — a SnapshotStore's `_LATEST`, a
StoreGroup's `_MANIFEST`, a streaming sink's `_spark_metadata/<N>.compact`,
the a20 export's `_MANIFEST` and the WatermarkStore JSON — is locked,
read and published through this module and nowhere else.

A published record is durable before it is live: the text goes to a
hidden temp file in the record's own directory (so the rename stays on
one filesystem), is flushed and fsync'd, and only then renamed over the
record. Temp names follow Spark's CheckpointFileManager convention,
`.<record name>.<hex>.tmp`: hidden, and never parsed as a record by
Spark's sink-log reader or by the engine's own readers.
"""

from __future__ import annotations

import contextlib
import json
import os
import uuid

try:
    import fcntl
except ImportError:  # non-POSIX: a single writer per lock is assumed
    fcntl = None


@contextlib.contextmanager
def exclusive(lock_path: str):
    """Hold an exclusive flock on `lock_path` (created if missing)."""
    with open(lock_path, "w") as lf:
        if fcntl is not None:
            fcntl.flock(lf, fcntl.LOCK_EX)
        yield


def read_json(path: str, default):
    """The JSON record at `path`, or `default` when there is none."""
    try:
        with open(path) as f:
            return json.load(f)
    except FileNotFoundError:
        return default


def publish(path: str, text: str, staged=None) -> None:
    """Atomically replace `path` with `text`, durable before it is live.

    `staged()`, if given, runs once the temp file is fsync'd and before
    the rename: the crash point between "written" and "committed"."""
    d, name = os.path.split(path)
    tmp = os.path.join(d, f".{name}.{uuid.uuid4().hex}.tmp")
    with open(tmp, "x") as f:
        f.write(text)
        f.flush()
        os.fsync(f.fileno())
    if staged is not None:
        staged()
    os.replace(tmp, path)


def sweep(path: str) -> None:
    """Remove the temps crashed publishes of `path` left. Call it only
    under the lock every publisher of `path` holds."""
    d, name = os.path.split(path)
    for f in os.listdir(d):
        if f.startswith(f".{name}.") and f.endswith(".tmp"):
            os.remove(os.path.join(d, f))
