"""Query temp space: one per-process root and a run scope.

Every temp dir a query body makes goes under one root per process, made
by the first call that needs a dir and removed at exit. Never at import:
Spark's Python workers import package modules to unpickle UDFs and leave
through ``os._exit``, so a root made there would leak.

``queries()[id]`` returns a lazy DataFrame that may still read the dirs
its body made, so the body cannot free them. A caller that consumes the
results wraps the call and the consumption in :func:`scope`. Process
caches use ``tempfile.mkdtemp(prefix=..., dir=root())``, which no scope
frees.
"""

from __future__ import annotations

import atexit
import contextlib
import shutil
import tempfile
import threading

_LOCK = threading.Lock()
_ROOT: str | None = None
_SCOPE = threading.local()  # .dirs: what this thread's open scope frees


def root() -> str:
    """This process's scratch root, made on first use."""
    global _ROOT
    with _LOCK:
        if _ROOT is None:
            _ROOT = tempfile.mkdtemp(prefix="cmdb_scratch_")
            atexit.register(shutil.rmtree, _ROOT, ignore_errors=True)
    return _ROOT


def mkdtemp(prefix: str) -> str:
    """A fresh dir under the root, freed by this thread's open scope or,
    outside any scope, at exit."""
    d = tempfile.mkdtemp(prefix=prefix, dir=root())
    if getattr(_SCOPE, "dirs", None) is not None:
        _SCOPE.dirs.append(d)
    return d


@contextlib.contextmanager
def scope():
    """Free the dirs this thread makes with :func:`mkdtemp` inside the
    block when it exits. Scopes nest: an inner block frees its own."""
    outer, _SCOPE.dirs = getattr(_SCOPE, "dirs", None), []
    try:
        yield
    finally:
        for d in _SCOPE.dirs:
            shutil.rmtree(d, ignore_errors=True)
        _SCOPE.dirs = outer
