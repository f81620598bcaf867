"""Pure measurement helpers of the benchmark: no Spark, no side effects.

Everything here is unit-tested in ``test_measure.py``:

- the seeded op order (:func:`op_sequence`);
- the percentile rule (:func:`percentile`, :func:`tail_level`);
- span self time (:func:`self_time`, :func:`union_length`);
- process-tree CPU and I/O from ``/proc`` (:func:`tree_pids`,
  :func:`cpu_split`), host steal from ``/proc/stat``.
"""

from __future__ import annotations

import math
import os
import random
from collections.abc import Iterable, Iterator, Sequence

#: candidate tail percentiles, highest first
TAIL_LEVELS = (99.0, 95.0, 90.0, 75.0, 50.0)


def op_sequence(ids: Sequence[str], seed: int, salt: str) -> Iterator[list[str]]:
    """Endless seeded permutations of ``ids``, one per pass: the same
    seed gives the same passes, another seed permutations of the same
    multiset."""
    rng = random.Random(f"{salt}:{seed}")
    while True:
        order = list(ids)
        rng.shuffle(order)
        yield order


def percentile(values: Iterable[float], p: float) -> float:
    """Nearest-rank percentile: the smallest sample with at least ``p``
    percent of the samples at or below it."""
    xs = sorted(values)
    if not xs:
        raise ValueError("percentile of no samples")
    return xs[_rank(p, len(xs)) - 1]


def _rank(p: float, n: int) -> int:
    # p * n first: 0.9 * 100 is 90.00000000000001 in floating point
    return max(1, math.ceil(p * n / 100.0))


def tail_level(n: int) -> float:
    """Highest percentile of :data:`TAIL_LEVELS` with at least ten of
    ``n`` samples strictly beyond it (nearest rank); 50 if none has."""
    for p in TAIL_LEVELS:
        if n - _rank(p, n) >= 10:
            return p
    return 50.0


def union_length(intervals: Iterable[tuple[float, float]]) -> float:
    """Total length covered by possibly overlapping ``(start, end)`` intervals."""
    total = 0.0
    cur_s = cur_e = None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        elif e > cur_e:
            cur_e = e
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_time(start: float, end: float, children: Iterable[tuple[float, float]]) -> float:
    """A span's duration minus the part of it its children cover
    (children clipped to the span, overlaps counted once)."""
    clipped = [(max(s, start), min(e, end)) for s, e in children]
    return (end - start) - union_length((s, e) for s, e in clipped if e > s)


# ---------------------------------------------------------------- /proc

CLK_TCK = os.sysconf("SC_CLK_TCK") if hasattr(os, "sysconf") else 100


def parse_stat(text: str) -> tuple[int, str, int, int]:
    """``(ppid, comm, own_ticks, reaped_children_ticks)`` from the text
    of ``/proc/<pid>/stat``. ``comm`` may hold spaces and parentheses,
    so fields are split after its last ``)``."""
    comm = text[text.index("(") + 1 : text.rindex(")")]
    f = text[text.rindex(")") + 2 :].split()
    # f[0] is field 3 (state); utime/stime/cutime/cstime are fields 14-17
    return int(f[1]), comm, int(f[11]) + int(f[12]), int(f[13]) + int(f[14])


def read_stats(proc: str = "/proc") -> dict[int, tuple[int, str, int, int]]:
    out = {}
    for name in os.listdir(proc):
        if not name.isdigit():
            continue
        try:
            with open(f"{proc}/{name}/stat") as fh:
                out[int(name)] = parse_stat(fh.read())
        except (OSError, ValueError, IndexError):
            continue  # exited while listing
    return out


def tree_pids(root: int, stats: dict[int, tuple[int, str, int, int]]) -> list[int]:
    """``root`` and every live descendant of it."""
    kids: dict[int, list[int]] = {}
    for pid, st in stats.items():
        kids.setdefault(st[0], []).append(pid)
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        if pid in stats:
            out.append(pid)
            todo.extend(kids.get(pid, ()))
    return out


def jvm_pid(root: int, stats: dict[int, tuple[int, str, int, int]]) -> int | None:
    """The Spark driver JVM: the ``java`` process of ``root``'s tree."""
    return next((p for p in tree_pids(root, stats) if stats[p][1] == "java"), None)


def cpu_split(root: int, stats: dict[int, tuple[int, str, int, int]]) -> dict[str, float]:
    """CPU seconds of ``root``'s process tree, total and split into the
    Spark driver (``root`` itself), the JVM and the JVM's descendants (Python
    workers). Each live process counts its own time plus that of its
    reaped children: a child that exited and was waited for is no longer
    listed and its time sits in its parent's reaped count, so every
    process is counted once. The JVM's reaped children are Python
    processes it started, so they count as workers."""
    def own(p: int) -> float:
        return stats[p][2] / CLK_TCK

    def reaped(p: int) -> float:
        return stats[p][3] / CLK_TCK

    tree = tree_pids(root, stats)
    total = sum(own(p) + reaped(p) for p in tree)
    jvm = jvm_pid(root, stats)
    workers = 0.0
    if jvm is not None:
        workers = reaped(jvm) + sum(own(p) + reaped(p) for p in tree_pids(jvm, stats) if p != jvm)
    return {
        "total": total,
        "driver": own(root),
        "jvm": own(jvm) if jvm is not None else 0.0,
        "workers": workers,
    }


def read_io_write_bytes(pids: Iterable[int], proc: str = "/proc") -> int:
    total = 0
    for pid in pids:
        try:
            with open(f"{proc}/{pid}/io") as fh:
                for line in fh:
                    if line.startswith("write_bytes:"):
                        total += int(line.split()[1])
        except (OSError, ValueError):
            continue
    return total


def vm_hwm_kb(pid: int, proc: str = "/proc") -> int:
    try:
        with open(f"{proc}/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def host_cpu_ticks(proc: str = "/proc") -> tuple[int, int, int]:
    """``(busy, steal, total)`` jiffies of the aggregate ``cpu`` line."""
    with open(f"{proc}/stat") as fh:
        f = [int(x) for x in fh.readline().split()[1:]]
    # user nice system idle iowait irq softirq steal guest guest_nice;
    # guest time is already inside user/nice
    total = sum(f[:8])
    idle = f[3] + f[4]
    steal = f[7] if len(f) > 7 else 0
    return total - idle - steal, steal, total


def unstolen(wall: float, a: tuple[int, int, int], b: tuple[int, int, int]) -> float:
    """``wall`` with the host's steal between two :func:`host_cpu_ticks`
    samples removed: ``wall * busy / (busy + steal)``. A tick is stolen
    when a vCPU had work but the hypervisor ran another guest; idle
    vCPUs are never stolen from, so steal is set against the ticks the
    guest wanted to run, not against all ticks."""
    busy, steal = b[0] - a[0], b[1] - a[1]
    return wall * busy / (busy + steal) if busy + steal > 0 else wall


def steal_fraction(a: tuple[int, int, int], b: tuple[int, int, int]) -> float:
    """Share of all the host's CPU ticks stolen between two samples."""
    steal, total = b[1] - a[1], b[2] - a[2]
    return steal / total if total > 0 else 0.0


def dir_bytes(path: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        for name in files:
            try:
                total += os.lstat(os.path.join(root, name)).st_size
            except OSError:
                continue
    return total
