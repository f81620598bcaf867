"""Self-tests of the benchmark's own logic (no Spark needed).

Run from the root of the repository:

    python3 -m pytest perfbench -q -p no:cacheprovider
"""

from __future__ import annotations

import itertools
import math
import os
import subprocess
import sys
import time

import measure
import tracing

HERE = os.path.dirname(os.path.abspath(__file__))


# ------------------------------------------------------------ percentiles


def test_percentile_nearest_rank():
    xs = list(range(1, 101))  # 1..100
    assert measure.percentile(xs, 50) == 50
    assert measure.percentile(xs, 90) == 90
    assert measure.percentile(xs, 100) == 100
    assert measure.percentile([7.0], 90) == 7.0
    assert measure.percentile(reversed(xs), 90) == 90


def test_tail_level_needs_ten_samples_beyond():
    # p90 of n samples leaves n - ceil(0.9 n) beyond it
    assert measure.tail_level(100) == 90.0
    assert measure.tail_level(99) == 75.0
    assert measure.tail_level(40) == 75.0
    assert measure.tail_level(39) == 50.0
    assert measure.tail_level(200) == 95.0
    assert measure.tail_level(1000) == 99.0
    assert measure.tail_level(5) == 50.0
    for n in range(1, 2000):
        p = measure.tail_level(n)

        def beyond(q):
            return n - max(1, math.ceil(q * n / 100))

        assert beyond(p) >= 10 or p == 50.0
        assert all(beyond(q) < 10 for q in measure.TAIL_LEVELS if q > p)


# -------------------------------------------------------------- self time


def test_self_time_no_children():
    assert measure.self_time(0.0, 5.0, []) == 5.0


def test_self_time_overlapping_children_count_once():
    # children [1,3] and [2,4] overlap on [2,3]: they cover [1,4] = 3
    assert measure.self_time(0.0, 10.0, [(1.0, 3.0), (2.0, 4.0)]) == 7.0
    # a child nested inside another adds nothing
    assert measure.self_time(0.0, 10.0, [(1.0, 5.0), (2.0, 3.0), (6.0, 7.0)]) == 5.0


def test_self_time_clips_children_to_span():
    # a child from another thread may outlive its parent
    assert measure.self_time(2.0, 6.0, [(1.0, 3.0), (5.0, 9.0)]) == 2.0
    assert measure.self_time(2.0, 6.0, [(7.0, 9.0)]) == 4.0


def test_span_table_self_times():
    tr = tracing.Tracer()
    with tr.span("op", request=3):
        with tr.span("build"):
            time.sleep(0.02)
            with tr.span("scan"):
                time.sleep(0.02)
    table = tracing.span_table(tr.spans)
    assert {s["request"] for s in tr.spans} == {3}
    assert table["scan"]["self_s"] == table["scan"]["total_s"]
    assert abs(table["build"]["self_s"] - (table["build"]["total_s"] - table["scan"]["total_s"])) < 1e-9
    assert table["op"]["self_s"] < table["op"]["total_s"] - 0.035


def test_outermost_time_counts_nested_calls_once():
    spans = [
        {"id": 0, "parent": None, "name": "build", "start": 0.0, "end": 10.0},
        {"id": 1, "parent": 0, "name": "StoreGroup.commit", "start": 1.0, "end": 5.0},
        {"id": 2, "parent": 1, "name": "SnapshotStore.compact", "start": 2.0, "end": 4.0},
        {"id": 3, "parent": 0, "name": "SnapshotStore.gc", "start": 6.0, "end": 7.0},
    ]
    assert tracing.outermost_time(spans, tracing.COMMIT_SPANS) == 5.0


def test_wrapper_is_transparent_when_disabled():
    tr = tracing.Tracer()
    f = tr.wrap(lambda x: x + 1, "f")
    assert f(1) == 2 and tr.spans == []
    tr.enabled = True
    assert f(1) == 2 and [s["name"] for s in tr.spans] == ["f"]


def test_spark_counters_attribution():
    jobs = [
        {"jobId": 1, "jobGroup": "5:build", "stageIds": [1]},
        {"jobId": 2, "jobGroup": "5:sink", "stageIds": [2, 3]},
        {"jobId": 3, "jobGroup": None, "stageIds": [4]},  # pool thread
        {"jobId": 4, "jobGroup": "99:sink", "stageIds": []},  # another pass
    ]
    stage = dict.fromkeys(
        ("numCompleteTasks", "numFailedTasks", "executorRunTime", "executorCpuTime",
         "shuffleReadBytes", "shuffleWriteBytes", "memoryBytesSpilled",
         "diskBytesSpilled", "inputBytes", "jvmGcTime"),
        0,
    )
    stages = [
        dict(stage, stageId=2, status="COMPLETE", numCompleteTasks=4,
             executorRunTime=3000, executorCpuTime=10**9),
        dict(stage, stageId=3, status="SKIPPED", numCompleteTasks=9),
    ]
    c = tracing.spark_counters(jobs, stages, {5})
    assert (c["jobs"], c["build_jobs"], c["unattributed_jobs"]) == (2, 1, 2)
    assert (c["stages"], c["tasks"]) == (1, 4)
    assert c["exec_noncpu_s"] == 2.0


# ------------------------------------------------------------------ /proc


def _stat_line(pid, comm, ppid, utime, stime, cutime, cstime):
    rest = ["S", str(ppid)] + ["0"] * 9 + [str(utime), str(stime), str(cutime), str(cstime)] + ["0"] * 20
    return f"{pid} ({comm}) " + " ".join(rest)


def test_parse_stat_comm_with_spaces_and_parens():
    st = measure.parse_stat(_stat_line(7, "a) (b", 3, 10, 5, 2, 1))
    assert st == (3, "a) (b", 15, 3)


def test_cpu_split_sums_process_tree():
    tck = measure.CLK_TCK
    lines = {
        100: _stat_line(100, "python3", 1, 2 * tck, 1 * tck, 0, 0),  # Spark driver
        101: _stat_line(101, "java", 100, 10 * tck, 2 * tck, tck, 0),  # JVM, reaped 1 s
        102: _stat_line(102, "python3", 101, 1 * tck, 0, 3 * tck, 0),  # worker daemon
        103: _stat_line(103, "python3", 102, 2 * tck, 0, 0, 0),  # worker
        200: _stat_line(200, "other", 1, 50 * tck, 0, 0, 0),  # not in the tree
    }
    stats = {pid: measure.parse_stat(t) for pid, t in lines.items()}
    assert sorted(measure.tree_pids(100, stats)) == [100, 101, 102, 103]
    assert measure.jvm_pid(100, stats) == 101
    c = measure.cpu_split(100, stats)
    assert c["driver"] == 3.0
    assert c["jvm"] == 12.0
    assert c["workers"] == 1.0 + 4.0 + 2.0
    assert c["total"] == 3.0 + 13.0 + 4.0 + 2.0


def test_cpu_split_live_process_tree():
    spin = "import time\nt = time.time()\nwhile time.time() - t < 0.3: pass"
    child = subprocess.Popen([sys.executable, "-c", spin])
    try:
        time.sleep(0.15)
        live = measure.cpu_split(os.getpid(), measure.read_stats())
        assert child.pid in measure.tree_pids(os.getpid(), measure.read_stats())
    finally:
        child.wait(timeout=10)
    after = measure.cpu_split(os.getpid(), measure.read_stats())
    # the reaped child's time moved into our reaped count, not lost
    assert after["total"] >= live["total"]


def test_host_ticks_shape():
    busy, steal, total = measure.host_cpu_ticks()
    assert 0 <= busy <= total and 0 <= steal <= total


# ------------------------------------------------------------ seed order


def test_seed_determinism_and_permutation():
    ids = [f"q{i}" for i in range(40)]
    a = list(itertools.islice(measure.op_sequence(ids, 7, "w"), 3))
    b = list(itertools.islice(measure.op_sequence(ids, 7, "w"), 3))
    c = list(itertools.islice(measure.op_sequence(ids, 8, "w"), 3))
    assert a == b
    assert a != c
    for order in a + c:
        assert sorted(order) == sorted(ids)
    assert a[0] != a[1]  # each pass is its own permutation


def test_workload_file_is_consistent():
    import json

    with open(os.path.join(HERE, "workloads.json")) as fh:
        spec = json.load(fh)
    seen = set()
    for name, wl in spec["workloads"].items():
        ids = [q for v in wl["ids"].values() for q in v]
        assert len(ids) == len(set(ids)), name
        assert not seen & set(ids), name
        seen |= set(ids)
        assert wl["clients"] >= 1


def test_unstolen_sets_steal_against_busy_ticks():
    # (busy, steal, total) jiffies: 300 busy + 100 stolen of 1000
    a, b = (0, 0, 0), (300, 100, 1000)
    assert measure.unstolen(8.0, a, b) == 6.0
    assert measure.steal_fraction(a, b) == 0.1
    assert measure.unstolen(8.0, a, (300, 0, 1000)) == 8.0
    assert measure.unstolen(8.0, a, a) == 8.0
