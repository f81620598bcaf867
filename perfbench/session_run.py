"""One benchmark run: one workload, one process, one warm shared session.

Started by ``run.py`` (which owns the per-run temp directory and the
final stdout line); run from the root of a checkout of the repository.

Phases:

1. set-up, ``SETUP_REPS`` times: (re)build the session with the
   engine's ``build_session`` and make one warm pass over the
   workload's ids with one client per core; ``setup_s`` is the median.
   The first set-up launches the JVM and collects every result;
2. the timed window: passes over seeded permutations of the ids by
   ``clients`` closed-loop client threads (each op is
   ``queries()[id](spark, sf)`` then the ``noop`` sink, as in
   ``bench.py``), until ``--seconds`` have passed and at least
   ``MIN_PASSES`` passes ran. With ``--trace 1`` odd passes are traced
   and even passes are not, so their wall difference is the tracing
   overhead, and twice as many passes run;
3. the check, outside the window: the results the first set-up
   collected are compared with their DuckDB oracles.
"""

from __future__ import annotations

import argparse
import contextlib
import importlib.util
import json
import os
import statistics
import sys
import threading
import time
import traceback
from concurrent.futures import ThreadPoolExecutor

import measure
import tracing

HERE = os.path.dirname(os.path.abspath(__file__))
#: set-ups per run; the first launches the JVM and is never the median
SETUP_REPS = 3
#: passes per run at least (twice as many when traced)
MIN_PASSES = 3


def load_workload(name: str) -> dict:
    with open(os.path.join(HERE, "workloads.json")) as fh:
        spec_all = json.load(fh)["workloads"]
    spec = spec_all[name]
    spec["module_of"] = {q: m for m, ids in spec["ids"].items() for q in ids}
    spec["all_modules"] = sorted({m for w in spec_all.values() for m in w["ids"]})
    spec["id_list"] = sorted(spec["module_of"])
    return spec


class Runner:
    """Runs passes of ops against one session with a fixed client pool."""

    def __init__(self, queries, sf_dir: str, clients: int, tracer: tracing.Tracer):
        self.queries = queries
        self.sf_dir = sf_dir
        self.clients = clients
        self.tracer = tracer
        self.pool = ThreadPoolExecutor(clients, thread_name_prefix="client")
        self.seq = 0  # sequence number of the next op: the request id

    def close(self) -> None:
        self.pool.shutdown(wait=True)

    def run_pass(
        self, spark, order: list[str], traced: bool = False, collect: bool = False
    ) -> tuple[float, list[dict]]:
        """Drain ``order`` with the client pool; returns the pass wall and
        one record per op. With ``collect`` each result is collected
        into its record instead of going to the ``noop`` sink."""
        base = self.seq
        self.seq += len(order)
        todo = iter(enumerate(order))
        take = threading.Lock()
        records: list[dict] = []

        def client(k: int) -> None:
            sc = spark.sparkContext
            # per-client FAIR pool, as bench.py's drain clients do
            sc.setLocalProperty("spark.scheduler.pool", f"client-{k}")
            while True:
                with take:
                    nxt = next(todo, None)
                if nxt is None:
                    break
                i, qid = nxt
                rec = self._op(spark, base + i, qid, traced, collect)
                with take:
                    records.append(rec)
            if traced:
                sc.setLocalProperty("spark.jobGroup.id", None)
                sc.setLocalProperty("spark.job.description", None)

        t0 = time.perf_counter()
        futures = [self.pool.submit(client, k) for k in range(self.clients)]
        for f in futures:
            f.result()
        return time.perf_counter() - t0, records

    def _op(self, spark, seq: int, qid: str, traced: bool, collect: bool) -> dict:
        rec = {"seq": seq, "id": qid, "ok": True}
        sc = spark.sparkContext
        span = self.tracer.span if traced else _no_span
        try:
            with span("op", request=seq, qid=qid):
                if traced:
                    sc.setJobGroup(tracing.group_of(seq, "build"), tracing.group_of(seq, "build"))
                t0 = time.perf_counter()
                with span("build"):
                    df = self.queries[qid](spark, self.sf_dir)
                t1 = time.perf_counter()
                if traced:
                    sc.setJobGroup(tracing.group_of(seq, "sink"), tracing.group_of(seq, "sink"))
                with span("sink"):
                    if collect:
                        rec["result"] = (list(df.columns), [tuple(r) for r in df.collect()])
                    else:
                        df.write.mode("overwrite").format("noop").save()
                t2 = time.perf_counter()
            rec.update(build_s=t1 - t0, sink_s=t2 - t1, op_s=t2 - t0)
        except Exception as ex:  # noqa: BLE001 - a failed op is counted, not fatal
            rec.update(ok=False, error=f"{type(ex).__name__}: {str(ex)[:300]}")
            traceback.print_exc(file=sys.stderr)
        return rec


def _no_span(*_args, **_kwargs):
    return contextlib.nullcontext()


class Oracle:
    """DuckDB oracles over the same parquet tables, compared with the
    canonical form of ``tools/check_parity.py``."""

    def __init__(self, root: str, sf_dir: str, oracles: dict[str, str]):
        import duckdb

        spec = importlib.util.spec_from_file_location(
            "check_parity", os.path.join(root, "tools", "check_parity.py")
        )
        self.parity = importlib.util.module_from_spec(spec)
        spec.loader.exec_module(self.parity)
        self.sql = oracles
        self.con = duckdb.connect()
        self.con.execute("SET TimeZone='UTC'")
        self.con.execute("SET threads=2")
        for t in self.parity.TABLE_NAMES:
            self.con.execute(
                f"CREATE OR REPLACE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
            )
        self._expected: dict[str, object] = {}

    def close(self) -> None:
        self.con.close()

    def mismatch(self, qid: str, cols: list[str], rows: list[tuple]) -> str | None:
        """Why a collected result is wrong, or None when it matches."""
        if qid not in self.sql:
            return "no oracle"
        if qid not in self._expected:
            try:
                cur = self.con.execute(self.sql[qid])
                d_cols = [d[0] for d in cur.description]
                self._expected[qid] = self.parity.rows_canon(d_cols, cur.fetchall())
            except Exception as ex:  # noqa: BLE001 - reported per id
                self._expected[qid] = f"duckdb: {type(ex).__name__}: {ex}"
        want = self._expected[qid]
        if isinstance(want, str):
            return want
        got = self.parity.rows_canon(cols, rows)
        if got != want:
            return f"result differs from oracle ({len(got[1])} vs {len(want[1])} rows)"
        return None


class ProcSampler:
    """CPU, disk writes and host ticks of this process tree."""

    def __init__(self) -> None:
        self.me = os.getpid()

    def sample(self) -> dict:
        stats = measure.read_stats()
        cpu = measure.cpu_split(self.me, stats)
        cpu["disk_write_bytes"] = measure.read_io_write_bytes(measure.tree_pids(self.me, stats))
        cpu["host"] = measure.host_cpu_ticks()
        return cpu

    @staticmethod
    def delta(a: dict, b: dict) -> dict:
        d = {k: b[k] - a[k] for k in ("total", "driver", "jvm", "workers", "disk_write_bytes")}
        busy, _, total = (y - x for x, y in zip(a["host"], b["host"]))
        d["steal_frac"] = measure.steal_fraction(a["host"], b["host"])
        d["unstolen"] = measure.unstolen(1.0, a["host"], b["host"])
        d["cores_busy"] = busy / total * (os.cpu_count() or 1) if total else 0.0
        return d

    def peak_rss_mb(self) -> tuple[float, float]:
        """Peak resident MB of this Spark driver process and of its JVM."""
        jvm = measure.jvm_pid(self.me, measure.read_stats())
        return measure.vm_hwm_kb(self.me) / 1024.0, measure.vm_hwm_kb(jvm) / 1024.0 if jvm else 0.0


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--sf-dir", required=True)
    ap.add_argument("--out", required=True)
    ap.add_argument("--trace-out", required=True)
    args = ap.parse_args()

    root = os.getcwd()
    sys.path.insert(0, root)
    wl = load_workload(args.workload)
    ids = wl["id_list"]
    trace = bool(args.trace)
    tracer = tracing.Tracer()
    sampler = ProcSampler()

    t_start = time.perf_counter()
    if trace:
        tracing.install(tracer)
    import __spark_entry__ as entry
    from servicenow_cmdb_integration_to_aws_spark.session import build_session

    queries = entry.queries()
    oracles = entry.oracle_sql()
    if trace:
        tracing.install_late(tracer)
    missing = [q for q in ids if q not in queries]
    if missing:
        print(f"ids not registered: {missing}", file=sys.stderr)
        return 3

    seqs = measure.op_sequence(ids, args.seed, f"{args.workload}:window")
    warm = measure.op_sequence(ids, args.seed, f"{args.workload}:setup")

    # -- 1. set-up
    setup = []  # (wall, host ticks before, host ticks after) per set-up
    spark = None
    runner = None
    for rep in range(SETUP_REPS):
        h0, t0 = measure.host_cpu_ticks(), time.perf_counter()
        if spark is not None:
            runner.close()
            spark.stop()
        spark = build_session("perfbench")
        # Set-up warms the session as fast as the host allows, with one
        # client per core. The first set-up also launches the JVM and
        # runs every plan for the first time, so it is by far the
        # slowest and never the median; it collects the results that are
        # checked.
        runner = Runner(queries, args.sf_dir, os.cpu_count() or 1, tracer)
        _, recs = runner.run_pass(spark, next(warm), collect=rep == 0)
        setup.append((time.perf_counter() - t0, h0, measure.host_cpu_ticks()))
        if rep == 0:
            checked = recs
    runner.close()
    runner = Runner(queries, args.sf_dir, wl["clients"], tracer)
    status = tracing.StatusStore(spark) if trace else None

    # -- 2. timed window
    passes = []
    w0 = time.perf_counter()
    while True:
        traced = trace and len(passes) % 2 == 1
        order = next(seqs)
        seen_jobs = {j["jobId"] for j in status.jobs()} if traced else None
        tracer.enabled = traced
        n_spans = len(tracer.spans)
        a = sampler.sample()
        wall, recs = runner.run_pass(spark, order, traced=traced)
        b = sampler.sample()
        tracer.enabled = False
        jobs = stages = None
        if traced:
            jobs = [j for j in status.jobs() if j["jobId"] not in seen_jobs]
            stage_ids = {s for j in jobs for s in j["stageIds"]}
            stages = [s for s in status.stages() if s["stageId"] in stage_ids]
        passes.append(
            {
                "traced": traced,
                "wall": wall,
                "records": recs,
                "proc": ProcSampler.delta(a, b),
                "jobs": jobs,
                "stages": stages,
                "spans": tracer.spans[n_spans:],
            }
        )
        enough = len(passes) >= MIN_PASSES * (2 if trace else 1)
        if enough and time.perf_counter() - w0 >= args.seconds:
            break
    window_s = time.perf_counter() - w0

    leaks = {}
    if trace:
        leaks["tmp_bytes_left"] = measure.dir_bytes(os.environ["TMPDIR"])
        leaks["cached_rdds_left"] = status.persistent_rdds()
    peak_rss = sampler.peak_rss_mb()

    runner.close()
    spark.stop()

    # -- 3. output check of the first set-up pass, outside the window
    oracle = Oracle(root, args.sf_dir, oracles)
    bad: dict[str, str] = {}
    for r in checked:
        why = r.get("error") or oracle.mismatch(r["id"], *r["result"])
        if why:
            bad[r["id"]] = why
    oracle.close()

    result = summarize(args, wl, setup, passes, window_s, peak_rss, bad, leaks)
    result["detail"]["run_s"] = time.perf_counter() - t_start
    if trace:
        spans = [s for p in passes for s in p["spans"]]
        with open(args.trace_out, "w") as fh:
            json.dump({"span_table": tracing.span_table(spans), "spans": spans}, fh)
    with open(args.out, "w") as fh:
        json.dump(result, fh)
    return 0


def summarize(args, wl, setup, passes, window_s, peak_rss, bad, leaks) -> dict:
    """End-to-end metrics (or, traced, per-layer ones) of one run.

    Times have the host's steal removed (:func:`measure.unstolen`) over
    each set-up and each pass: on a shared host steal swings between
    minutes (observed 0-40 % of all ticks) and stretches every wall
    with it. The raw walls and steal shares are kept in the run's
    detail file."""
    plain = [p for p in passes if not p["traced"]]
    ops = [r for p in plain for r in p["records"]]
    failed = [r for r in ops if not r["ok"] or r["id"] in bad]
    per_id: dict[str, list[float]] = {}
    for p in plain:
        for r in p["records"]:
            if r["ok"]:
                per_id.setdefault(r["id"], []).append(r["op_s"] * p["proc"]["unstolen"])
    lat = [x for v in per_id.values() for x in v]
    level = measure.tail_level(len(lat))
    detail = {
        "workload": args.workload,
        "seed": args.seed,
        "ids": len(wl["id_list"]),
        "clients": wl["clients"],
        "passes": len(passes),
        "ops": len(ops),
        "window_s": window_s,
        "setup_walls_s": [w for w, _, _ in setup],
        "setup_steal": [measure.steal_fraction(a, b) for _, a, b in setup],
        "pass_walls_s": [p["wall"] for p in passes],
        "pass_steal": [p["proc"]["steal_frac"] for p in passes],
        "pass_busy": [p["proc"]["cores_busy"] for p in passes],
        "pass_cpu_s": [p["proc"]["total"] for p in passes],
        "peak_rss_mb": peak_rss,
        "cores_busy": statistics.median(p["proc"]["cores_busy"] for p in plain),
        "steal_frac": statistics.median(p["proc"]["steal_frac"] for p in plain),
        # the median op and the highest percentile with ten ops beyond it
        "op_latency": {
            "n": len(lat),
            "p50_s": measure.percentile(lat, 50.0) if lat else None,
            "tail_percentile": level,
            "tail_s": measure.percentile(lat, level) if lat else None,
        },
        "op_median_s": {q: statistics.median(v) for q, v in sorted(per_id.items())},
        "wrong_ids": bad,
        "op_errors": sorted({(r["id"], r.get("error", "")) for r in ops if not r["ok"]}),
    }
    metrics = {
        "setup_s": (statistics.median(measure.unstolen(w, a, b) for w, a, b in setup), "s"),
        "wall_s": (statistics.median(p["wall"] * p["proc"]["unstolen"] for p in plain), "s"),
        "op_geomean_s": (statistics.geometric_mean(detail["op_median_s"].values()) if per_id else 0.0, "s"),
        "cpu_s": (statistics.median(p["proc"]["total"] for p in plain), "s"),
        "peak_rss_mb": (sum(peak_rss), "MB"),
        "success_rate": (1.0 - len(failed) / max(1, len(ops)), "ratio"),
    }
    if args.trace:
        metrics = layer_metrics(wl, passes, leaks)
    return {
        "correct": not failed and not bad,
        "attempted": max(1, len(ops)),
        "failed": len(failed),
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
        "detail": detail,
    }


def layer_metrics(wl, passes, leaks) -> dict:
    """Per-layer metrics from the traced passes, as means per pass."""
    traced = [p for p in passes if p["traced"]]
    plain = [p for p in passes if not p["traced"]]
    n = len(traced)
    out: dict[str, tuple[float, str]] = {}

    for mod in wl["all_modules"]:
        out[f"{mod}.build_s"] = (0.0, "s")
        out[f"{mod}.sink_s"] = (0.0, "s")
    for r in (r for p in traced for r in p["records"]):
        if r["ok"]:
            mod = wl["module_of"][r["id"]]
            out[f"{mod}.build_s"] = (out[f"{mod}.build_s"][0] + r["build_s"] / n, "s")
            out[f"{mod}.sink_s"] = (out[f"{mod}.sink_s"][0] + r["sink_s"] / n, "s")

    spans = [s for p in traced for s in p["spans"]]
    table = tracing.span_table(spans)
    scans = [s for s in spans if s["name"] == "scan"]

    def self_s(*names):
        return sum(table.get(nm, {}).get("self_s", 0.0) for nm in names) / n

    out["session.tune_s"] = (self_s("tune"), "s")
    out["sources.tables.scan_calls"] = (len(scans) / n, "count")
    out["sources.tables.scan_s"] = (self_s("scan"), "s")
    out["sources.tables.scan_cache_hit_ratio"] = (
        sum(1 for s in scans if s.get("hit")) / len(scans) if scans else 0.0,
        "ratio",
    )
    out["plans.encoded_query.compile_s"] = (self_s(*tracing.COMPILE_SPANS), "s")
    out["operators.fixpoint.cut_lineage_calls"] = (table.get("cut_lineage", {}).get("calls", 0) / n, "count")
    out["streaming.compaction.commit_s"] = (tracing.outermost_time(spans, tracing.COMMIT_SPANS) / n, "s")
    out["streaming.compaction.read_s"] = (tracing.outermost_time(spans, tracing.READ_SPANS) / n, "s")
    out["operators.transform_map.upsert_s"] = (tracing.outermost_time(spans, {"upsert"}) / n, "s")

    counters: dict[str, float] = {}
    for p in traced:
        seqs = {r["seq"] for r in p["records"]}
        for k, v in tracing.spark_counters(p["jobs"], p["stages"], seqs).items():
            counters[k] = counters.get(k, 0.0) + v / n
    units = {"exec_noncpu_s": "s", "gc_s": "s"}
    for k, v in counters.items():
        out[f"spark.{k}"] = (v, units.get(k, "bytes" if k.endswith("_bytes") else "count"))

    def proc_mean(key):
        return sum(p["proc"][key] for p in traced) / n

    out["proc.driver_py_cpu_s"] = (proc_mean("driver"), "s")
    out["proc.jvm_cpu_s"] = (proc_mean("jvm"), "s")
    out["proc.pyworker_cpu_s"] = (proc_mean("workers"), "s")
    out["proc.disk_write_bytes"] = (proc_mean("disk_write_bytes"), "bytes")
    out["proc.tmp_bytes_left"] = (float(leaks["tmp_bytes_left"]), "bytes")
    out["spark.cached_rdds_left"] = (float(leaks["cached_rdds_left"]), "count")
    out["host.steal_frac"] = (proc_mean("steal_frac"), "ratio")
    traced_wall = statistics.median(p["wall"] for p in traced)
    # the window's first pass, untraced, still runs slower than the rest
    plain_wall = statistics.median(p["wall"] for p in plain[1:])
    out["trace.overhead_frac"] = (traced_wall / plain_wall - 1.0, "ratio")
    return out


if __name__ == "__main__":
    sys.exit(main())
