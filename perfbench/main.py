"""One benchmark run in this process: build the session, set the
workload up into a fresh directory, run it for the window, check its
outputs, print the report and the result line.

Started by ``perfbench/run.py``, which prepares the environment
(PYTHONPATH for Python workers, scratch directories inside the
checkout, JVM heap size) and stops every process afterwards.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import time

import numpy as np
from oracle_duckdb_sync_spark import session

from . import selftest
from .trace import SparkCounters, Tracer, median_or_zero
from .workloads import MIX, WORKLOADS, engine_config

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ACTIONS = ("meta", "row_count", "limit", "agg", "viz", "cached", "agent")
SELF_S = {  # spans reported in seconds; every other span in ms
    "operators.pipeline.ingest_batch",
    "operators.dedup.minhash_dedup_incremental",
    "operators.similarity.semantic_dedup_incremental",
    "operators.similarity.save_ivf_index",
}


def pct(xs: list[float], q: int) -> float:
    """q-th percentile (q in 1..99), interpolated between samples and
    never beyond the largest (the inclusive method; the default one
    extrapolates past the maximum when there are few samples)."""
    if not xs:
        return 0.0
    if len(xs) == 1:
        return xs[0]
    return statistics.quantiles(xs, n=100, method="inclusive")[q - 1]


def mix_quantile(ops, q: float) -> float:
    """q-quantile (0 < q < 1) of request latency in seconds under the
    designed mix: each request type weighs exactly its share of ``MIX``
    (renormalised over the types that ran), split evenly among its
    samples. A closed-loop window holds a slightly different share of
    each type in every run; unweighted, the 90th percentile sits on the
    gap between the slowest aggregate and the fastest viz request
    (exactly 10 % of the mix) and jumps across it with one viz request
    more or fewer. Operations outside the mix (an ingest batch) weigh
    equally.

    The estimate is the weighted Harrell-Davis quantile: a mean of all
    samples under a Beta(q(n+1), (1-q)(n+1)) kernel over their cumulative
    weights, n being Kish's effective sample size. A single order
    statistic (or two interpolated) rests on one or two requests; at a
    gap between request types it read 0.69 s and 0.91 s on two seeds."""
    share = {a: n for a, n in MIX}
    by_type: dict[str, list[float]] = {}
    for op in ops:
        by_type.setdefault(op.action, []).append(op.seconds)
    if not by_type:
        return 0.0
    total = sum(share.get(a, 1) for a in by_type)
    pts = sorted((x, share.get(a, 1) / total / len(xs)) for a, xs in by_type.items() for x in xs)
    xs = np.array([x for x, _w in pts])
    ws = np.array([w for _x, w in pts])
    if len(xs) == 1:
        return float(xs[0])
    n = 1.0 / float(np.sum(ws**2))
    edges = np.concatenate([[0.0], np.cumsum(ws)])
    edges /= edges[-1]
    return float(np.dot(np.diff(beta_cdf(edges, q * (n + 1), (1 - q) * (n + 1))), xs))


def beta_cdf(x: np.ndarray, a: float, b: float, cells: int = 200_000) -> np.ndarray:
    """Regularised incomplete beta I_x(a, b), by the midpoint rule on a
    fine grid (normalised, so the Beta function is not needed)."""
    t = (np.arange(cells) + 0.5) / cells
    logpdf = (a - 1) * np.log(t) + (b - 1) * np.log1p(-t)
    pdf = np.exp(logpdf - logpdf.max())
    cdf = np.concatenate([[0.0], np.cumsum(pdf)])
    return np.interp(x, np.linspace(0.0, 1.0, cells + 1), cdf / cdf[-1])


def vm_kb(pid: int | str, field: str) -> int:
    with open(f"/proc/{pid}/status", encoding="ascii") as f:
        for line in f:
            if line.startswith(field + ":"):
                return int(line.split()[1])
    return 0


def vm_hwm_kb(pid: int | str) -> int:
    return vm_kb(pid, "VmHWM")


def jvm_live_mb(spark) -> float:
    """JVM heap plus non-heap in use right after a full collection: the
    memory the engine still holds (cached tables, leaked frames), free
    of the garbage that makes peak RSS vary."""
    lang = spark.sparkContext._jvm.java.lang
    lang.System.gc()
    mx = lang.management.ManagementFactory.getMemoryMXBean()
    return (mx.getHeapMemoryUsage().getUsed() + mx.getNonHeapMemoryUsage().getUsed()) / 2**20


def cpu_ticks() -> list[int]:
    """Aggregate CPU tick counters from /proc/stat (user ... steal)."""
    with open("/proc/stat", encoding="ascii") as f:
        return [int(x) for x in f.readline().split()[1:9]]


def parquet_files(path: str) -> int:
    return sum(
        1 for _r, _d, files in os.walk(path) for f in files if f.endswith(".parquet")
    )


def main(argv: list[str]) -> int:
    p = argparse.ArgumentParser()
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--work", required=True)
    p.add_argument("--results", required=True)
    p.add_argument("--t0", type=float, required=True, help="launcher start, epoch seconds")
    args = p.parse_args(argv)

    os.environ["TZ"] = "UTC"
    time.tzset()
    load_start = os.getloadavg()[0]

    if args.workload not in WORKLOADS:
        print(f"unknown workload {args.workload!r}; choose from {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    nproc = len(os.sched_getaffinity(0))
    master = f"local[{nproc}]"
    spark = session.build_session(engine_config(master, os.path.join(args.work, "data")))
    session_s = time.time() - args.t0
    try:
        return _run(args, spark, master, WORKLOADS[args.workload], session_s, load_start)
    finally:
        spark.stop()


def _run(args, spark, master, workload_cls, session_s, load_start) -> int:
    wl = workload_cls(spark, master, args.seed)
    start = time.perf_counter()
    wl.setup(os.path.join(args.work, "data"))
    prep_s = time.perf_counter() - start
    start = time.perf_counter()
    wl.warm_up()
    warm_s = time.perf_counter() - start

    tracer = counters = None
    if args.trace:
        tracer = Tracer()
        tracer.install()
        counters = SparkCounters(spark)
        counters.start()
    stored_before = wl.stored_bytes()
    input_before = wl.generated_bytes()
    cpu0 = cpu_ticks()
    setup_s = time.time() - args.t0  # process start to the first timed op
    t_run = time.perf_counter()
    try:
        ops = wl.run(args.seconds, tracer)
    finally:
        if tracer is not None:
            tracer.uninstall()
            spark_delta = counters.stop()
    t_end = max([op.end for op in ops] + [t_run])
    cpu = [b - a for a, b in zip(cpu0, cpu_ticks())]
    jvm_pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    py_rss_mb, jvm_rss_mb = vm_hwm_kb("self") / 1024, vm_hwm_kb(jvm_pid) / 1024
    live_mb = jvm_live_mb(spark) + vm_kb("self", "VmRSS") / 1024

    start = time.perf_counter()
    errors = wl.check(ops)
    errors += [f"selftest: {e}" for e in selftest.run(args.work)]
    check_s = time.perf_counter() - start
    cycles = [op for op in ops if op.action == "cycle"]
    requests = [op for op in ops if op.action in ACTIONS]
    failed = sum(1 for op in ops if not op.ok)
    wrong = sum(1 for op in ops if op.ok and op.wrong)
    timed = wl.timed(ops)
    lat_ms = [op.seconds * 1000 for op in timed]
    window = max(t_end - t_run, 1e-9)
    stored = wl.stored_bytes()
    generated = wl.generated_bytes()

    # one request of the UI mix on dashboard and sync_ingest, one ingest
    # batch on corpus_ingest
    e2e = {
        "setup_s": setup_s,
        "req_p50_ms": mix_quantile(timed, 0.5) * 1000,
        "req_p90_ms": mix_quantile(timed, 0.9) * 1000,
        # requests in flight at the deadline count in the percentiles,
        # not here: one cached read of seconds would stretch the window
        "req_per_s": sum(1 for op in timed if op.end <= t_run + args.seconds) / args.seconds,
        "live_memory_mb": live_mb,
        "stored_bytes_per_input_byte": stored / generated,
        "ok_ratio": 1 - (failed + wrong) / max(len(ops), 1),
    }

    # the workload's own figures, under the names users know them by
    detail: dict[str, tuple[float, str]] = {
        "fail_ratio": ((failed + wrong) / max(len(ops), 1), "ratio"),
        "peak_rss_mb": (py_rss_mb + jvm_rss_mb, "MB"),
        "setup.session_s": (session_s, "s"),
        "setup.prepare_s": (prep_s, "s"),
        "setup.warm_up_s": (warm_s, "s"),
        "check_s": (check_s, "s"),
        "requests": (len(lat_ms), "count"),
        "loadavg.start": (load_start, "load"),
        "loadavg.end": (os.getloadavg()[0], "load"),
        # CPU time the hypervisor gave to other guests during the window
        "host.steal_pct": (100 * cpu[7] / max(sum(cpu), 1), "%"),
    }
    if requests:
        for a in ACTIONS:
            xs = [op.seconds * 1000 for op in timed if op.action == a]
            detail[f"op.{a}.p50_ms"] = (median_or_zero(xs), "ms")
        cached = [op.info for op in timed if op.action == "cached" and op.info["frame_rows"] is not None]
        detail["plans.cache.hit_rate"] = (wl.eqs.cache.stats()["hit_rate"], "ratio")
        detail["plans.cache.frame_row_error"] = (
            max((abs(c["frame_rows"] - c["rows"]) for c in cached), default=0), "rows")
        detail["plans.cache.skipped_rows"] = (
            max((c.get("skipped_rows", 0) for c in cached), default=0), "rows")
    if wl.name == "sync_ingest":
        ok_cycles = [c for c in cycles if c.ok]
        fresh = [f for c in ok_cycles for f in c.info["freshness_s"]]
        rows = sum(c.info["rows"] for c in ok_cycles)
        detail["sync_rows_per_s"] = (rows / window, "rows/s")
        detail["sync_cycle_p50_s"] = (median_or_zero(c.info["sync_s"] for c in ok_cycles), "s")
        detail["freshness_p50_s"] = (median_or_zero(fresh), "s")
        detail["op.cached.ms_per_sync"] = (cached_growth(timed, ok_cycles), "ms")
        detail["plans.cache.wrong_reads"] = (wrong, "count")
        detail["sync.cycles"] = (len(cycles), "count")
        detail["sync.rollup.groups_per_cycle"] = (
            median_or_zero(c.info["groups"] for c in ok_cycles), "count")
        detail["sync.backlog_batches_max"] = (wl.backlog_max, "count")
        detail["sync.lander_late_ms"] = (max(wl.late_ms, default=0.0), "ms")
        detail["sources.files_per_table"] = (
            parquet_files(wl.catalog.table_path(wl.table)), "count")
    if wl.name == "corpus_ingest":
        docs = sum(op.info["report"]["batch"] for op in ops if op.ok)
        detail["ingest_docs_per_s"] = (docs / window, "docs/s")
        detail["ingest_batch_p50_s"] = (e2e["req_p50_ms"] / 1000, "s")
        detail["ingest.batches"] = (len(ops), "count")
        for k, v in wl.quality.items():
            detail[f"operators.dedup.{k}"] = (v, "ratio")
        detail["sources.files_per_table"] = (parquet_files(wl.corpus_path), "count")
    if wl.name == "dashboard":
        detail["sources.files_per_table"] = (
            sum(parquet_files(wl.catalog.table_path(t)) for t in wl.tables) / len(wl.tables),
            "count")
    written_in = wl.generated_bytes() - input_before
    detail["sources.bytes_written_per_input_byte"] = (
        (stored - stored_before) / written_in if written_in else 0.0, "ratio")

    os.makedirs(args.results, exist_ok=True)
    stem = os.path.join(args.results, f"{wl.name}-seed{args.seed}-trace{args.trace}")
    with open(f"{stem}-ops.jsonl", "w", encoding="utf-8") as f:
        for op in sorted(ops, key=lambda o: o.start):
            f.write(json.dumps({"role": op.role, "action": op.action, "start": op.start - t_run,
                                "seconds": op.seconds, "ok": op.ok, "wrong": op.wrong, "error": op.error,
                                "traced": op.info.get("traced")}) + "\n")
    if tracer is not None:
        detail.update(_layer_metrics(tracer, spark_delta, len(ops), cycles))
        detail.update(_overhead(timed))
        tracer.write(f"{stem}-spans.jsonl")

    with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as f:
        spec = json.load(f)
    e2e_units = {m["name"]: m["unit"] for m in spec["end_to_end"]}
    if set(e2e_units) != set(e2e):
        raise RuntimeError(f"BENCHMARK.json end_to_end {sorted(e2e_units)} != {sorted(e2e)}")
    for name, value in e2e.items():
        print(f"# {name} = {value:.6g} {e2e_units[name]}")
    for name, (value, unit) in sorted(detail.items()):
        print(f"# {name} = {value:.6g} {unit}")
    for e in errors[:20]:
        print(f"# CHECK FAILED: {e}")
    for e in getattr(wl, "wrong_reads", [])[:5]:
        print(f"# WRONG READ (counted in ok_ratio and fail_ratio, not in failed): {e}")
    correct = not errors

    if args.trace:
        metrics = {
            m["name"]: {"value": float(detail.get(m["name"], (0.0,))[0]), "unit": m["unit"]}
            for m in spec["per_layer"]
        }
    else:
        metrics = {n: {"value": float(v), "unit": e2e_units[n]} for n, v in e2e.items()}
    print(json.dumps({"correct": correct, "attempted": len(ops), "failed": failed,
                      "metrics": metrics}))
    return 0 if correct else 1


def cached_growth(requests, cycles) -> float:
    """Least-squares slope of cached-read latency against the number of
    syncs committed before the read started: how much each sync adds to
    the next cached read."""
    ends = sorted(c.end for c in cycles)
    pts = [(sum(1 for e in ends if e <= op.start), op.seconds * 1000)
           for op in requests if op.action == "cached"]
    if len({x for x, _ in pts}) < 2:
        return 0.0
    return float(np.polyfit([x for x, _ in pts], [y for _, y in pts], 1)[0])


def _layer_metrics(tracer: Tracer, spark_delta: dict, n_ops: int, cycles) -> dict:
    out = {}
    n = max(n_ops, 1)
    out["spark.jobs_per_op"] = (spark_delta["jobs"] / n, "count")
    out["spark.tasks_per_op"] = (spark_delta["tasks"] / n, "count")
    out["spark.shuffle_bytes_per_op"] = (spark_delta["shuffle_bytes"] / n, "bytes")
    out["spark.spill_bytes"] = (spark_delta["spill_bytes"], "bytes")
    out["spark.storage_used_mb"] = (spark_delta["storage_peak_bytes"] / 2**20, "MB")
    out["spark.persisted_rdds"] = (spark_delta["persisted_rdds"], "count")
    for name, selfs in tracer.self_times().items():
        if name in SELF_S:
            out[f"{name}.self_s"] = (statistics.median(selfs), "s")
        else:
            out[f"{name}.self_ms"] = (statistics.median(selfs) * 1000, "ms")
    engine = sorted(tracer.durations("sync.SyncEngine.incremental_sync").items())
    overhead = [c.info["sync_s"] - d for c, (_t, d) in zip([c for c in cycles if c.ok], engine)]
    if overhead:
        out["sync.SyncService.overhead_ms"] = (statistics.median(overhead) * 1000, "ms")
    return out


def _overhead(timed) -> dict:
    """Tracing overhead within this run: the traced requests (every other
    one per client) against the untraced ones, which ran the same mix on
    the same state, seed, code and host. In percent of the untraced
    value; per action type, weighted by how often each ran, so the draw
    of actions into either half does not count as overhead. The
    status-store poller runs during both halves and is not in it."""
    out = {}
    for q, name in ((50, "req_p50_ms"), (90, "req_p90_ms")):
        num = den = 0.0
        for a in {op.action for op in timed}:
            on = [op.seconds for op in timed if op.action == a and op.info.get("traced")]
            off = [op.seconds for op in timed if op.action == a and not op.info.get("traced")]
            if on and off:
                w = len(on) + len(off)
                num += w * pct(on, q)
                den += w * pct(off, q)
        if den:
            out[f"trace.overhead.{name}_pct"] = ((num - den) / den * 100, "%")
    return out


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
