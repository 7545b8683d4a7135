"""Traced mode: spans around the package's public functions, installed
from outside the package, plus Spark counters read from the status
store.

Each wrapper records (name, start, end, span id, parent span id, op id)
into an in-memory list; nothing is written until the run ends. A span's
self time is its duration minus the part of it that its child spans
cover. The wrappers replace the attribute where callers look it up:
``plans.services`` binds ``time_bucket_agg`` and ``merge_incremental``
at import, and ``plans.viz`` binds ``downsample_single_series``, so those
are patched on the importing module under the defining module's name.
"""

from __future__ import annotations

import contextvars
import functools
import importlib
import json
import statistics
import threading
import time
from dataclasses import asdict, dataclass

PKG = "oracle_duckdb_sync_spark"
# Status-store poll period. The store keeps the last 1 000 stages, ~12 s
# of the dashboard mix on 4 cores; polling every 0.5 s cost about a
# third of the dashboard's throughput.
POLL_SECONDS = 5.0

# (module, attribute path, span name). Span names follow the package
# layout: <layer>.<Class>.<method> or <layer>.<module>.<function>.
TARGETS = [
    ("plans.services", "QueryService.query_table_aggregated", "plans.QueryService.query_table_aggregated"),
    ("plans.services", "QueryService.query_table", "plans.QueryService.query_table"),
    ("plans.services", "QueryService.get_table_row_count", "plans.QueryService.get_table_row_count"),
    ("plans.services", "EnhancedQueryService.query_with_caching", "plans.EnhancedQueryService.query_with_caching"),
    ("plans.viz", "prepare_plot_dataframe", "plans.viz.prepare_plot_dataframe"),
    ("plans.viz", "downsample_single_series", "operators.lttb.downsample_single_series"),
    ("plans.services", "time_bucket_agg", "operators.aggregate.time_bucket_agg"),
    ("plans.services", "merge_incremental", "operators.merge.merge_incremental"),
    ("operators.incremental", "IncrementalLoader.fetch_incremental", "operators.IncrementalLoader.fetch_incremental"),
    ("functions.inference", "detect_convertible_columns", "functions.inference.detect_convertible_columns"),
    ("functions.inference", "detect_and_convert_types", "functions.inference.detect_and_convert_types"),
    ("operators.pipeline", "ingest_batch", "operators.pipeline.ingest_batch"),
    ("operators.dedup", "minhash_dedup_incremental", "operators.dedup.minhash_dedup_incremental"),
    ("operators.similarity", "semantic_dedup_incremental", "operators.similarity.semantic_dedup_incremental"),
    ("operators.similarity", "save_ivf_index", "operators.similarity.save_ivf_index"),
    ("sources.catalog", "Catalog.table", "sources.Catalog.table"),
    ("sources.catalog", "Catalog.row_count", "sources.Catalog.row_count"),
    ("sources.sinks", "append", "sources.sinks.append"),
    ("sources.sinks", "upsert", "sources.sinks.upsert"),
    ("sources.state", "SyncStateStore.save_state", "sources.SyncStateStore.save_state"),
    ("sources.state", "SyncLock.acquire", "sources.SyncLock.acquire"),
    ("sync.engine", "SyncEngine.incremental_sync", "sync.SyncEngine.incremental_sync"),
    ("sync.rollup", "refresh", "sync.rollup.refresh"),
    ("meta.repos", "SyncLogRepository.log_start", "meta.SyncLogRepository.log_start"),
    ("meta.repos", "SyncLogRepository.log_end", "meta.SyncLogRepository.log_end"),
    ("agent.tools", "ToolRegistry.execute", "agent.ToolRegistry.execute"),
]


@dataclass
class Span:
    name: str
    start: float
    end: float
    span_id: int
    parent: int | None
    op: int | None


class Tracer:
    """In-memory span recorder. ``set_op`` sets the operation id that
    every span started afterwards in the same thread carries, and whether
    that operation is traced at all (an untraced one passes straight
    through the wrappers)."""

    def __init__(self) -> None:
        self.spans: list[Span] = []
        self._ids = iter(range(1, 1 << 62))
        self._lock = threading.Lock()
        self._parent = contextvars.ContextVar("perfbench_parent", default=None)
        self._op = contextvars.ContextVar("perfbench_op", default=None)
        self._active = contextvars.ContextVar("perfbench_active", default=True)
        self._restore: list[tuple[object, str, object]] = []

    def _next_id(self) -> int:
        with self._lock:
            return next(self._ids)

    def set_op(self, op_id: int | None, active: bool = True) -> None:
        self._op.set(op_id)
        self._active.set(active)

    def wrap(self, fn, name: str):
        tracer = self

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            if not tracer._active.get():
                return fn(*args, **kwargs)
            sid = tracer._next_id()
            parent = tracer._parent.get()
            token = tracer._parent.set(sid)
            start = time.perf_counter()
            try:
                return fn(*args, **kwargs)
            finally:
                end = time.perf_counter()
                tracer._parent.reset(token)
                span = Span(name, start, end, sid, parent, tracer._op.get())
                with tracer._lock:
                    tracer.spans.append(span)

        return traced

    def install(self) -> None:
        for mod_name, attr, name in TARGETS:
            owner = importlib.import_module(f"{PKG}.{mod_name}")
            *cls_path, leaf = attr.split(".")
            for part in cls_path:
                owner = getattr(owner, part)
            original = owner.__dict__[leaf] if cls_path else getattr(owner, leaf)
            self._restore.append((owner, leaf, original))
            setattr(owner, leaf, self.wrap(original, name))

    def uninstall(self) -> None:
        for owner, leaf, original in reversed(self._restore):
            setattr(owner, leaf, original)
        self._restore.clear()

    # -- analysis ------------------------------------------------------------
    def self_times(self) -> dict[str, list[float]]:
        """Span name → list of self times (seconds), one per call."""
        children: dict[int, list[Span]] = {}
        for s in self.spans:
            if s.parent is not None:
                children.setdefault(s.parent, []).append(s)
        out: dict[str, list[float]] = {}
        for s in self.spans:
            covered = _union_length(
                [(max(c.start, s.start), min(c.end, s.end)) for c in children.get(s.span_id, [])]
            )
            out.setdefault(s.name, []).append(s.end - s.start - covered)
        return out

    def write(self, path: str) -> None:
        """Write every span as one JSON object per line."""
        with open(path, "w", encoding="utf-8") as f:
            for s in self.spans:
                f.write(json.dumps(asdict(s)) + "\n")

    def durations(self, name: str) -> dict[float, float]:
        """Start → duration of every span called ``name``."""
        return {s.start: s.end - s.start for s in self.spans if s.name == name}


def _union_length(intervals: list[tuple[float, float]]) -> float:
    total = 0.0
    cur_lo = cur_hi = None
    for lo, hi in sorted(i for i in intervals if i[1] > i[0]):
        if cur_hi is None or lo > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = lo, hi
        else:
            cur_hi = max(cur_hi, hi)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


def median_or_zero(xs) -> float:
    xs = list(xs)
    return statistics.median(xs) if xs else 0.0


class SparkCounters:
    """Run-window deltas from Spark's status store: jobs (ids are
    sequential, so the count is exact), tasks and shuffle bytes (the
    local executor's cumulative totals), spill (summed over completed
    stages, polled so the store's retention limit never drops one) and
    storage memory (sampled; the peak is kept)."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.store = self.sc._jsc.sc().statusStore()
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None
        self._seen_stages: set = set()
        self._floor = -1
        self.spill_bytes = 0
        self.storage_peak = 0
        self._base: dict | None = None
        self.delta: dict = {}

    def _last_job_id(self) -> int:
        jobs = self.store.jobsList(None)  # newest first
        return jobs.apply(0).jobId() if jobs.size() else -1

    def _executor_totals(self) -> dict:
        ex = self.store.executorList(True)
        t = {"tasks": 0, "shuffle_read": 0, "shuffle_write": 0, "storage": 0}
        for i in range(ex.size()):
            e = ex.apply(i)
            t["tasks"] += e.completedTasks() + e.failedTasks()
            t["shuffle_read"] += e.totalShuffleRead()
            t["shuffle_write"] += e.totalShuffleWrite()
            t["storage"] += e.memoryUsed()
        return t

    def _poll_stages(self) -> None:
        """Add the spill of every stage that finished since the last
        poll. The list is newest first; walking stops at the floor below
        which every stage was already counted."""
        gw = self.sc._gateway
        stages = self.store.stageList(None, False, False, gw.new_array(gw.jvm.double, 0), None)
        pending_min = None
        newest = None
        for i in range(stages.size()):
            st = stages.apply(i)
            sid = st.stageId()
            if sid <= self._floor:
                break
            newest = sid if newest is None else max(newest, sid)
            if str(st.status()) in ("ACTIVE", "PENDING"):
                pending_min = sid if pending_min is None else min(pending_min, sid)
                continue
            key = (sid, st.attemptId())
            if key in self._seen_stages:
                continue
            self._seen_stages.add(key)
            if self._base is not None:
                self.spill_bytes += st.memoryBytesSpilled() + st.diskBytesSpilled()
        if pending_min is not None:
            self._floor = max(self._floor, pending_min - 1)
        elif newest is not None:
            self._floor = newest

    def _loop(self) -> None:
        while not self._stop.wait(POLL_SECONDS):
            self._poll_stages()
            self.storage_peak = max(self.storage_peak, self._executor_totals()["storage"])

    def start(self) -> None:
        self._poll_stages()  # stages before the window are marked seen
        self._base = {"jobs": self._last_job_id(), **self._executor_totals()}
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._thread.start()

    def stop(self) -> dict:
        self._stop.set()
        self._thread.join(timeout=30)
        self._poll_stages()
        end = {"jobs": self._last_job_id(), **self._executor_totals()}
        self.storage_peak = max(self.storage_peak, end["storage"])
        self.delta = {
            "jobs": end["jobs"] - self._base["jobs"],
            "tasks": end["tasks"] - self._base["tasks"],
            "shuffle_bytes": (end["shuffle_read"] - self._base["shuffle_read"])
            + (end["shuffle_write"] - self._base["shuffle_write"]),
            "spill_bytes": self.spill_bytes,
            "storage_peak_bytes": self.storage_peak,
            "persisted_rdds": self.sc._jsc.getPersistentRDDs().size(),
        }
        return self.delta
