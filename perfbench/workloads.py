"""The three workloads. Each one sets up from seeded inputs (repeatably,
into a fresh directory), runs for a fixed window against the package's
public API, and checks what the program produced.

- ``dashboard``: read-only, closed loop, 2 clients on one SparkSession.
- ``sync_ingest``: an open-loop lander, a sync loop and one dashboard
  reader on the table being written.
- ``corpus_ingest``: the daily-crawl loop, closed loop, 1 client.
"""

from __future__ import annotations

import functools
import os
import threading
import time
from collections import Counter
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass, field
from datetime import datetime, timedelta

import numpy as np
from pyspark.sql import functions as F

from oracle_duckdb_sync_spark.agent.tools import build_default_registry
from oracle_duckdb_sync_spark.config import EngineConfig
from oracle_duckdb_sync_spark.meta.repos import SyncLogRepository
from oracle_duckdb_sync_spark.operators import dedup as DD
from oracle_duckdb_sync_spark.operators import pipeline
from oracle_duckdb_sync_spark.operators import similarity as SIM
from oracle_duckdb_sync_spark.plans import viz
from oracle_duckdb_sync_spark.plans.services import EnhancedQueryService, QueryService
from oracle_duckdb_sync_spark.sources import sinks
from oracle_duckdb_sync_spark.sources.catalog import Catalog
from oracle_duckdb_sync_spark.sources.state import SyncStateStore
from oracle_duckdb_sync_spark.sync import rollup
from oracle_duckdb_sync_spark.sync.engine import ParquetSyncSource, SyncEngine
from oracle_duckdb_sync_spark.sync.service import SyncService

from . import checks, gen

# --- sizes (recorded in perfbench/README.md) ----------------------------------
DASH_TABLES = 4
DASH_ROWS = 100_000
SYNC_INITIAL_ROWS = 100_000
SYNC_BATCH_ROWS = 10_000
SYNC_LAND_INTERVAL_S = 10.0
ROLLUP_BUCKET_S = 600
CORPUS_DOCS = 2_000
CORPUS_BATCH = 500
IVF_CENTROIDS = 32
SEMANTIC_THRESHOLD = 0.95
LTTB_POINTS = 5_000

# collected timestamps are naive; the benchmark process runs with TZ=UTC
EPOCH = datetime(1970, 1, 1)
INTERVALS = {"1 minute": 60, "10 minutes": 600, "1 hour": 3600}


def rollup_aggs() -> dict:
    return {"n": F.count(F.lit(1)), "value_sum": F.sum("value"), "value_max": F.max("value")}


def _agg(interval: int, infer: bool, table: int) -> tuple[str, tuple[float, int], int]:
    """An aggregate slot, as the (coin, pick) that ``request`` reads."""
    return ("agg", (0.25 if infer else 0.75, interval), table)


# The request mix, modelled on the reference UI: one block of 20 that
# every client runs over and over (the second client starts half a
# block in). Each slot is (action, variant, table index). Each aggregate
# interval runs once with the value columns left to inference and once
# named. The order is fixed and spreads the heavy requests (aggregates,
# viz, cached reads) evenly. The tables are Zipf-skewed, weights 1, 1/2,
# 1/3, 1/4 rounded to 10, 5, 3 and 2 slots a block, and the string-valued
# table (index 3) gets an inferred aggregate and a cached read. With the
# order drawn from the seed, whether heavy requests met a sync cycle
# changed with the seed: sync_ingest's percentiles then spread 0.22-0.31
# (IQR/median) over five seeds, against 0.07-0.12 over three repeats of
# one seed; a seeded table draw likewise changed how many aggregates hit
# the string-valued table. The seed decides the data and the metadata and
# agent variants.
BLOCK = [
    _agg(0, True, 0), ("meta", None, 0), ("cached", None, 0), ("row_count", None, 0),
    _agg(1, False, 1), ("limit", None, 1), ("agent", None, 0), ("viz", None, 0),
    _agg(2, True, 3), ("meta", None, 1), ("cached", None, 1), _agg(0, False, 0),
    ("row_count", None, 2), ("agent", None, 2), _agg(1, True, 2), ("limit", None, 0),
    ("viz", None, 1), ("meta", None, 0), ("cached", None, 3), _agg(2, False, 0),
]
MIX = list(Counter(a for a, _v, _t in BLOCK).items())  # (action, requests per block)


@dataclass
class Op:
    role: str
    action: str
    start: float
    end: float
    ok: bool = True  # returned, and the checks found the answer right
    completed: bool = True  # returned an answer at all (right or wrong)
    error: str | None = None
    # a cached read the known cache defects made wrong (README, findings
    # 6 and 7); counted in ok_ratio and fail_ratio, not in ``failed``
    wrong: str | None = None
    info: dict = field(default_factory=dict)

    @property
    def seconds(self) -> float:
        return self.end - self.start


def du(path: str) -> int:
    """Bytes of regular files under ``path``."""
    total = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            p = os.path.join(root, f)
            if not os.path.islink(p):
                total += os.path.getsize(p)
    return total


def engine_config(spark_master: str, d: str) -> EngineConfig:
    return EngineConfig(
        master=spark_master,
        warehouse_dir=os.path.join(d, "warehouse"),
        state_dir=os.path.join(d, "state"),
    )


# --- the dashboard request mix ------------------------------------------------


class DashboardClient:
    """One UI session, the ``k``-th of its workload: runs the request
    block over and over against shared services."""

    def __init__(self, role, k, rng, tables, catalog, qs, eqs, registry, deadline, tracer=None):
        self.role = role
        self.rng = rng
        self.tables = tables
        self.catalog = catalog
        self.qs = qs
        self.eqs = eqs
        self.registry = registry
        self.deadline = deadline
        self.tracer = tracer
        self.ops: list[Op] = []
        self.k = k
        self._pos = k * len(BLOCK) // 2  # clients run half a block apart

    def request(self, action: str, table: str, coin: float, pick: int) -> dict:
        """Run one request; return what the checks need."""
        if action == "meta":
            if coin < 0.5:
                return {"tables": self.qs.list_tables()}
            return {"describe": self.catalog.describe(table)}
        if action == "row_count":
            return {"rows": self.qs.get_table_row_count(table)}
        if action == "limit":
            res = self.qs.query_table(table, limit=100)
            return {"ok": res.success, "rows": res.row_count, "error": res.error}
        if action in ("agg", "viz"):
            interval = "1 minute" if action == "viz" else list(INTERVALS)[pick % 3]
            infer = action == "agg" and coin < 0.5
            res = self.qs.query_table_aggregated(
                table, "ts", interval, value_columns=None if infer else ["value"]
            )
            out = {"ok": res.success, "rows": res.row_count, "interval": interval,
                   "infer": infer, "error": res.error, "df": res.df}
            if action == "viz" and res.success:
                plot = viz.prepare_plot_dataframe(
                    res.df, "time_bucket", ["value_avg"], threshold=LTTB_POINTS
                )
                out["points"] = len(plot.collect())
            return out
        if action == "cached":
            res = self.eqs.query_with_caching(table, "ts")
            meta = self.eqs.cache.get_metadata(table)
            # the UI consumes the frame it is given; counting it runs the
            # merge lineage the call only planned
            frame_rows = res.df.count() if res.df is not None else None
            return {"ok": res.success, "rows": res.row_count, "frame_rows": frame_rows,
                    "error": res.error, "last_ts": meta.last_timestamp if meta else None}
        if action == "agent":
            tool = ("list_tables", "get_table_stats", "query_table")[pick % 3]
            kwargs = {} if tool == "list_tables" else {"table_name": table}
            if tool == "query_table":
                kwargs["limit"] = 10
            res = self.registry.execute(tool, **kwargs)
            return {"ok": res.success, "tool": tool, "data": res.data, "error": res.error}
        raise ValueError(action)

    def run(self) -> None:
        op_id = 0
        while time.perf_counter() < self.deadline:
            action, variant, t = BLOCK[self._pos % len(BLOCK)]
            table = self.tables[t % len(self.tables)]
            coin, pick = self.rng.random(), int(self.rng.integers(1 << 30))
            if variant is not None:
                coin, pick = variant
            op_id += 1
            # a traced run traces every other block of each client (the
            # clients in opposite phase), so the untraced blocks measure
            # the same mix, state and host without spans
            traced = self.tracer is not None and (self._pos // len(BLOCK) + self.k) % 2 == 1
            if self.tracer is not None:
                self.tracer.set_op(hash((self.role, op_id)), active=traced)
            start = time.perf_counter()
            try:
                info = self.request(action, table, coin, pick)
                op = Op(self.role, action, start, time.perf_counter(), info=info)
                if info.get("ok") is False:
                    op.ok, op.error = False, info.get("error")
            except Exception as e:  # noqa: BLE001 — a failed request is counted, not fatal
                op = Op(self.role, action, start, time.perf_counter(), ok=False,
                        completed=False, error=repr(e))
            op.info["table"] = table
            op.info["traced"] = traced
            self._pos += 1
            self.ops.append(op)


def run_clients(clients) -> None:
    threads = [threading.Thread(target=c.run, name=c.role) for c in clients]
    for t in threads:
        t.start()
    for t in threads:
        t.join()


# --- dashboard ----------------------------------------------------------------


class Dashboard:
    name = "dashboard"
    clients = 2

    def __init__(self, spark, master: str, seed: int):
        self.spark = spark
        self.master = master
        self.seed = seed
        self.tables = [f"events_{i}" for i in range(DASH_TABLES)]

    def setup(self, d: str) -> None:
        rng = np.random.default_rng([self.seed, 1])
        self.dir = d
        self.config = engine_config(self.master, d)
        self.sources = {}
        self.input_bytes = 0
        for i, name in enumerate(self.tables):
            table = gen.events_table(
                rng, DASH_ROWS, 0, gen.T0_US, gen.T0_US + gen.WEEK_US,
                string_value=(i == DASH_TABLES - 1),
            )
            path = os.path.join(d, "source", f"{name}.parquet")
            self.input_bytes += gen.write_parquet(path, table)
            self.sources[name] = path
        self.catalog = Catalog(self.spark, self.config)
        engine = SyncEngine(self.spark, self.catalog, SyncStateStore(self.config.state_dir), self.config)
        for name, path in self.sources.items():
            res = engine.full_sync(ParquetSyncSource(path), name, time_column="ts")
            if not res.success:
                raise RuntimeError(f"full_sync {name}: {res.error}")
        self.qs = QueryService(self.catalog, self.config)
        self.eqs = EnhancedQueryService(self.catalog, self.config)
        self.registry = build_default_registry(self.catalog)

    def warm_up(self) -> None:
        """A cached read of every table, which fills the query cache and
        the catalog memo (a long-running dashboard pays those misses once,
        not on every request), and one request of each other kind on the
        last table, which pays the first run's code generation. They run
        side by side, as many at once as there are tables."""
        client = self._client("warmup", 0, deadline=0.0)
        with ThreadPoolExecutor(max_workers=len(self.tables)) as pool:
            futures = [pool.submit(client.request, "cached", t, 0.0, 0) for t in self.tables] + [
                pool.submit(client.request, a, self.tables[-1], 0.25, 0)
                for a, _ in MIX if a != "cached"
            ]
            for f in futures:
                f.result()

    def _client(self, role, k, deadline, tracer=None):
        return DashboardClient(
            role, k, np.random.default_rng([self.seed, 10 + k]), self.tables,
            self.catalog, self.qs, self.eqs, self.registry, deadline, tracer,
        )

    def run(self, seconds: float, tracer=None) -> list[Op]:
        deadline = time.perf_counter() + seconds
        clients = [self._client(f"client{k}", k, deadline, tracer) for k in range(self.clients)]
        run_clients(clients)
        return [op for c in clients for op in c.ops]

    @staticmethod
    def timed(ops: list[Op]) -> list[Op]:
        """The operations users wait on: every request that returned an
        answer. A wrong answer was waited for too, so it stays in."""
        return [op for op in ops if op.action != "cycle" and op.completed]

    def check(self, ops: list[Op]) -> list[str]:
        errs = []
        rows = {n: checks.query(f"SELECT count(*) FROM read_parquet('{p}')")[0][0]
                for n, p in self.sources.items()}
        served = {}
        for op in ops:
            if not op.ok:
                continue
            e = read_op_errors(op, rows[op.info["table"]], self.tables)
            if e:
                op.ok, op.error = False, e[0]
                errs += e
            if op.action in ("agg", "viz"):
                served.setdefault((op.info["table"], op.info["interval"]), []).append(op)
        # The tables do not change, so collecting one served result per
        # pair now reads exactly what was served; one union collects them
        # all in a single job.
        pairs = sorted(served.items())
        frames = [
            next((o for o in group if o.info["infer"]), group[0])  # covers the vote too
            .info["df"].select(
                F.lit(i).alias("pair"), F.unix_seconds("time_bucket"), "point_count",
                "value_avg", "value_min", "value_max",
            )
            for i, (_key, group) in enumerate(pairs)
        ]
        got_by_pair: dict[int, list[tuple]] = {i: [] for i in range(len(pairs))}
        if frames:
            for r in functools.reduce(lambda a, b: a.union(b), frames).collect():
                got_by_pair[r[0]].append(tuple(r[1:]))
        for i, ((table, interval), group) in enumerate(pairs):
            expected = checks.expected_buckets(self.sources[table], INTERVALS[interval])
            got = got_by_pair[i]
            label = f"{table} {interval}"
            e = checks.bucket_errors(label, got, expected)
            for op in group:
                if op.info["rows"] != len(expected):
                    e = e or [f"{label}: served {op.info['rows']} buckets, expected {len(expected)}"]
            if e:
                for op in group:
                    op.ok, op.error = False, e[0]
                errs += e
        return errs

    def stored_bytes(self) -> int:
        return du(self.config.warehouse_dir)

    def generated_bytes(self) -> int:
        return self.input_bytes


def read_op_errors(op: Op, table_rows: int, tables: list[str], lo_rows: int | None = None) -> list[str]:
    """Checks on one served read. ``table_rows`` is the row count the
    table must report; with ``lo_rows`` (a table being written) any
    count in [lo_rows, table_rows] is accepted."""
    info, a = op.info, op.action
    lo = table_rows if lo_rows is None else lo_rows

    def rows_ok(n):
        return lo <= n <= table_rows

    if a == "meta":
        if "tables" in info and info["tables"] != sorted(tables):
            return [f"list_tables returned {info['tables']}"]
        if "describe" in info and [c for c, _ in info["describe"]] != gen.EVENT_COLUMNS:
            return [f"describe returned {info['describe']}"]
    elif a == "row_count" and not rows_ok(info["rows"]):
        return [f"row count {info['rows']} outside [{lo}, {table_rows}]"]
    elif a == "limit" and info["rows"] != 100:
        return [f"LIMIT 100 returned {info['rows']} rows"]
    elif a == "viz" and not 0 < info.get("points", 0) <= LTTB_POINTS:
        return [f"viz prep returned {info.get('points')} points"]
    elif a == "cached" and lo_rows is None:
        return checks.cached_read_errors(info["rows"], info["frame_rows"], table_rows)
    elif a == "agent":
        data = info["data"]
        if info["tool"] == "list_tables" and data.get("count") != len(tables):
            return [f"agent list_tables returned {data}"]
        if info["tool"] == "get_table_stats" and not rows_ok(data.get("row_count", -1)):
            return [f"agent get_table_stats returned {data}"]
        if info["tool"] == "query_table" and data.get("row_count") != 10:
            return [f"agent query_table returned {data.get('row_count')} rows"]
    return []


# --- sync_ingest ----------------------------------------------------------------


class SyncIngest:
    name = "sync_ingest"
    table = "events"
    tables = [table]
    readers = 2

    def __init__(self, spark, master: str, seed: int):
        self.spark = spark
        self.master = master
        self.seed = seed

    def setup(self, d: str) -> None:
        rng = np.random.default_rng([self.seed, 1])
        self.dir = d
        self.config = engine_config(self.master, d)
        self.source_dir = os.path.join(d, "source", self.table)
        initial = gen.events_table(rng, SYNC_INITIAL_ROWS, 0, gen.T0_US, gen.T0_US + gen.WEEK_US)
        self.input_bytes = gen.write_parquet(os.path.join(self.source_dir, "initial.parquet"), initial)
        self.initial_max_us = int(initial.column("ts").cast("int64").to_numpy().max())
        self.landed: list[gen.LandedBatch] = []
        self.cycles: list[Op] = []
        self.source = ParquetSyncSource(self.source_dir)
        self.catalog = Catalog(self.spark, self.config)
        self.state = SyncStateStore(self.config.state_dir)
        res = SyncEngine(self.spark, self.catalog, self.state, self.config).full_sync(
            self.source, self.table, time_column="ts"
        )
        if not res.success:
            raise RuntimeError(f"full_sync: {res.error}")
        self.rollup_path = os.path.join(d, "rollup", f"{self.table}_10min")
        rollup.full_build(
            self.spark, self.catalog.table(self.table), self.rollup_path,
            ["event_type"], "ts", ROLLUP_BUCKET_S, rollup_aggs(),
        )
        self.sync_logs = SyncLogRepository(self.spark, os.path.join(d, "meta"))
        self.service = SyncService(
            self.spark, self.catalog, self.state, self.config, sync_logs=self.sync_logs
        )
        self.qs = QueryService(self.catalog, self.config)
        self.eqs = EnhancedQueryService(self.catalog, self.config)
        self.registry = build_default_registry(self.catalog)

    def warm_up(self) -> None:
        """One request of each kind (side by side), one sync cycle over a
        landed batch, then one more cached read (which merges that
        batch): the first cycle and merge of a process pay code
        generation, and the window should not."""
        client = self._client(0, deadline=0.0)
        with ThreadPoolExecutor(max_workers=4) as pool:
            for f in [pool.submit(client.request, a, self.table, 0.25, 0) for a, _ in MIX]:
                f.result()
        self.stream = gen.event_batches(
            self.seed, SYNC_INITIAL_ROWS, self.initial_max_us, SYNC_BATCH_ROWS,
            int(SYNC_LAND_INTERVAL_S * 1e6),
        )
        self.landed.append(self._land(next(self.stream)))
        self._sync_once()
        self.warm_cycles = 1
        client.request("cached", self.table, 0.0, 0)

    def _land(self, batch) -> gen.LandedBatch:
        k, table, lo, hi = batch
        nbytes = gen.write_parquet(os.path.join(self.source_dir, f"batch-{k:05d}.parquet"), table)
        return gen.LandedBatch(k, table.num_rows, lo, hi, nbytes)

    def _sync_once(self) -> tuple:
        """``SyncService.start_sync`` until the worker joins, then
        ``rollup.refresh`` over the rows it committed. Returns (result,
        seconds to the join, rollup groups touched, new watermark)."""
        old_wm = self.state.load_state(self.table)
        start = time.perf_counter()
        worker = self.service.start_sync(self.source, self.table, time_column="ts")
        worker.join()
        sync_s = time.perf_counter() - start
        res = worker.result
        if res is None or not res.success:
            raise RuntimeError(worker.error or (res and res.error))
        new_wm = self.state.load_state(self.table)
        groups = 0
        if res.rows:
            batch = self.catalog.table(self.table).filter(
                (F.unix_micros("ts") > old_wm) & (F.unix_micros("ts") <= new_wm)
            )
            groups = rollup.refresh(
                self.spark, self.catalog.table(self.table), batch,
                self.rollup_path, ["event_type"], "ts", ROLLUP_BUCKET_S, rollup_aggs(),
            )
        return res, sync_s, groups, new_wm

    def _client(self, k, deadline, tracer=None):
        return DashboardClient(
            f"reader{k}", k, np.random.default_rng([self.seed, 10 + k]), self.tables,
            self.catalog, self.qs, self.eqs, self.registry, deadline, tracer,
        )

    def run(self, seconds: float, tracer=None) -> list[Op]:
        n_batches = int(seconds / SYNC_LAND_INTERVAL_S) + 1
        pending = [next(self.stream) for _ in range(n_batches)]
        self.due: dict[int, float] = {}
        self.late_ms: list[float] = []
        self.backlog_max = 0
        landed_evt = threading.Condition()
        synced_before = len(self.landed)  # read before the lander starts
        t0 = time.perf_counter()
        deadline = t0 + seconds

        def lander():
            for i, batch in enumerate(pending):
                due = t0 + i * SYNC_LAND_INTERVAL_S
                if due >= deadline:
                    break
                delay = due - time.perf_counter()
                if delay > 0:
                    time.sleep(delay)
                landed = self._land(batch)
                self.late_ms.append((time.perf_counter() - due) * 1000)
                with landed_evt:
                    self.due[landed.index] = due
                    self.landed.append(landed)
                    landed_evt.notify_all()

        def sync_loop():
            done = synced_before  # batches covered by the committed watermark
            while True:
                with landed_evt:
                    while len(self.landed) == done and time.perf_counter() < deadline:
                        landed_evt.wait(timeout=max(0.0, deadline - time.perf_counter()))
                    # no cycle starts after the window; batches left
                    # unsynced are allowed for by the checks
                    if len(self.landed) == done or time.perf_counter() >= deadline:
                        return
                    self.backlog_max = max(self.backlog_max, len(self.landed) - done)
                start = time.perf_counter()
                try:
                    res, sync_s, groups, new_wm = self._sync_once()
                    visible = time.perf_counter()
                    with landed_evt:
                        now_done = [b for b in self.landed if b.max_ts_us <= new_wm]
                    fresh = [visible - self.due[b.index] for b in now_done[done:]]
                    done = len(now_done)
                    self.cycles.append(Op("sync", "cycle", start, visible, info={
                        "rows": res.rows, "sync_s": sync_s, "groups": groups,
                        "freshness_s": fresh,
                    }))
                except Exception as e:  # noqa: BLE001 — a failed cycle is counted, not fatal
                    self.cycles.append(Op("sync", "cycle", start, time.perf_counter(),
                                          ok=False, completed=False, error=repr(e)))
                    return

        readers = [self._client(k, deadline, tracer) for k in range(self.readers)]
        threads = [threading.Thread(target=f, name=n) for f, n in
                   [(lander, "lander"), (sync_loop, "sync")] + [(r.run, r.role) for r in readers]]
        for t in threads:
            t.start()
        for t in threads:
            t.join()
        return [op for r in readers for op in r.ops] + self.cycles

    timed = staticmethod(Dashboard.timed)  # the reader's requests

    def check(self, ops: list[Op]) -> list[str]:
        table_glob = checks.parquet_glob(self.catalog.table_path(self.table))
        final_rows = checks.query(f"SELECT count(*) FROM read_parquet('{table_glob}')")[0][0]
        logs = checks.query(
            f"SELECT status, count(*) FROM read_parquet('{checks.parquet_glob(self.sync_logs.path)}') "
            "GROUP BY status"
        )
        by_status = dict(logs)
        completed = by_status.pop("completed", 0)
        ok_cycles = [c for c in self.cycles if c.ok]
        errs = checks.sync_errors(
            SYNC_INITIAL_ROWS, self.initial_max_us,
            [(b.rows, b.min_ts_us, b.max_ts_us) for b in self.landed],
            final_rows, int(self.state.load_state(self.table)),
            completed, sum(by_status.values()), len(ok_cycles) + self.warm_cycles,
        )
        got = checks.query(
            "SELECT event_type, bucket_s, n, value_sum, value_max "
            f"FROM read_parquet('{checks.parquet_glob(self.rollup_path)}')"
        )
        errs += checks.rollup_errors(got, checks.expected_rollup(table_glob, ROLLUP_BUCKET_S))
        # Wrong cached reads (a frame holding rows its read does not
        # report, or rows skipped below the cache's watermark) are marked
        # wrong, so they count in ok_ratio and fail_ratio, and are listed
        # in self.wrong_reads. They neither fail the run nor count in the
        # result's ``failed``: the unmodified program serves them on every
        # run, as many as the timing of reads against syncs makes (README,
        # findings 6 and 7).
        self.wrong_reads = []
        for op in ops:
            if not op.ok or op.action == "cycle":
                continue
            e = read_op_errors(op, final_rows, self.tables, lo_rows=SYNC_INITIAL_ROWS)
            if e:
                op.ok, op.error = False, e[0]
                errs += e
            elif op.action == "cached" and op.info["last_ts"] is not None:
                last_us = (op.info["last_ts"] - EPOCH) // timedelta(microseconds=1)
                want = checks.query(
                    f"SELECT count(*) FROM read_parquet('{table_glob}') WHERE epoch_us(ts) <= ?",
                    [last_us],
                )[0][0]
                op.info["skipped_rows"] = want - op.info["rows"]
                wrong = checks.cached_read_errors(op.info["rows"], op.info["frame_rows"], want)
                if wrong:
                    op.wrong = wrong[0]
                    self.wrong_reads += wrong
        return errs

    def stored_bytes(self) -> int:
        return du(self.config.warehouse_dir) + du(self.rollup_path) + du(self.sync_logs.path)

    def generated_bytes(self) -> int:
        return self.input_bytes + sum(b.nbytes for b in self.landed)


# --- corpus_ingest --------------------------------------------------------------


class CorpusIngest:
    name = "corpus_ingest"

    def __init__(self, spark, master: str, seed: int):
        self.spark = spark
        self.master = master
        self.seed = seed

    def setup(self, d: str) -> None:
        self.dir = d
        self.base = gen.corpus(self.seed, CORPUS_DOCS)
        ids = np.arange(CORPUS_DOCS)
        docs_in = os.path.join(d, "input", "corpus_docs.parquet")
        vecs_in = os.path.join(d, "input", "corpus_vecs.parquet")
        self.input_bytes = gen.write_parquet(docs_in, gen.doc_table(ids, self.base.texts))
        self.input_bytes += gen.write_parquet(vecs_in, gen.vec_table(ids, self.base.vecs))
        self.corpus_path = os.path.join(d, "corpus")
        self.store_path = os.path.join(d, "minhash_store")
        self.ivf_path = os.path.join(d, "ivf_index")
        docs = self.spark.read.parquet(docs_in)
        vecs = self.spark.read.parquet(vecs_in)
        sinks.overwrite(docs, self.corpus_path)
        DD.save_minhash_store(docs, self.store_path)
        self.centroids = SIM.train_ivf_centroids(vecs, IVF_CENTROIDS)
        SIM.save_ivf_index(vecs, self.centroids, self.ivf_path)

    def warm_up(self) -> None:
        """Ingest one batch untimed (its labels still count in the
        checks): the first batch of a process pays code generation."""
        self.stream = gen.doc_batches(self.seed, self.base, CORPUS_DOCS, CORPUS_BATCH)
        self.batches: list[gen.DocBatch] = []
        self.k = 0
        op = self._ingest()
        if not op.ok:
            raise RuntimeError(f"warm-up batch failed: {op.error}")

    def run(self, seconds: float, tracer=None) -> list[Op]:
        ops: list[Op] = []
        deadline = time.perf_counter() + seconds
        while time.perf_counter() < deadline:
            ops.append(self._ingest(tracer))
        return ops

    def _ingest(self, tracer=None) -> Op:
        b = next(self.stream)
        k = self.k
        self.k += 1
        docs_path = os.path.join(self.dir, "input", f"batch-{k:04d}-docs.parquet")
        vecs_path = os.path.join(self.dir, "input", f"batch-{k:04d}-vecs.parquet")
        self.input_bytes += gen.write_parquet(docs_path, gen.doc_table(b.ids, b.texts))
        self.input_bytes += gen.write_parquet(vecs_path, gen.vec_table(b.ids, b.vecs))
        new_docs = self.spark.read.parquet(docs_path)
        embeddings = self.spark.read.parquet(vecs_path)
        if tracer is not None:
            tracer.set_op(k)
        self.batches.append(b)
        start = time.perf_counter()
        try:
            report = pipeline.ingest_batch(
                new_docs, self.store_path, self.corpus_path,
                embeddings=embeddings, ivf_path=self.ivf_path, centroids=self.centroids,
                semantic_threshold=SEMANTIC_THRESHOLD,
            )
            return Op("ingest", "ingest", start, time.perf_counter(), info={"report": report})
        except Exception as e:  # noqa: BLE001 — a failed batch is counted, not fatal
            return Op("ingest", "ingest", start, time.perf_counter(), ok=False,
                      completed=False, error=repr(e))

    @staticmethod
    def timed(ops: list[Op]) -> list[Op]:
        """The operations users wait on: ingest batches that returned."""
        return [op for op in ops if op.completed]

    def check(self, ops: list[Op]) -> list[str]:
        corpus = checks.query(
            f"SELECT doc_id, text FROM read_parquet('{checks.parquet_glob(self.corpus_path)}')"
        )
        store_ids = {r[0] for r in checks.query(
            "SELECT DISTINCT doc_id FROM "
            f"read_parquet('{checks.parquet_glob(os.path.join(self.store_path, 'shingles'))}')"
        )}
        index_ids = {r[0] for r in checks.query(
            f"SELECT vec_id FROM read_parquet('{checks.parquet_glob(self.ivf_path)}')"
        )}
        exact = set().union(*(b.exact_ids for b in self.batches)) if self.batches else set()
        reports = [op.info["report"] for op in ops if op.ok]
        errs = checks.corpus_errors(reports, corpus, store_ids, index_ids, exact)
        if errs:
            for op in ops:
                op.ok, op.error = False, errs[0]
        kept = {i for i, _ in corpus}
        near = set().union(*(b.near_ids for b in self.batches)) if self.batches else set()
        novel = set().union(*(b.novel_ids for b in self.batches)) if self.batches else set()
        self.quality = {
            "exact_recall": len(exact - kept) / len(exact) if exact else 0.0,
            "near_recall": len(near - kept) / len(near) if near else 0.0,
            "false_drop_ratio": len(novel - kept) / len(novel) if novel else 0.0,
        }
        return errs

    def stored_bytes(self) -> int:
        return du(self.corpus_path) + du(self.store_path) + du(self.ivf_path)

    def generated_bytes(self) -> int:
        return self.input_bytes


WORKLOADS = {w.name: w for w in (Dashboard, SyncIngest, CorpusIngest)}
