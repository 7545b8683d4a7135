"""Output checks. Each check compares what the program produced with an
independent computation (DuckDB over the same parquet, or the
generator's own labels) and returns a list of error strings; an empty
list means the output is correct. They run outside the timed region.
"""

from __future__ import annotations

import math

import duckdb

REL_TOL = 1e-9


def _close(a, b) -> bool:
    if a is None or b is None:
        return a is None and b is None
    return math.isclose(a, b, rel_tol=REL_TOL, abs_tol=1e-9)


def parquet_glob(path: str) -> str:
    return f"{path}/**/*.parquet"


def query(sql: str, params: list | None = None) -> list[tuple]:
    con = duckdb.connect()
    try:
        return con.execute(sql, params or []).fetchall()
    finally:
        con.close()


# --- dashboard ----------------------------------------------------------------


def expected_buckets(source_glob: str, width_s: int, max_ts_us: int | None = None) -> list[tuple]:
    """(bucket epoch s, count, avg, min, max) of ``value`` per tumbling
    bucket, string values TRY_CAST like the engine's aggregate."""
    where = "" if max_ts_us is None else f"WHERE epoch_us(ts) <= {int(max_ts_us)}"
    return query(
        f"""
        SELECT (epoch_us(ts) // 1000000) // {width_s} * {width_s} AS b,
               count(*), avg(v), min(v), max(v)
        FROM (SELECT ts, TRY_CAST(value AS DOUBLE) AS v
              FROM read_parquet('{source_glob}') {where})
        GROUP BY b ORDER BY b
        """
    )


def bucket_errors(label: str, served: list[tuple], expected: list[tuple]) -> list[str]:
    """``served`` rows are (bucket epoch s, count, avg, min, max)."""
    if len(served) != len(expected):
        return [f"{label}: {len(served)} buckets served, {len(expected)} expected"]
    for s, e in zip(sorted(served), expected):
        if s[0] != e[0] or s[1] != e[1] or not all(_close(x, y) for x, y in zip(s[2:], e[2:])):
            return [f"{label}: bucket {s} != expected {e}"]
    return []


def cached_read_errors(reported_rows: int, frame_rows: int, rows_to_watermark: int) -> list[str]:
    """A cached read is right when the frame it returns holds the rows
    it reports, and those are every row of the table up to the cache's
    own watermark."""
    errs = []
    if frame_rows != reported_rows:
        errs.append(f"cached frame holds {frame_rows} rows, read reported {reported_rows}")
    if reported_rows != rows_to_watermark:
        errs.append(f"cached read reported {reported_rows} rows, "
                    f"table holds {rows_to_watermark} up to the cache watermark")
    return errs


# --- sync_ingest --------------------------------------------------------------


def sync_errors(
    initial_rows: int,
    initial_max_us: int,
    batches: list[tuple[int, int, int]],
    final_rows: int,
    saved_wm_us: int,
    completed_logs: int,
    other_logs: int,
    cycles: int,
) -> list[str]:
    """``batches`` are the landed (rows, min_ts_us, max_ts_us). A batch
    is synced iff the saved watermark covers it; none may be split."""
    errs = []
    synced = [b for b in batches if b[2] <= saved_wm_us]
    split = [b for b in batches if b[1] <= saved_wm_us < b[2]]
    if split:
        errs.append(f"{len(split)} landed batches straddle the watermark")
    want_rows = initial_rows + sum(b[0] for b in synced)
    if final_rows != want_rows:
        errs.append(f"table holds {final_rows} rows, expected {want_rows}")
    want_wm = max([initial_max_us] + [b[2] for b in synced])
    if saved_wm_us != want_wm:
        errs.append(f"saved watermark {saved_wm_us} != max synced ts {want_wm}")
    if completed_logs != cycles or other_logs:
        errs.append(
            f"sync_logs: {completed_logs} completed / {other_logs} other rows for {cycles} cycles"
        )
    return errs


def expected_rollup(table_glob: str, width_s: int) -> list[tuple]:
    return query(
        f"""
        SELECT event_type, (epoch_us(ts) // 1000000) // {width_s} * {width_s} AS b,
               count(*), sum(value), max(value)
        FROM read_parquet('{table_glob}')
        GROUP BY event_type, b ORDER BY event_type, b
        """
    )


def rollup_errors(rollup: list[tuple], expected: list[tuple]) -> list[str]:
    """Rows are (event_type, bucket_s, n, value_sum, value_max)."""
    got = {(r[0], r[1]): r[2:] for r in rollup}
    want = {(r[0], r[1]): r[2:] for r in expected}
    if got.keys() != want.keys():
        return [f"rollup has {len(got)} groups, full recompute {len(want)}"]
    for k, w in want.items():
        g = got[k]
        if g[0] != w[0] or not _close(g[1], w[1]) or not _close(g[2], w[2]):
            return [f"rollup group {k}: {g} != recomputed {w}"]
    return []


# --- corpus_ingest ------------------------------------------------------------


def corpus_errors(
    reports: list[dict],
    corpus: list[tuple[int, str]],
    store_ids: set,
    index_ids: set,
    exact_ids: set,
) -> list[str]:
    errs = []
    for r in reports:
        if r["batch"] != r["survivors"] + r["duplicates"]:
            errs.append(f"report {r} breaks batch = survivors + duplicates")
    texts = [t for _, t in corpus]
    if len(set(texts)) != len(texts):
        errs.append(f"corpus holds {len(texts) - len(set(texts))} exact-duplicate texts")
    ids = [i for i, _ in corpus]
    if len(set(ids)) != len(ids):
        errs.append("corpus holds duplicate ids")
    kept_copies = exact_ids & set(ids)
    if kept_copies:
        errs.append(f"{len(kept_copies)} designed exact copies were kept")
    if not (set(ids) == store_ids == index_ids):
        errs.append(
            f"id sets differ: corpus {len(set(ids))}, minhash store {len(store_ids)}, "
            f"ivf index {len(index_ids)}"
        )
    return errs
