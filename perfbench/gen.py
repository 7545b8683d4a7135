"""Seeded input generators.

Every table, landed batch and document the benchmark feeds the program
comes from here, as parquet files written with pyarrow; the same seed
always produces the same bytes of input. The program under test only
ever sees these files (and DataFrames read from them).

Timestamps are written as UTC instants (``timestamp[us, tz=UTC]``), the
shape a JDBC read of an Oracle TIMESTAMP has under the engine's UTC
session zone.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

EVENT_COLUMNS = ["event_id", "ts", "user_id", "event_type", "value"]
EVENT_TYPES = np.array(["click", "view", "scroll", "purchase", "login", "logout"])
T0_US = 1_700_000_000 * 1_000_000  # 2023-11-14T22:13:20Z
WEEK_US = 7 * 86_400 * 1_000_000


def write_parquet(path: str, table: pa.Table) -> int:
    """Write atomically (temp name Spark ignores, then rename); return
    the file's size in bytes."""
    os.makedirs(os.path.dirname(path), exist_ok=True)
    tmp = os.path.join(os.path.dirname(path), "_" + os.path.basename(path) + ".tmp")
    pq.write_table(table, tmp)
    os.replace(tmp, path)
    return os.path.getsize(path)


def events_table(
    rng: np.random.Generator,
    n: int,
    first_id: int,
    t_lo_us: int,
    t_hi_us: int,
    string_value: bool = False,
) -> pa.Table:
    """``n`` events (event_id, ts, user_id, event_type, value) with
    sorted timestamps uniform in [t_lo_us, t_hi_us). ``value`` carries
    three decimals; ``string_value`` stores it as a numeric string (the
    Oracle VARCHAR2 payload shape the type-inference vote exists for)."""
    ts = np.sort(rng.integers(t_lo_us, t_hi_us, n, dtype=np.int64))
    value = np.round(rng.normal(100.0, 25.0, n), 3)
    users = np.minimum(rng.zipf(1.3, n), 50_000).astype(np.int64)
    kinds = EVENT_TYPES[rng.integers(0, len(EVENT_TYPES), n)]
    return pa.table(
        {
            "event_id": pa.array(np.arange(first_id, first_id + n, dtype=np.int64)),
            "ts": pa.array(ts, pa.timestamp("us", tz="UTC")),
            "user_id": pa.array(users),
            "event_type": pa.array(kinds),
            "value": pa.array([f"{v:.3f}" for v in value])
            if string_value
            else pa.array(value),
        }
    )


@dataclass
class LandedBatch:
    """One batch the sync lander puts into the source directory."""

    index: int
    rows: int
    min_ts_us: int
    max_ts_us: int
    nbytes: int = 0


def event_batches(seed: int, first_id: int, after_us: int, rows: int, span_us: int):
    """Endless stream of landed batches: batch k holds ``rows`` events
    strictly after every earlier batch's timestamps (so each one lies
    past the watermark the previous sync committed)."""
    rng = np.random.default_rng([seed, 2])
    k = 0
    lo = after_us + 1
    while True:
        table = events_table(rng, rows, first_id + k * rows, lo, lo + span_us)
        ts = table.column("ts").cast(pa.int64()).to_numpy()
        yield k, table, int(ts.min()), int(ts.max())
        lo = int(ts.max()) + 1
        k += 1


# --- corpus -----------------------------------------------------------------

VOCAB = np.array([f"w{i:05d}" for i in range(20_000)])
DIM = 64


def _texts(rng: np.random.Generator, n: int) -> list[str]:
    lens = rng.integers(30, 60, n)
    return [" ".join(VOCAB[rng.integers(0, len(VOCAB), k)]) for k in lens]


def _vectors(rng: np.random.Generator, n: int) -> np.ndarray:
    return rng.normal(size=(n, DIM))


def doc_table(ids, texts) -> pa.Table:
    return pa.table({"doc_id": pa.array(ids, pa.int64()), "text": pa.array(texts)})


def vec_table(ids, vecs: np.ndarray) -> pa.Table:
    return pa.table(
        {
            "vec_id": pa.array(ids, pa.int64()),
            "embedding": pa.array(list(vecs), pa.list_(pa.float64())),
        }
    )


@dataclass
class Corpus:
    texts: list[str]
    vecs: np.ndarray


def corpus(seed: int, n: int) -> Corpus:
    rng = np.random.default_rng([seed, 3])
    return Corpus(_texts(rng, n), _vectors(rng, n))


@dataclass
class DocBatch:
    """One ingest batch with the generator's labels: which ids are exact
    copies, one-word edits, or novel documents."""

    ids: np.ndarray
    texts: list[str]
    vecs: np.ndarray
    exact_ids: set
    near_ids: set
    novel_ids: set


def doc_batches(seed: int, base: Corpus, first_id: int, size: int):
    """Endless stream of batches: 10 % exact copies of corpus documents,
    10 % copies with one word replaced, 80 % novel documents. Both kinds
    of copy carry their source document's embedding."""
    rng = np.random.default_rng([seed, 4])
    n_copy = size // 10
    k = 0
    while True:
        src = rng.choice(len(base.texts), 2 * n_copy, replace=False)
        texts, vecs = [], []
        for j, s in enumerate(src):
            t = base.texts[s]
            if j >= n_copy:
                words = t.split()
                words[rng.integers(len(words))] = f"edit{rng.integers(1 << 40)}"
                t = " ".join(words)
            texts.append(t)
            vecs.append(base.vecs[s])
        n_novel = size - 2 * n_copy
        texts += _texts(rng, n_novel)
        vecs = np.vstack([np.array(vecs), _vectors(rng, n_novel)])
        ids = np.arange(first_id + k * size, first_id + (k + 1) * size, dtype=np.int64)
        yield DocBatch(
            ids,
            texts,
            vecs,
            exact_ids=set(ids[:n_copy].tolist()),
            near_ids=set(ids[n_copy : 2 * n_copy].tolist()),
            novel_ids=set(ids[2 * n_copy :].tolist()),
        )
        k += 1
