"""Self-test of the output checks: each check must accept a correct
result and reject a deliberately corrupted one (a dropped batch, one
wrong bucket sum, a duplicated corpus document, ...).

Runs without Spark, on a small generated parquet file:

    python3 -m perfbench.selftest <scratch dir>
"""

from __future__ import annotations

import os
import sys

import numpy as np

from . import checks, gen


def run(work_dir: str) -> list[str]:
    """Return one line per check that misjudged its input (empty = all
    checks behave)."""
    bad = []

    def expect(name: str, errs: list[str], should_fail: bool) -> None:
        if bool(errs) != should_fail:
            bad.append(f"{name}: {'accepted corrupted' if should_fail else 'rejected correct'} input")

    path = os.path.join(work_dir, "selftest", "events.parquet")
    rng = np.random.default_rng(0)
    gen.write_parquet(path, gen.events_table(rng, 2_000, 0, gen.T0_US, gen.T0_US + 86_400_000_000,
                                             string_value=True))

    # dashboard: per-bucket counts and sums
    want = checks.expected_buckets(path, 600)
    expect("buckets/correct", checks.bucket_errors("t", list(want), want), False)
    wrong = [list(r) for r in want]
    wrong[3][2] += 0.5  # one bucket's average (its sum / count) is off
    expect("buckets/wrong sum", checks.bucket_errors("t", [tuple(r) for r in wrong], want), True)
    expect("buckets/missing bucket", checks.bucket_errors("t", want[1:], want), True)

    # cached reads: frame, reported count and the table up to the watermark
    expect("cached/correct", checks.cached_read_errors(220, 220, 220), False)
    expect("cached/frame holds extra rows", checks.cached_read_errors(220, 300, 220), True)
    expect("cached/skipped batch", checks.cached_read_errors(200, 200, 220), True)

    # sync_ingest: row count, watermark, audit rows
    batches = [(100, 1_000, 1_999), (100, 2_000, 2_999), (100, 3_000, 3_999)]
    ok = dict(initial_rows=500, initial_max_us=999, batches=batches, final_rows=800,
              saved_wm_us=3_999, completed_logs=2, other_logs=0, cycles=2)
    expect("sync/correct", checks.sync_errors(**ok), False)
    expect("sync/dropped batch", checks.sync_errors(**{**ok, "final_rows": 700}), True)
    expect("sync/watermark ahead", checks.sync_errors(**{**ok, "saved_wm_us": 3_500}), True)
    expect("sync/missing audit row", checks.sync_errors(**{**ok, "completed_logs": 1}), True)

    # sync_ingest: rollup vs full recompute
    roll = checks.query(
        f"SELECT event_type, (epoch_us(ts) // 1000000) // 600 * 600, count(*), "
        f"sum(TRY_CAST(value AS DOUBLE)), max(TRY_CAST(value AS DOUBLE)) "
        f"FROM read_parquet('{path}') GROUP BY ALL ORDER BY ALL"
    )
    expect("rollup/correct", checks.rollup_errors(roll, roll), False)
    wrong = [list(r) for r in roll]
    wrong[5][3] += 1.0
    expect("rollup/wrong sum", checks.rollup_errors([tuple(r) for r in wrong], roll), True)
    expect("rollup/dropped group", checks.rollup_errors(roll[1:], roll), True)

    # corpus_ingest
    corpus = [(i, f"doc {i}") for i in range(10)]
    ids = set(range(10))
    good = dict(reports=[{"batch": 5, "survivors": 3, "duplicates": 2}], corpus=corpus,
                store_ids=ids, index_ids=ids, exact_ids={20, 21})
    expect("corpus/correct", checks.corpus_errors(**good), False)
    dup = corpus + [(10, "doc 3")]
    expect("corpus/duplicated document",
           checks.corpus_errors(**{**good, "corpus": dup, "store_ids": ids | {10},
                                   "index_ids": ids | {10}}), True)
    expect("corpus/kept exact copy", checks.corpus_errors(**{**good, "exact_ids": {3}}), True)
    expect("corpus/store drift", checks.corpus_errors(**{**good, "store_ids": ids - {4}}), True)
    expect("corpus/bad report",
           checks.corpus_errors(**{**good, "reports": [{"batch": 5, "survivors": 3, "duplicates": 1}]}),
           True)
    return bad


if __name__ == "__main__":
    problems = run(sys.argv[1] if len(sys.argv) > 1 else ".")
    for p in problems:
        print(p)
    print("selftest:", "FAILED" if problems else "ok")
    sys.exit(1 if problems else 0)
