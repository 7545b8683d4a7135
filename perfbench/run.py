"""Benchmark launcher.

    python3 perfbench/run.py --workload dashboard --seed 1 --seconds 20 --trace 0

Run from the root of a checkout. Prepares a fresh scratch directory
inside the checkout (``.perfbench_work/``), sets PYTHONPATH so Spark's
Python workers can import the package, keeps Spark's and the JVM's
temporary files in that directory, runs ``perfbench.main``, forwards its
report, and stops and reaps every process started under it before
exiting with the run's exit code. Exits non-zero without a result when
the package is not present.
"""

from __future__ import annotations

import argparse
import ctypes
import os
import shutil
import signal
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PACKAGE = "oracle_duckdb_sync_spark"
JVM_HEAP = "2g"  # --driver-memory: the JVM that runs Spark in local mode
TIMEOUT_S = 170
PR_SET_CHILD_SUBREAPER = 36


def become_subreaper() -> None:
    """Adopt orphaned descendants (Spark's JVM and its Python worker
    daemon, which moves to a process group of its own), so they can be
    stopped and reaped here."""
    libc = ctypes.CDLL(None, use_errno=True)
    if libc.prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0) != 0:
        raise OSError(ctypes.get_errno(), "prctl(PR_SET_CHILD_SUBREAPER)")


def live_descendants() -> list[int]:
    parent = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat", encoding="ascii", errors="replace") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        if fields[0] != "Z":
            parent[int(entry)] = int(fields[1])
    me, out = os.getpid(), []
    for pid in parent:
        p = parent.get(pid)
        while p is not None and p != me:
            p = parent.get(p)
        if p == me:
            out.append(pid)
    return out


def reap() -> None:
    while True:
        try:
            pid, _ = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return
        if pid == 0:
            return


def stop_descendants(wait_s: float = 20.0) -> None:
    """Terminate, then kill, every process this launcher started
    (directly or not), and wait until each has ended and is reaped."""
    for sig in (signal.SIGTERM, signal.SIGKILL):
        deadline = time.monotonic() + wait_s / 2
        pids = live_descendants()
        for pid in pids:
            try:
                os.kill(pid, sig)
            except ProcessLookupError:
                pass
        while pids and time.monotonic() < deadline:
            reap()
            time.sleep(0.05)
            pids = live_descendants()
        if not pids:
            break
    reap()


def main() -> int:
    t0 = time.time()
    p = argparse.ArgumentParser()
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args()

    if not os.path.isfile(os.path.join(ROOT, PACKAGE, "__init__.py")):
        print(f"{PACKAGE} not found under {ROOT}: nothing to benchmark", file=sys.stderr)
        return 2

    become_subreaper()
    # a terminated launcher still stops what it started (finally below)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    base = os.path.join(ROOT, ".perfbench_work")
    work = os.path.join(base, f"run-{os.getpid()}")
    results = os.path.join(base, "results")
    shutil.rmtree(work, ignore_errors=True)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    env = dict(os.environ)
    env.update(
        PYTHONPATH=ROOT,
        TZ="UTC",
        TMPDIR=tmp,
        SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"),
        JAVA_TOOL_OPTIONS=f"-Djava.io.tmpdir={tmp}",
        PYSPARK_SUBMIT_ARGS=f"--driver-memory {JVM_HEAP} pyspark-shell",
        PYTHONDONTWRITEBYTECODE="1",
    )
    # product settings come from the package defaults, not the caller's shell
    for k in ("SPARK_MASTER", "SPARK_SHUFFLE_PARTITIONS", "SPARK_WAREHOUSE_DIR", "SPARK_STATE_DIR"):
        env.pop(k, None)
    cmd = [
        sys.executable, "-m", "perfbench.main",
        "--workload", args.workload, "--seed", str(args.seed),
        "--seconds", str(args.seconds), "--trace", str(args.trace),
        "--work", work, "--results", results, "--t0", repr(t0),
    ]
    log_path = os.path.join(base, f"{args.workload}-seed{args.seed}-trace{args.trace}.log")
    with open(log_path, "w", encoding="utf-8") as log:
        child = subprocess.Popen(
            cmd, cwd=work, env=env, stdout=subprocess.PIPE, stderr=log, text=True
        )
        try:
            out, _ = child.communicate(timeout=TIMEOUT_S)
            code = child.returncode
        except subprocess.TimeoutExpired:
            out, code = "", 124
            print(f"run exceeded {TIMEOUT_S} s; stopped", file=sys.stderr)
        finally:
            stop_descendants()
            child.wait()
    shutil.rmtree(work, ignore_errors=True)
    sys.stdout.write(out)
    if code != 0:
        print(f"run failed with exit code {code}; log: {log_path}", file=sys.stderr)
    return code


if __name__ == "__main__":
    sys.exit(main())
