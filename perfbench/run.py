"""Benchmark entry point: one run of one workload in a fresh process.

    python3 perfbench/run.py --workload scan_fixpoint --seed 1 --seconds 8 --trace 0

Run from the root of a checkout. The measured process (``worker.py``)
starts its own Spark session, so every run begins with empty
application-keyed memos. This process samples the proportional set
size of the worker's whole process tree (Python process, JVM, Python
workers), scans the worker's stderr for cache warnings, and prints one JSON record
line followed by the result line:
``{"correct", "attempted", "failed", "metrics"}``. It exits non-zero
without a result line when the run cannot complete. On every path out it
kills and reaps each process the run started, orphans included.
"""

from __future__ import annotations

import argparse
import ctypes
import json
import os
import shutil
import signal
import subprocess
import sys
import time

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, BENCH_DIR)

from procfs import process_tree, pss_bytes, stat  # noqa: E402
from workloads import WORKLOADS  # noqa: E402

RUN_TIMEOUT_S = 170
PR_SET_CHILD_SUBREAPER = 36  # <linux/prctl.h>
CACHE_WARNINGS = ("WARN CacheManager", "WARN MemoryStore")


def metric_units(trace: int) -> dict[str, str]:
    """Name → unit of the metrics ``BENCHMARK.json`` expects from a run."""
    with open("BENCHMARK.json", encoding="utf-8") as fh:
        spec = json.load(fh)
    return {m["name"]: m["unit"] for m in spec["per_layer" if trace else "end_to_end"]}


def become_subreaper() -> None:
    """Make this process the child subreaper of everything it starts: a
    process orphaned by the worker, the JVM or the Python-worker daemon
    is re-parented here instead of to init, so ``stop_all`` can kill it
    and reap it (init may leave it a zombie for seconds)."""
    libc = ctypes.CDLL(None, use_errno=True)
    if libc.prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0) != 0:
        raise OSError(ctypes.get_errno(), "prctl(PR_SET_CHILD_SUBREAPER)")


def stop_all(proc: subprocess.Popen) -> None:
    """Kill the worker and every process below this one, then reap each
    until this process has no child left, live or zombie. As subreaper it
    inherits every orphan, so no process of the run outlives it."""
    deadline = time.time() + 8  # within the 180 s a run may take
    while time.time() < deadline:
        for pid in process_tree(os.getpid())[1:]:
            try:
                if stat(pid)[0] != "Z":
                    os.kill(pid, signal.SIGKILL)
            except (OSError, IndexError):
                pass
        if proc.returncode is None:
            proc.wait()  # the worker's exit code is reported
        try:
            while os.waitpid(-1, os.WNOHANG)[0]:
                pass
        except ChildProcessError:
            return
        time.sleep(0.05)
    raise RuntimeError("processes of the run outlived it")


def cache_warnings(log_path: str) -> list[str]:
    with open(log_path, encoding="utf-8", errors="replace") as fh:
        return [ln.rstrip() for ln in fh if any(w in ln for w in CACHE_WARNINGS)]


def run_worker(args, work: str) -> tuple[dict, int, list[str]]:
    """(worker result, peak tree PSS in bytes, cache warnings)."""
    log_path = os.path.join(work, "worker.log")
    result_path = os.path.join(work, "result.json")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    env = dict(
        os.environ,
        TMPDIR=tmp,
        SPARK_LOCAL_DIRS=tmp,
        JAVA_TOOL_OPTIONS=f"-Djava.io.tmpdir={tmp}",
        PYTHONPATH=os.getcwd(),
    )
    cmd = [
        sys.executable,
        os.path.join(BENCH_DIR, "worker.py"),
        "--workload", args.workload,
        "--seed", str(args.seed),
        "--seconds", str(args.seconds),
        "--trace", str(args.trace),
        "--work", work,
        "--result", result_path,
    ]
    peak = 0
    with open(log_path, "w", encoding="utf-8") as log:
        spawned = time.time()
        proc = subprocess.Popen(
            [*cmd, "--spawn-time", repr(spawned)],
            stdout=log,
            stderr=subprocess.STDOUT,
            env=env,
            start_new_session=True,
        )
        try:
            while proc.poll() is None:
                if time.time() - spawned > RUN_TIMEOUT_S:
                    raise TimeoutError(f"run exceeded {RUN_TIMEOUT_S} s")
                peak = max(peak, pss_bytes(process_tree(proc.pid)))
                time.sleep(0.2)
        finally:
            stop_all(proc)
    if proc.returncode != 0 or not os.path.exists(result_path):
        with open(log_path, encoding="utf-8", errors="replace") as fh:
            sys.stderr.write("".join(fh.readlines()[-40:]))
        raise RuntimeError(f"worker exited with code {proc.returncode}")
    with open(result_path, encoding="utf-8") as fh:
        return json.load(fh), peak, cache_warnings(log_path)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    # a terminated run still stops its worker (the finally blocks run)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    become_subreaper()
    if not os.path.isdir(os.path.join(os.getcwd(), "bigdata_hwk_spark")):
        print("run from the root of a checkout of the engine", file=sys.stderr)
        return 2

    work = os.path.join(os.getcwd(), ".perfbench_work", f"run-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        res, peak, warnings = run_worker(args, work)
    except (RuntimeError, TimeoutError) as e:
        print(f"perfbench: {e}", file=sys.stderr)
        return 1
    finally:
        shutil.rmtree(work, ignore_errors=True)

    for ln in warnings:
        print(f"cache warning: {ln}", file=sys.stderr)
    failed = res["failed"] + len(warnings)
    if args.trace:
        figures = res["layers"]
    else:
        figures = dict(res["metrics"], setup_s=res["setup_s"], peak_pss_mb=peak / 2**20)
    units = metric_units(args.trace)
    if set(figures) != set(units):
        print(f"perfbench: metrics {sorted(figures)} != {sorted(units)}", file=sys.stderr)
        return 1
    record = {
        "workload": args.workload,
        "seed": args.seed,
        "trace": args.trace,
        "cores": res["cores"],
        "fresh_process": True,
        "passes": res["passes"],
        "checks": res["checks"],
        "cache_warnings": len(warnings),
    }
    if args.trace:
        record["jobs_per_group"] = res["jobs_per_group"]
    print(json.dumps({"record": record}))
    print(
        json.dumps(
            {
                "correct": failed == 0,
                "attempted": res["attempted"],
                "failed": failed,
                "metrics": {
                    k: {"value": v, "unit": units[k]} for k, v in sorted(figures.items())
                },
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
