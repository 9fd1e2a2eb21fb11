"""One measured run of one workload, in a fresh process.

Started by ``run.py``; writes its figures as JSON to ``--result``. The
phases are: set-up (session and staged inputs), one cold pass, one
settling pass and warm passes until ``--seconds`` have elapsed since the
settling pass began, then the output checks, which are not timed. With
``--trace 1`` the Spark event log is on, each step runs under its own
job group, and warm passes alternate between traced and untraced so the
tracing overhead is measured in the same session.
"""

from __future__ import annotations

import argparse
import datetime
import json
import os
import random
import statistics
import sys
import time
import traceback

ROOT = os.getcwd()
sys.path.insert(0, ROOT)

from procfs import cpu_seconds, process_tree  # noqa: E402

STREAM_KEYS = {
    "streaming.add_batch_ms": "addBatch",
    "streaming.query_planning_ms": "queryPlanning",
    "streaming.wal_commit_ms": "walCommit",
    "streaming.commit_offsets_ms": "commitOffsets",
    "streaming.latest_offset_ms": "latestOffset",
}


def _epoch(iso: str) -> float:
    return (
        datetime.datetime.strptime(iso, "%Y-%m-%dT%H:%M:%S.%fZ")
        .replace(tzinfo=datetime.timezone.utc)
        .timestamp()
    )


def progress_listener(spark, sink: list):
    """Register a ``StreamingQueryListener`` that appends one dict per
    micro-batch to ``sink``."""
    from pyspark.sql.streaming import StreamingQueryListener

    class Listener(StreamingQueryListener):
        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            p = event.progress
            sink.append(
                {
                    "t": _epoch(p.timestamp),
                    "rows": p.numInputRows,
                    "ms": dict(p.durationMs),
                    "state": [(s.numRowsTotal, s.memoryUsedBytes) for s in p.stateOperators],
                }
            )

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            pass

    spark.streams.addListener(Listener())


class EventLogSwitch:
    """Detaches and re-attaches Spark's event-log listener, so traced and
    untraced passes share one session."""

    def __init__(self, spark):
        sc = spark.sparkContext._jsc.sc()
        self.bus = sc.listenerBus()
        self.logger = sc.eventLogger().get()
        self.on = True

    def set(self, on: bool) -> None:
        if on and not self.on:
            self.bus.addToEventLogQueue(self.logger)
        elif self.on and not on:
            self.bus.removeListener(self.logger)  # drains queued events first
        self.on = on


def tree_cpu_s() -> float:
    """CPU seconds used so far by this process, the JVM and the Python
    workers."""
    return cpu_seconds(process_tree(os.getpid()))


def run_pass(workload, sc, pass_no: int, kind: str, traced: bool) -> dict:
    rec = {"pass": pass_no, "kind": kind, "traced": traced, "steps": []}
    rec["t0"] = time.time()
    c0 = tree_cpu_s()
    p0 = time.perf_counter()
    for label, fn in workload.steps(pass_no):
        if traced:
            sc.setJobGroup(f"traced:{pass_no}:{label}", label)
        s0 = time.perf_counter()
        step = {"label": label, "start_s": s0 - p0}
        try:
            step.update(fn())
        except Exception:  # one failed step must not end the run
            step["error"] = traceback.format_exc(limit=3)
            print(step["error"], file=sys.stderr)
        step["wall_s"] = time.perf_counter() - s0
        rec["steps"].append(step)
    rec["wall_s"] = time.perf_counter() - p0
    rec["t1"] = time.time()
    rec["cpu_s"] = tree_cpu_s() - c0
    if traced:
        sc.setJobGroup("untraced", "")
    return rec


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), required=True)
    ap.add_argument("--work", required=True)
    ap.add_argument("--spawn-time", type=float, required=True)
    ap.add_argument("--result", required=True)
    args = ap.parse_args()
    trace = bool(args.trace)

    from bigdata_hwk_spark.session import get_spark

    import checks
    import workloads

    cores = len(os.sched_getaffinity(0))
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(args.work, "warehouse"),
    }
    log_dir = os.path.join(args.work, "eventlog")
    if trace:
        os.makedirs(log_dir)
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + log_dir,
                "spark.eventLog.compress": "false",  # zstandard is not installed
            }
        )
    g0 = time.perf_counter()
    spark = get_spark(
        app_name=f"perfbench-{args.workload}",
        master=f"local[{cores}]",
        shuffle_partitions=cores,
        extra_conf=conf,
    )
    get_spark_s = time.perf_counter() - g0
    sc = spark.sparkContext
    progress: list[dict] = []
    if args.workload == workloads.STREAM_WORKLOAD:
        progress_listener(spark, progress)
    switch = EventLogSwitch(spark) if trace else None
    if switch:
        switch.set(False)

    rng = random.Random(args.seed)
    wl = workloads.make(args.workload, spark)
    wl.stage(rng, args.work)
    setup_s = time.time() - args.spawn_time

    passes = [run_pass(wl, sc, 0, "cold", False)]
    # The first warm pass still compiles (it runs up to a third slower than
    # the next), so it is recorded as "settle". At least two warm passes
    # follow: end_to_end reads three passes, and a traced run needs a
    # traced and an untraced pass.
    w0 = time.perf_counter()
    passes.append(run_pass(wl, sc, 1, "settle", False))
    n = 1
    while time.perf_counter() - w0 < args.seconds or n < 3:
        n += 1
        traced = trace and n % 2 == 0
        if switch:
            switch.set(traced)
        passes.append(run_pass(wl, sc, n, "warm", traced))
    if switch:
        switch.set(False)

    checker = checks.OracleChecker(ROOT, wl.sf_dir, wl.registry.oracles_for(wl.sf_dir))
    try:
        verdicts = wl.check(checker)
    except Exception:
        verdicts = [("check", traceback.format_exc(limit=3))]
    finally:
        checker.close()
    for label, why in verdicts:
        if why:
            print(f"MISMATCH {label}: {why}", file=sys.stderr)

    if args.workload == workloads.STREAM_WORKLOAD:
        _wait_for_progress(progress, passes[-1], workloads.STREAM_FILES * 3)
    spark.stop()

    errors = sum("error" in s for p in passes for s in p["steps"])
    result = {
        "setup_s": setup_s,
        "get_spark_s": get_spark_s,
        "cores": cores,
        "seed": args.seed,
        "passes": passes,
        "checks": verdicts,
        "attempted": sum(len(p["steps"]) for p in passes) + len(verdicts),
        "failed": errors + sum(1 for _l, why in verdicts if why),
        "metrics": end_to_end(passes),
    }
    if trace:
        import eventlog

        events = list(eventlog.read_events(log_dir))
        result["layers"] = per_layer(passes, progress, events, get_spark_s)
        result["jobs_per_group"] = eventlog.jobs_per_group(events)
    with open(args.result, "w", encoding="utf-8") as fh:
        json.dump(result, fh)
    return 0


def _wait_for_progress(progress: list, last: dict, expected: int) -> None:
    """Progress events reach the listener asynchronously; wait (10 s at
    most) until the last pass's micro-batches have all been reported."""
    deadline = time.time() + 10.0
    while len(_in_pass(progress, last)) < expected and time.time() < deadline:
        time.sleep(0.1)


def _in_pass(progress: list, p: dict) -> list[dict]:
    return [b for b in progress if p["t0"] <= b["t"] <= p["t1"] and b["rows"] > 0]


def _warm(passes: list, traced: bool | None = None) -> list[dict]:
    return [
        p for p in passes
        if p["kind"] == "warm" and (traced is None or p["traced"] == traced)
    ]


def end_to_end(passes: list) -> dict[str, float]:
    """Wall of the cold pass, CPU of the cold pass, and CPU per pass over
    the three passes after it (settling pass and two warm passes): the JIT
    moves CPU between those three, but their sum repeats to a few
    percent, while warm walls follow the box's load."""
    later = passes[1:4]
    return {
        "cold_run_s": passes[0]["wall_s"],
        "cold_cpu_s": passes[0]["cpu_s"],
        "warm_cpu_s": sum(p["cpu_s"] for p in later) / len(later),
    }


def per_layer(passes: list, progress: list, events: list, get_spark_s: float) -> dict:
    import eventlog

    warm = _warm(passes)
    traced = _warm(passes, traced=True)
    untraced = _warm(passes, traced=False)
    out = {"session.get_spark_s": get_spark_s}
    queries = [s for p in warm for s in p["steps"] if "build_s" in s]  # batch steps only
    for key in ("build_s", "materialize_s"):
        out[f"registry.{key}"] = sum(s[key] for s in queries) / len(warm)
    windows = [(p["t0"] * 1e3, p["t1"] * 1e3) for p in traced]
    counters = eventlog.summarize(events, windows)
    for k, v in counters.items():
        out[k] = v if k == "spark.skipped_stage_frac" else v / len(traced)
    batches = [b for p in warm for b in _in_pass(progress, p)]
    out["streaming.batches"] = len(batches) / len(warm)
    out["streaming.input_rows"] = sum(b["rows"] for b in batches) / len(warm)
    for name, key in STREAM_KEYS.items():
        out[name] = sum(b["ms"].get(key, 0) for b in batches) / len(warm)
    state = [s for b in batches for s in b["state"]]
    out["streaming.state_rows"] = max((s[0] for s in state), default=0)
    out["streaming.state_memory_bytes"] = max((s[1] for s in state), default=0)
    t = statistics.median(p["wall_s"] for p in traced)
    u = statistics.median(p["wall_s"] for p in untraced)
    out["trace.overhead_frac"] = t / u - 1.0
    return out


if __name__ == "__main__":
    sys.exit(main())
