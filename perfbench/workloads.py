"""What each workload runs: one pass is a list of labelled steps.

A batch step is ``registry.QUERIES[name](spark, sf_dir)`` (timed as
``build_s``) followed by materializing the result (``materialize_s``):
into a noop sink on warm passes, and, on the cold pass, into pandas
rows that the output check compares after the timed passes. A stream
step replays the staged micro-batch files through one ``streaming/``
runner. The seed fixes the step order of the warm passes and the stream
cut points; the engine only ever sees the staged files. The cold pass
always runs the steps in the listed order: which step meets the cold
JVM first moves every later wall by up to a third.
"""

from __future__ import annotations

import os
import random
import time

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
SF_DIR = os.path.join(BENCH_DIR, "data", "sf0.01")

BATCH_QUERIES = {
    # JVM-only batch layers: a parquet scan with aggregation codegen (HW1
    # grid cells), an ORC sink write and re-read, and a client-side
    # fixpoint loop (the IVM fold, 16 jobs). Nothing is sent to Python
    # workers, so the Python-worker layer is exercised on stream_replay
    # only.
    "scan_fixpoint": [
        "mr_approx_cell_stats",
        "documents_orc_roundtrip",
        "ivm_revenue_by_flag",
    ],
}
STREAM_WORKLOAD = "stream_replay"
WORKLOADS = [*BATCH_QUERIES, STREAM_WORKLOAD]

STREAM_FILES = 2  # micro-batch files per runner and pass
SESSION_SCHEMA = "user_id bigint, ts timestamp, event_id bigint, value double"


class BatchWorkload:
    def __init__(self, spark, name: str, sf_dir: str = SF_DIR):
        from bigdata_hwk_spark import registry

        self.spark = spark
        self.sf_dir = sf_dir
        self.queries = list(BATCH_QUERIES[name])
        self.registry = registry
        self.outputs: dict[str, object] = {}

    def stage(self, rng: random.Random, work_dir: str) -> None:
        self.rng = rng

    def steps(self, pass_no: int):
        order = self.queries[:]
        if pass_no:
            self.rng.shuffle(order)
        return [(q, self._runner(q, keep=pass_no == 0)) for q in order]

    def _runner(self, q: str, keep: bool):
        def run() -> dict[str, float]:
            t0 = time.perf_counter()
            df = self.registry.QUERIES[q](self.spark, self.sf_dir)
            t1 = time.perf_counter()
            if keep:
                self.outputs[q] = df.toPandas()
            else:
                df.write.format("noop").mode("overwrite").save()
            return {"build_s": t1 - t0, "materialize_s": time.perf_counter() - t1}

        return run

    def check(self, checker) -> list[tuple[str, str | None]]:
        return [
            (q, checker.check(q, self.outputs[q]) if q in self.outputs else "no output")
            for q in self.queries
        ]


class StreamWorkload:
    """Closed loop: each runner drains the staged files, one file per
    trigger, before the next runner starts."""

    def __init__(self, spark, sf_dir: str = SF_DIR):
        from bigdata_hwk_spark import registry

        self.spark = spark
        self.sf_dir = sf_dir
        self.registry = registry
        self.outputs: dict[str, object] = {}

    def stage(self, rng: random.Random, work_dir: str) -> None:
        """Cut the (ts, event_id)-ordered events at seeded points into
        ``STREAM_FILES`` time-monotone parquet files, once as raw events
        and once as the derived (seq, item) stream."""
        import pyarrow as pa
        import pyarrow.parquet as pq

        self.rng = rng
        self.work_dir = work_dir
        ev = pq.read_table(os.path.join(self.sf_dir, "events.parquet")).sort_by(
            [("ts", "ascending"), ("event_id", "ascending")]
        )
        self.n_events = ev.num_rows
        cuts = sorted(rng.sample(range(1, ev.num_rows), STREAM_FILES - 1))
        self.bounds = [0, *cuts, ev.num_rows]
        seq_item = pa.table(
            {
                "seq": pa.array(range(ev.num_rows), pa.int64()),
                "item": ev.column("user_id"),
            }
        )
        self.events_dir = self._write(ev, "events")
        self.items_dir = self._write(seq_item, "items")

    def _write(self, table, name: str) -> str:
        import pyarrow.parquet as pq

        d = os.path.join(self.work_dir, "stream", name)
        os.makedirs(d)
        base = time.time() - 3600
        for i, (a, b) in enumerate(zip(self.bounds, self.bounds[1:])):
            p = os.path.join(d, f"part-{i:05d}.parquet")
            pq.write_table(table.slice(a, b - a), p)
            os.utime(p, (base + i, base + i))  # the file source orders by mtime
        return d

    def steps(self, pass_no: int):
        keep = pass_no == 0
        runners = [
            ("frequent_items", lambda: self._frequent_items(keep)),
            ("cdc_merge", lambda: self._cdc_merge(keep)),
            ("sessions", lambda: self._sessions(pass_no, keep)),
        ]
        if pass_no:
            self.rng.shuffle(runners)
        return runners

    def _stream_params(self):
        _n, phi, eps = self.registry.stream_params(self.sf_dir)
        return dict(
            n=self.n_events,
            phi=phi,
            eps=eps,
            delta=self.registry.STREAM_DELTA,
            seed=self.registry.STREAM_SEED,
        )

    def _frequent_items(self, keep: bool) -> dict[str, float]:
        from bigdata_hwk_spark.streaming import frequent_items as FI

        t0 = time.perf_counter()
        report = FI.run_structured_stream(
            self.spark, self.items_dir, **self._stream_params()
        )
        if keep:
            self.outputs["frequent_items"] = report
        return {"materialize_s": time.perf_counter() - t0}

    def _cdc_merge(self, keep: bool) -> dict[str, float]:
        from bigdata_hwk_spark.streaming.cdc_stream import run_cdc_merge_stream

        t0 = time.perf_counter()
        state = run_cdc_merge_stream(self.spark, self.events_dir)
        if keep:
            self.outputs["cdc_merge"] = {tuple(r) for r in state.collect()}
        return {"materialize_s": time.perf_counter() - t0}

    def _sessions(self, pass_no: int, keep: bool) -> dict[str, float]:
        """Sessionize into a noop sink; the cold pass writes to a memory
        sink instead so its output can be checked."""
        from bigdata_hwk_spark.streaming.sessions import sessionize_stream

        t0 = time.perf_counter()
        src = (
            self.spark.readStream.schema(SESSION_SCHEMA)
            .option("maxFilesPerTrigger", 1)
            .parquet(self.events_dir)
        )
        w = sessionize_stream(src).writeStream.outputMode("append")
        w = w.format("memory").queryName("perfbench_sessions") if keep else w.format("noop")
        q = w.option(
            "checkpointLocation",
            os.path.join(self.work_dir, "checkpoints", f"sessions-{pass_no}"),
        ).start()
        try:
            q.processAllAvailable()
        finally:
            q.stop()
        if keep:
            self.outputs["sessions"] = [
                (r.user_id, r.session_start, r.n_events, r.session_value)
                for r in self.spark.table("perfbench_sessions").collect()
            ]
        return {"materialize_s": time.perf_counter() - t0}

    def check(self, checker) -> list[tuple[str, str | None]]:
        """Each runner's cold-pass output against its batch twin."""
        from bigdata_hwk_spark.operators.cdc import log_state
        from bigdata_hwk_spark.sources.tables import load_table, stream_from_events
        from bigdata_hwk_spark.streaming import frequent_items as FI

        from checks import report_mismatch, sessions_mismatch

        if len(self.outputs) < 3:
            return [(k, "no output") for k in ("frequent_items", "cdc_merge", "sessions")
                    if k not in self.outputs]
        want = FI.replay_frequent_items(
            stream_from_events(self.spark, self.sf_dir), **self._stream_params()
        )
        events = load_table(self.spark, self.sf_dir, "events")
        state = {tuple(r) for r in log_state(events).collect()}
        got_state = self.outputs["cdc_merge"]
        batch_sessions = [
            (r.user_id, r.session_id, r.n_events, r.session_value)
            for r in self.registry.QUERIES["user_sessions"](self.spark, self.sf_dir).collect()
        ]
        return [
            ("frequent_items", report_mismatch(self.outputs["frequent_items"], want)),
            ("cdc_merge", None if got_state == state else
             f"{len(got_state ^ state)} rows differ from log_state"),
            ("sessions", sessions_mismatch(self.outputs["sessions"], batch_sessions)),
        ]


def make(name: str, spark):
    if name == STREAM_WORKLOAD:
        return StreamWorkload(spark)
    return BatchWorkload(spark, name)
