"""Slice 4 correctness: streaming frequent items (exact oracle + sketch
properties + Structured Streaming ≡ batch replay)."""

from __future__ import annotations

import random

import pytest
from pyspark.sql import functions as F

from bigdata_hwk_spark import registry
from bigdata_hwk_spark.operators import reconcile as RC
from bigdata_hwk_spark.sources.tables import load_table, stream_from_events
from bigdata_hwk_spark.streaming import frequent_items as FI
from bigdata_hwk_spark.streaming.sources import (
    drain_file_stream,
    write_chunk_files,
)

from .conftest import SF_CORRECT, SF_SMOKE, assert_matches_oracle


@pytest.mark.parametrize("sf_dir", [SF_SMOKE, SF_CORRECT])
def test_true_frequent_matches_oracle(spark, sf_dir):
    assert_matches_oracle(
        registry.QUERIES["stream_true_frequent"](spark, sf_dir),
        registry.ORACLES["stream_true_frequent"],
        sf_dir,
    )


def test_stream_seq_is_a_permutation_after_clear_cache(spark):
    """``clearCache`` (run by bench.py before every query) drops the
    persisted sorted layout; the next call must rebuild it. Ids assigned
    over an unpersisted range-partitioned layout resample its bounds per
    evaluation and collide. SF_CORRECT, because SF_SMOKE's 1,000 rows do
    not reproduce the collision."""
    stream_from_events(spark, SF_CORRECT)
    spark.catalog.clearCache()
    stream = stream_from_events(spark, SF_CORRECT)
    row = stream.agg(
        F.count("seq").alias("n"),
        F.countDistinct("seq").alias("distinct"),
        F.max("seq").alias("hi"),
    ).first()
    assert (row.n, row.distinct, row.hi) == (10_000, 10_000, 9_999)


def test_replay_deterministic_and_exact_section(spark):
    stream = stream_from_events(spark, SF_SMOKE)
    r1 = FI.replay_frequent_items(stream, n=500, phi=0.02, eps=0.01, delta=0.1)
    r2 = FI.replay_frequent_items(stream, n=500, phi=0.02, eps=0.01, delta=0.1)
    assert r1 == r2  # same seed → identical report
    # exact section agrees with the declarative query
    declarative = {
        r.item: r.cnt
        for r in FI.true_frequent_items(stream, 500, 0.02).collect()
    }
    assert set(r1.true_frequent) == set(declarative)
    assert sum(r1.histogram.values()) == 500


def test_reservoir_full_coverage_when_m_ge_n():
    res = FI.ReservoirSample(m=100, seed=1)
    res.add_batch(range(50))
    assert res.sample == list(range(50))


def test_reservoir_uniformity():
    """Inclusion probability of each item ≈ m/n over many seeded runs."""
    n, m, runs = 100, 10, 300
    hits = [0] * n
    for s in range(runs):
        res = FI.ReservoirSample(m=m, seed=s)
        res.add_batch(range(n))
        for it in set(res.sample):
            hits[it] += 1
    expected = runs * m / n  # 30
    assert all(10 <= h <= 60 for h in hits), hits


def test_sticky_recall_and_undercount(spark):
    """ε/δ guarantee: every true frequent item is reported w.h.p. (fixed
    seed → deterministic); sticky counts never exceed true counts."""
    stream = stream_from_events(spark, SF_SMOKE)
    rep = FI.replay_frequent_items(
        stream, n=1000, phi=0.05, eps=0.02, delta=0.1, seed=7
    )
    assert set(rep.true_frequent) <= set(rep.sticky_estimate)
    # estimates only undercount (admission delay), never overcount
    sticky = FI.StickySampling(n=1000, phi=0.05, eps=0.02, delta=0.1, seed=7)
    items = [r.item for r in stream.orderBy("seq").limit(1000).collect()]
    sticky.add_batch(items)
    exact = {}
    for it in items:
        exact[it] = exact.get(it, 0) + 1
    assert all(c <= exact[k] for k, c in sticky.counts.items())


def test_first_n_cutoff(spark):
    stream = stream_from_events(spark, SF_SMOKE)
    rep = FI.replay_frequent_items(stream, n=550, phi=0.02, eps=0.01, delta=0.1)
    assert sum(rep.histogram.values()) == 550


def test_structured_stream_equals_batch_replay(spark, tmp_path):
    """The foreachBatch Structured Streaming driver must produce the exact
    same report as the batch-replay harness when micro-batch boundaries
    coincide (one file per 100-row chunk)."""
    stream = stream_from_events(spark, SF_SMOKE)
    flat = str(tmp_path / "flat")
    assert write_chunk_files(
        stream.filter(F.col("seq") < 1000), flat, F.floor(F.col("seq") / 100)
    ) == 10

    got = FI.run_structured_stream(
        spark, flat, n=950, phi=0.02, eps=0.01, delta=0.1, seed=9
    )
    want = FI.replay_frequent_items(
        stream, n=950, phi=0.02, eps=0.01, delta=0.1, batch_size=100, seed=9
    )
    assert got == want


def test_distributed_sticky_stream_equals_batch_twin(spark, tmp_path):
    """The foreachBatch deployment of the distributed sticky sampler —
    state lives in a cogrouped-applyInPandas DataFrame, never the driver —
    must produce the exact item set of the batch mapInPandas twin: each
    group consumes the same seq-ordered items with the same seeded RNG,
    so admissions are bit-equal regardless of micro-batch boundaries."""
    stream = stream_from_events(spark, SF_SMOKE)
    n, phi, eps, delta, L = 900, 0.02, 0.01, 0.1, 4
    flat = str(tmp_path / "sticky_flat")
    write_chunk_files(stream, flat, F.floor(F.col("seq") / 150))

    got = FI.run_distributed_sticky_stream(
        spark, flat, n=n, phi=phi, eps=eps, delta=delta,
        num_partitions=L, seed=5,
    )
    want = sorted(
        r.item
        for r in FI.distributed_sticky_sampling(
            stream, n=n, phi=phi, eps=eps, delta=delta,
            num_partitions=L, seed=5,
        ).collect()
    )
    assert got == want and len(got) > 0


@pytest.fixture(scope="module")
def three_files(spark, tmp_path_factory):
    """(stream, dir): 90 (seq, item) rows, a third of them item 0, written
    as three 30-row micro-batch files."""
    stream = spark.range(90).select(
        F.col("id").alias("seq"),
        F.when(F.col("id") % 3 == 0, 0).otherwise(F.col("id") % 13).alias("item"),
    )
    flat = str(tmp_path_factory.mktemp("three_files"))
    assert write_chunk_files(stream, flat, F.floor(F.col("seq") / 30)) == 3
    return stream, flat


def test_stream_runners_equal_batch_twins_fast(spark, three_files):
    """The default-gate companion of the three slowgate twin pins: over
    three small files at L = 2, each stream runner equals its batch twin.
    The cutoff n = 50 falls inside the second file, so the third file
    arrives after it and must change nothing. The sticky rate does not
    saturate, so admissions really draw."""
    stream, flat = three_files
    n, phi, eps, delta, L = 50, 0.2, 0.15, 0.9, 2
    assert FI.sticky_admission_rate(n, phi, eps, delta, L) < n

    got = FI.run_structured_stream(spark, flat, n, phi, eps, delta, seed=3)
    want = FI.replay_frequent_items(
        stream, n, phi, eps, delta, batch_size=30, seed=3
    )
    assert got == want and got.batches == 2

    got = FI.run_distributed_sticky_stream(
        spark, flat, n, phi, eps, delta, num_partitions=L, seed=3
    )
    want = sorted(
        r.item
        for r in FI.distributed_sticky_sampling(
            stream, n, phi, eps, delta, num_partitions=L, seed=3
        ).collect()
    )
    assert got == want and 0 in got

    got = FI.run_distributed_reservoir_stream(
        spark, flat, m=5, n=n, num_reservoirs=L, seed=3
    )
    want = FI.distributed_reservoir_sample(
        stream, m=5, n=n, num_reservoirs=L, seed=3
    )
    assert got == want and want[1] == n


def test_file_runner_raises_when_the_stream_ends_before_n(spark, three_files):
    """90 items cannot answer for the first 91: thresholds φ·n and
    (φ−ε)·n over fewer items would be silently wrong, so the file runner
    raises instead of reporting, and the source-agnostic runner, which
    cannot tell a drained source from a slow one, times out."""
    from bigdata_hwk_spark.streaming.sources import file_item_stream

    _, flat = three_files
    with pytest.raises(RuntimeError, match="after 90 items, before the first n = 91"):
        FI.run_structured_stream(spark, flat, 91, 0.2, 0.15, 0.9)
    with pytest.raises(TimeoutError, match="before the first n = 91"):
        FI.run_sketches_on_stream(
            file_item_stream(spark, flat), 91, 0.2, 0.15, 0.9,
            order_col="seq", timeout_s=1.5,
        )


def test_report_lines_shape(spark):
    rep = FI.replay_frequent_items(
        stream_from_events(spark, SF_SMOKE), n=300, phi=0.05, eps=0.02, delta=0.1
    )
    lines = rep.report_lines()
    assert any(line.startswith("Number of items in the data structure") for line in lines)
    assert "EXACT ALGORITHM" in lines and "STICKY SAMPLING" in lines


# ---------------------------------------------------------------------------
# Socket source (reference S3), declarative streaming histogram, windowed aggs
# ---------------------------------------------------------------------------


def test_socket_source_sketches_equal_replay(spark):
    """Feed ints over a real TCP socket (the reference's source shape,
    HWK_3/G029HW3.py:103) and check the sketch report equals the batch
    replay of the same item sequence in one batch-boundary-free run."""
    import socket
    import threading

    items = [random.Random(7).randrange(50) for _ in range(400)]

    srv = socket.socket(socket.AF_INET, socket.SOCK_STREAM)
    srv.setsockopt(socket.SOL_SOCKET, socket.SO_REUSEADDR, 1)
    srv.bind(("127.0.0.1", 0))
    srv.listen(1)
    port = srv.getsockname()[1]
    stop = threading.Event()

    def serve():
        conn, _ = srv.accept()
        with conn:
            conn.sendall("".join(f"{i}\n" for i in items).encode())
            stop.wait(30)  # keep the connection open until the query stops

    t = threading.Thread(target=serve, daemon=True)
    t.start()
    try:
        from bigdata_hwk_spark.streaming.sources import socket_item_stream

        got = FI.run_sketches_on_stream(
            socket_item_stream(spark, "127.0.0.1", port),
            n=400, phi=0.05, eps=0.02, delta=0.1, seed=3, timeout_s=30,
        )
    finally:
        stop.set()
        srv.close()
    want_state = FI._SketchState(n=400, phi=0.05, eps=0.02, delta=0.1, seed=3)
    want_state.add_batch(items)
    want = want_state.report()
    # micro-batch boundaries differ between runs, so compare everything
    # batch-boundary-invariant: the exact section is invariant outright;
    # the RNG sketches are only checked when the stream arrived in one
    # batch (boundaries change RNG call sequence).
    assert got.distinct_items == want.distinct_items
    assert got.true_frequent == want.true_frequent
    assert sum(1 for _ in got.reservoir_estimate) <= 20  # m = ceil(1/phi)
    if got.batches == 1:
        assert got == want


def test_streaming_exact_histogram_matches_batch(spark, tmp_path):
    """Declarative groupBy(item).count() streaming query (complete mode,
    memory sink) must equal the batch histogram of the same data."""
    from bigdata_hwk_spark.streaming.sources import file_item_stream
    from bigdata_hwk_spark.streaming.windowed import streaming_exact_histogram

    stream = stream_from_events(spark, SF_SMOKE)
    src = tmp_path / "hist_src"
    src.mkdir()
    stream.coalesce(1).write.mode("overwrite").parquet(str(src / "all"))

    q = (
        streaming_exact_histogram(file_item_stream(spark, str(src / "all")))
        .writeStream.outputMode("complete")
        .format("memory")
        .queryName("t_hist")
        .start()
    )
    try:
        q.processAllAvailable()
        got = {r.item: r.cnt for r in spark.table("t_hist").collect()}
    finally:
        q.stop()
    want = {r.item: r.cnt for r in
            stream.groupBy("item").count().withColumnRenamed("count", "cnt").collect()}
    assert got == want


def test_windowed_event_counts_oracle_batch(spark):
    from bigdata_hwk_spark import registry

    assert_matches_oracle(
        registry.QUERIES["windowed_event_counts"](spark, SF_CORRECT),
        registry.ORACLES["windowed_event_counts"],
        SF_CORRECT,
        float_round=6,
    )


def test_windowed_streaming_append_subset_of_batch(spark, tmp_path):
    """Streaming (append mode + watermark) over file-replayed events must
    emit exactly the batch result for every window the watermark closed,
    and nothing else."""
    from bigdata_hwk_spark.sources.tables import load_table
    from bigdata_hwk_spark.streaming.windowed import windowed_event_counts

    events = load_table(spark, SF_SMOKE, "events")
    src = tmp_path / "ev_src"
    src.mkdir()
    # two chunks split by time: watermark from chunk 2 closes chunk 1's windows
    ordered = events.orderBy("ts").collect()
    mid = len(ordered) // 2
    schema = "ts timestamp, event_type string, value double"
    for name, chunk in (("a", ordered[:mid]), ("b", ordered[mid:])):
        spark.createDataFrame(
            [(r.ts, r.event_type, r.value) for r in chunk], schema
        ).coalesce(1).write.mode("overwrite").parquet(str(src / name))

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src) + "/*")
    )
    q = (
        windowed_event_counts(stream)
        .writeStream.outputMode("append")
        .format("memory")
        .queryName("t_win")
        .start()
    )
    try:
        q.processAllAvailable()
        got = {
            (r.win_start, r.event_type): (r.n_events, r.total_value)
            for r in spark.table("t_win").collect()
        }
    finally:
        q.stop()
    want = {
        (r.win_start, r.event_type): (r.n_events, r.total_value)
        for r in windowed_event_counts(events).collect()
    }
    assert set(got) <= set(want)
    for k, v in got.items():
        assert v == want[k]
    # the watermark must have closed at least the earliest window
    if got:
        assert min(w for w, _ in got) == min(w for w, _ in want)


def test_points_csv_source(spark, tmp_path):
    """Schema-first CSV scan + file-order point ids (reference S1/S2)."""
    from bigdata_hwk_spark.sources.points_csv import (
        parse_points_text,
        read_points_csv,
    )

    csv = tmp_path / "pts.csv"
    csv.write_text("0.4,0.9\n1.5, 2.5\n-3.25,4.0\n")
    df = read_points_csv(spark, str(csv))
    rows = sorted((r.point_id, r.x, r.y) for r in df.collect())
    assert rows == [(0, 0.4, 0.9), (1, 1.5, 2.5), (2, -3.25, 4.0)]
    assert df.schema.simpleString() == "struct<point_id:bigint,x:double,y:double>"

    lines = spark.createDataFrame([("7.5,8.5",), (" 1.0 , 2.0 ",)], "value string")
    parsed = sorted((r.x, r.y) for r in parse_points_text(lines).collect())
    assert parsed == [(1.0, 2.0), (7.5, 8.5)]


def test_stateful_sessionization_matches_batch_closed_sessions(spark, tmp_path):
    """applyInPandasWithState sessionization over a chunked event replay
    must emit exactly the batch sessions that were closed by a later event
    (every session except each user's last)."""
    from bigdata_hwk_spark.sources.tables import load_table
    from bigdata_hwk_spark.streaming.sessions import sessionize_stream

    events = load_table(spark, SF_SMOKE, "events").select(
        "user_id", "ts", "event_id", "value"
    )
    ordered = events.orderBy("ts", "event_id").collect()
    schema = "user_id bigint, ts timestamp, event_id bigint, value double"
    src = tmp_path / "sess_src"
    src.mkdir()
    third = len(ordered) // 3
    for name, chunk in (
        ("a", ordered[:third]),
        ("b", ordered[third : 2 * third]),
        ("c", ordered[2 * third :]),
    ):
        spark.createDataFrame(
            [(r.user_id, r.ts, r.event_id, r.value) for r in chunk], schema
        ).coalesce(1).write.mode("overwrite").parquet(str(src / name))

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src) + "/*")
    )
    q = (
        sessionize_stream(stream)
        .writeStream.outputMode("append")
        .format("memory")
        .queryName("t_sess")
        .start()
    )
    try:
        q.processAllAvailable()
        got = {
            (r.user_id, r.session_start, r.session_end, r.n_events, r.session_value)
            for r in spark.table("t_sess").collect()
        }
    finally:
        q.stop()

    # independent expected model: per-user linear scan with the same gap rule
    from collections import defaultdict

    by_user = defaultdict(list)
    for r in ordered:
        by_user[r.user_id].append((r.ts, r.value))
    want = set()
    gap_s = 30 * 60
    for uid, evs in by_user.items():
        sessions = []
        start = last = None
        n, val = 0, 0.0
        for ts, v in evs:
            if last is not None and (ts - last).total_seconds() > gap_s:
                sessions.append((uid, start, last, n, round(val, 2)))
                start, n, val = None, 0, 0.0
            if start is None:
                start = ts
            last = ts
            n += 1
            val += v
        # drop the final (still-open) session — the stream never closes it
        want.update(sessions)
    assert got == want
    assert len(got) > 0


def test_golden_report_byte_stable(spark):
    """Frozen golden output (format + values): the full HW3-shaped report
    on the deterministic sf0.001 stream must reproduce byte-for-byte
    (mirrors the reference's output_examples acceptance artifacts,
    SURVEY.md §5.2)."""
    import pathlib

    rep = FI.replay_frequent_items(
        stream_from_events(spark, SF_SMOKE),
        n=800, phi=0.02, eps=0.01, delta=0.1, batch_size=100, seed=29,
    )
    got = "\n".join(rep.report_lines()) + "\n"
    want = (pathlib.Path(__file__).parent / "data_golden_report.txt").read_text()
    assert got == want


def test_stream_seq_assignment_is_distributed_and_dense(spark):
    """The seq assignment must never plan an unpartitioned window (a
    single task holding the whole table at scale): no Window operator and
    no single-partition Exchange anywhere in the physical plan, while seq
    stays dense [0, N) — the contract the prefix-cutoff sketches rely on."""
    from pyspark.sql import functions as F

    stream = stream_from_events(spark, SF_SMOKE)
    plan = stream._jdf.queryExecution().executedPlan().toString()
    assert "Window" not in plan, plan
    assert "SinglePartition" not in plan, plan
    n, n_seq, lo, hi = stream.agg(
        F.count(F.lit(1)),
        F.countDistinct("seq"),
        F.min("seq"),
        F.max("seq"),
    ).first()
    assert (n_seq, lo, hi) == (n, 0, n - 1)


def test_stream_oracle_derived_from_stream_params():
    """The registered oracle SQL must embed the exact (n, φ) the engine
    computes at the correctness-gate SF — a driver SF change can then
    never silently decouple the query/oracle pair (round-2 ADVICE)."""
    n, phi, _ = registry.stream_params(registry.CORRECTNESS_GATE_SF_DIR)
    sql = registry.ORACLES["stream_true_frequent"]
    assert f"seq < {n}" in sql
    assert f"{phi!r} * {n}" in sql
    assert registry.stream_true_freq_sql(registry.CORRECTNESS_GATE_SF_DIR) == sql


def test_streaming_dedup_across_microbatches(spark, tmp_path):
    """dropDuplicatesWithinWatermark over a file stream replayed one file
    per micro-batch: re-delivered events (same event_id in a later batch)
    must be dropped; every distinct key is emitted exactly once."""
    from bigdata_hwk_spark.sources.tables import load_table
    from bigdata_hwk_spark.streaming.windowed import dedup_stream

    from pyspark.sql import functions as F

    ev = load_table(spark, SF_SMOKE, "events").select("event_id", "ts").limit(200)
    src = tmp_path / "dedup_src"
    src.mkdir()
    # batch 1: all 200; batch 2: a re-delivered overlapping half. The
    # file source doesn't recurse, so flatten each write's part file
    # into src/ under a stable name (lexicographic = delivery order).
    import shutil

    for name, df in [
        ("b1.parquet", ev),
        ("b2.parquet", ev.filter(F.col("event_id") % 2 == 0)),
    ]:
        staged = tmp_path / ("stage_" + name)
        df.coalesce(1).write.parquet(str(staged))
        part = next(staged.glob("part-*.parquet"))
        shutil.move(str(part), str(src / name))
    stream = (
        spark.readStream.schema("event_id bigint, ts timestamp")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
    )
    q = (
        dedup_stream(stream, keys=("event_id",))
        .select("event_id")
        .writeStream.outputMode("append")
        .format("memory")
        .queryName("t_dedup")
        .start()
    )
    try:
        q.processAllAvailable()
        assert q.lastProgress is None or len(q.recentProgress) >= 2
        got = [r.event_id for r in spark.table("t_dedup").collect()]
    finally:
        q.stop()
    want = {r.event_id for r in ev.collect()}
    assert len(got) == len(set(got)), "duplicate keys emitted"
    assert set(got) == want


def test_stream_stream_attribution_matches_batch(spark, tmp_path):
    """A real two-stream watermarked interval join (file-replayed views and
    clicks, chunked so watermarks advance) must emit exactly the batch
    join of the same data — inner stream-stream joins emit every match."""
    from bigdata_hwk_spark.sources.tables import load_table
    from bigdata_hwk_spark.streaming.windowed import stream_stream_attribution

    events = load_table(spark, SF_SMOKE, "events")
    schema = "event_id bigint, user_id bigint, ts timestamp"
    srcs = {}
    for et in ("view", "click"):
        rows = (
            events.filter(F.col("event_type") == et)
            .select("event_id", "user_id", "ts")
            .orderBy("ts")
            .collect()
        )
        d = tmp_path / f"{et}_src"
        d.mkdir()
        mid = len(rows) // 2
        for name, chunk in (("a", rows[:mid]), ("b", rows[mid:])):
            spark.createDataFrame(
                [(r.event_id, r.user_id, r.ts) for r in chunk], schema
            ).coalesce(1).write.mode("overwrite").parquet(str(d / name))
        srcs[et] = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(str(d) + "/*")
        )

    q = (
        stream_stream_attribution(srcs["view"], srcs["click"])
        .writeStream.outputMode("append")
        .format("memory")
        .queryName("t_attr")
        .start()
    )
    try:
        q.processAllAvailable()
        got = {
            (r.user_id, r.view_id, r.click_id) for r in spark.table("t_attr").collect()
        }
    finally:
        q.stop()

    views = events.filter(F.col("event_type") == "view")
    clicks = events.filter(F.col("event_type") == "click")
    want = {
        (r.user_id, r.view_id, r.click_id)
        for r in stream_stream_attribution(views, clicks).collect()
    }
    assert got == want
    assert want  # fixture must actually produce attributed pairs


def test_stream_stream_attribution_state_is_bounded(spark):
    """The STREAMING plan must carry event-time watermarks on both inputs
    and the time-range join condition (what Spark uses to evict join
    state); a join without them would keep both streams forever. Batch
    plans elide withWatermark, so this must check a streaming plan."""
    from bigdata_hwk_spark.streaming.windowed import stream_stream_attribution

    def rate_events(rows_per_sec):
        r = spark.readStream.format("rate").option(
            "rowsPerSecond", rows_per_sec
        ).load()
        return r.select(
            F.col("value").alias("event_id"),
            (F.col("value") % 5).alias("user_id"),
            F.col("timestamp").alias("ts"),
        )

    joined = stream_stream_attribution(rate_events(10), rate_events(7))
    assert joined.isStreaming
    plan = joined._jdf.queryExecution().analyzed().toString()
    assert plan.count("EventTimeWatermark") == 2
    assert "click_ts" in plan and "view_ts" in plan


# ---------------------------------------------------------------------------
# Distributed reservoir (scalable twin of ReservoirSample)
# ---------------------------------------------------------------------------


def _synthetic_stream(spark, n):
    return spark.range(n).select(F.col("id").alias("seq"), F.col("id").alias("item"))


def test_distributed_reservoir_l1_equals_sequential(spark):
    """L=1 must reproduce the sequential reservoir's RNG stream exactly —
    same contract as sequential_fft's L=1 equivalence."""
    n, m = 5000, 50
    dist, total = FI.distributed_reservoir_sample(
        _synthetic_stream(spark, n), m=m, num_reservoirs=1, seed=42
    )
    seq = FI.ReservoirSample(m=m, seed=42)
    seq.add_batch(range(n))
    assert total == n
    assert dist == seq.sample  # exact list equality incl. eviction slots


def test_distributed_reservoir_uniformity_chi2(spark):
    """One seeded draw of 500 from 100k, chi-square over 20 equal id
    buckets: uniform sampling keeps the statistic under the p=0.001
    critical value (43.8 at 19 dof). Deterministic seed, no flake."""
    n, m, L = 100_000, 500, 8
    sample, total = FI.distributed_reservoir_sample(
        _synthetic_stream(spark, n), m=m, num_reservoirs=L, seed=42
    )
    assert total == n and len(sample) == m
    assert len(set(sample)) == m  # without replacement: stream items unique
    buckets = [0] * 20
    for it in sample:
        buckets[it // 5000] += 1
    exp = m / 20
    chi2 = sum((b - exp) ** 2 / exp for b in buckets)
    assert chi2 < 43.8, (chi2, buckets)


def test_distributed_reservoir_small_population(spark):
    """n < m: every item is kept, across all partial reservoirs."""
    sample, total = FI.distributed_reservoir_sample(
        _synthetic_stream(spark, 30), m=100, num_reservoirs=4, seed=3
    )
    assert total == 30
    assert sorted(sample) == list(range(30))


def test_distributed_reservoir_first_n_and_determinism(spark):
    stream = stream_from_events(spark, SF_SMOKE)
    s1, t1 = FI.distributed_reservoir_sample(
        stream, m=20, n=400, num_reservoirs=4, seed=9
    )
    s2, t2 = FI.distributed_reservoir_sample(
        stream, m=20, n=400, num_reservoirs=4, seed=9
    )
    assert (s1, t1) == (s2, t2)  # deterministic across runs
    assert t1 == 400 and len(s1) == 20


def test_windowed_hll_registers_streaming_equals_batch(spark, tmp_path):
    """The streaming windowed HLL register table (append mode + watermark,
    file-replayed chunks) must emit exactly the batch twin's registers for
    every closed window — the mergeable-sketch-as-stream-output contract.
    Also: registers must stay within the 2^p-per-window bound, and
    merging the per-window registers (groupBy(bucket).max) must equal the
    whole-table sketch — window rollup needs registers only."""
    from bigdata_hwk_spark.operators import sketches as SK
    from bigdata_hwk_spark.sources.tables import load_table
    from bigdata_hwk_spark.streaming.windowed import windowed_hll_registers

    events = load_table(spark, SF_SMOKE, "events")
    src = tmp_path / "hll_src"
    src.mkdir()
    ordered = events.orderBy("ts").collect()
    mid = len(ordered) // 2
    schema = "ts timestamp, user_id bigint"
    for name, chunk in (("a", ordered[:mid]), ("b", ordered[mid:])):
        spark.createDataFrame(
            [(r.ts, r.user_id) for r in chunk], schema
        ).coalesce(1).write.mode("overwrite").parquet(str(src / name))

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src) + "/*")
    )
    q = (
        windowed_hll_registers(stream)
        .writeStream.outputMode("append")
        .format("memory")
        .queryName("t_hll_win")
        .start()
    )
    try:
        q.processAllAvailable()
        got = {
            (r.win_start, r.bucket): r.max_rho
            for r in spark.table("t_hll_win").collect()
        }
    finally:
        q.stop()
    want = {
        (r.win_start, r.bucket): r.max_rho
        for r in windowed_hll_registers(events).collect()
    }
    assert got  # the watermark closed at least one window
    assert set(got) <= set(want)
    for k, v in got.items():
        assert v == want[k]

    # per-window register count bounded by 2^p
    per_window = {}
    for (w, _b), _ in want.items():
        per_window[w] = per_window.get(w, 0) + 1
    assert max(per_window.values()) <= 1 << SK.HLL_P

    # merging per-window registers == whole-table registers
    rolled = {}
    for (_w, b), rho in want.items():
        rolled[b] = max(rolled.get(b, 0), rho)
    whole = {
        r.bucket: r.max_rho
        for r in SK.hll_registers(
            events.select(F.col("user_id").alias("item"))
        ).collect()
    }
    assert rolled == whole


def test_reservoir_merge_inclusion_proportional_to_population():
    """The hypergeometric merge must include items proportionally to the
    source populations, not the partial-sample sizes: merging a reservoir
    over 9000 items with one over 1000 (both sampled to m=100) must draw
    ~90% of merged slots from the big side. Pure-python, 2000 seeded
    merges; binomial 3σ band."""
    import random as _random

    m = 100
    big_share = 0
    for seed in range(2000):
        rng = _random.Random(seed)
        merged, total = FI._merge_two_reservoirs(
            (["big"] * m, 9000), (["small"] * m, 1000), m, rng
        )
        assert total == 10_000 and len(merged) == m
        big_share += sum(1 for x in merged if x == "big")
    frac = big_share / (2000 * m)
    # E=0.9; 3σ of the per-run mean over 2000·100 draws is ≈ 0.002, use a
    # loose 0.01 band (draws within a run are dependent via the
    # without-replacement walk)
    assert abs(frac - 0.9) < 0.01, frac


def test_windowed_histogram_streaming_equals_batch(spark, tmp_path):
    """Streaming per-window histogram bins (append + watermark, file
    replay) must equal the batch twin for closed windows, and summing the
    per-window bins must equal the whole-table histogram sketch (window
    rollup from bins alone)."""
    from bigdata_hwk_spark.operators import sketches as SK
    from bigdata_hwk_spark.sources.tables import load_table
    from bigdata_hwk_spark.streaming.windowed import windowed_histogram

    events = load_table(spark, SF_SMOKE, "events")
    src = tmp_path / "hist_src"
    src.mkdir()
    ordered = events.orderBy("ts").collect()
    mid = len(ordered) // 2
    schema = "ts timestamp, value double"
    for name, chunk in (("a", ordered[:mid]), ("b", ordered[mid:])):
        spark.createDataFrame(
            [(r.ts, r.value) for r in chunk], schema
        ).coalesce(1).write.mode("overwrite").parquet(str(src / name))

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src) + "/*")
    )
    q = (
        windowed_histogram(stream)
        .writeStream.outputMode("append")
        .format("memory")
        .queryName("t_hist_win")
        .start()
    )
    try:
        q.processAllAvailable()
        got = {
            (r.win_start, r.bin): r.cnt
            for r in spark.table("t_hist_win").collect()
        }
    finally:
        q.stop()
    want = {
        (r.win_start, r.bin): r.cnt
        for r in windowed_histogram(events).collect()
    }
    assert got and set(got) <= set(want)
    for k, v in got.items():
        assert v == want[k]

    rolled = {}
    for (_w, b), cnt in want.items():
        rolled[b] = rolled.get(b, 0) + cnt
    whole = {r.bin: r.cnt for r in SK.histogram_sketch(events).collect()}
    assert rolled == whole


def test_merge_two_reservoirs_invariants_hypothesis():
    """Property-based pin on the hypergeometric merge: for ANY population
    sizes and capacity, the merged sample has exactly min(m, na+nb)
    items, draws only from the partial samples, never takes more from a
    side than that side's sample holds, and is deterministic per seed."""
    import random as _random

    from hypothesis import given, settings
    from hypothesis import strategies as st

    @settings(max_examples=300, deadline=None)
    @given(
        na=st.integers(1, 400),
        nb=st.integers(1, 400),
        m=st.integers(1, 120),
        seed=st.integers(0, 2**31),
    )
    def check(na, nb, m, seed):
        sa = [("a", i) for i in range(min(m, na))]
        sb = [("b", i) for i in range(min(m, nb))]
        merged, total = FI._merge_two_reservoirs(
            (list(sa), na), (list(sb), nb), m, _random.Random(seed)
        )
        assert total == na + nb
        assert len(merged) == min(m, na + nb)
        assert len(set(merged)) == len(merged)  # no slot drawn twice
        assert set(merged) <= set(sa) | set(sb)
        n_from_a = sum(1 for x in merged if x[0] == "a")
        assert n_from_a <= len(sa) and len(merged) - n_from_a <= len(sb)
        again, _ = FI._merge_two_reservoirs(
            (list(sa), na), (list(sb), nb), m, _random.Random(seed)
        )
        assert again == merged  # deterministic per seed

    check()


def test_windowed_cms_streaming_equals_batch_and_probes(spark, tmp_path):
    """Streaming per-window CMS cells (append + watermark, file replay)
    must equal the batch twin for closed windows, and probing the summed
    cells (min over d rows) must upper-bound every item's true count —
    the CM guarantee holds through the windowed/merged state."""
    from bigdata_hwk_spark.operators import sketches as SK
    from bigdata_hwk_spark.sources.tables import load_table
    from bigdata_hwk_spark.streaming.windowed import windowed_cms

    events = load_table(spark, SF_SMOKE, "events")
    src = tmp_path / "cms_src"
    src.mkdir()
    ordered = events.orderBy("ts").collect()
    mid = len(ordered) // 2
    schema = "ts timestamp, user_id bigint"
    for name, chunk in (("a", ordered[:mid]), ("b", ordered[mid:])):
        spark.createDataFrame(
            [(r.ts, r.user_id) for r in chunk], schema
        ).coalesce(1).write.mode("overwrite").parquet(str(src / name))

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src) + "/*")
    )
    q = (
        windowed_cms(stream)
        .writeStream.outputMode("append")
        .format("memory")
        .queryName("t_cms_win")
        .start()
    )
    try:
        q.processAllAvailable()
        got = {
            (r.win_start, r.r, r.b): r.cnt
            for r in spark.table("t_cms_win").collect()
        }
    finally:
        q.stop()
    want = {
        (r.win_start, r.r, r.b): r.cnt for r in windowed_cms(events).collect()
    }
    assert got and set(got) <= set(want)
    for k, v in got.items():
        assert v == want[k]

    # merge windows -> whole-table sketch; probe upper-bounds true counts
    rolled = {}
    for (_ws, r, b), cnt in want.items():
        rolled[(r, b)] = rolled.get((r, b), 0) + cnt
    whole = {
        (r.r, r.b): r.cnt
        for r in SK.cms_sketch(
            events.select(F.col("user_id").alias("item"))
        ).collect()
    }
    assert rolled == whole
    truth = {
        r.user_id: r.cnt
        for r in events.groupBy("user_id").agg(F.count("*").alias("cnt")).collect()
    }
    import hashlib

    def h64(s):
        return int(hashlib.md5(s.encode()).hexdigest()[:15], 16)

    for uid, true_cnt in list(truth.items())[:50]:
        est = min(
            rolled.get((r, h64(f"cms{r}:{uid}") % SK.CMS_W), 0)
            for r in range(SK.CMS_D)
        )
        assert est >= true_cnt


def test_stream_static_enrichment_streaming_equals_batch(spark, tmp_path):
    """Stream-static broadcast enrichment (append mode + watermark,
    file-replayed fact chunks against the static customer dim) must emit
    exactly the batch twin's rows for every closed window, and the batch
    plan must broadcast the dim (no shuffle of the fact side)."""
    from bigdata_hwk_spark.sources.tables import load_table
    from bigdata_hwk_spark.streaming.windowed import stream_static_enrichment

    events = load_table(spark, SF_SMOKE, "events")
    customers = load_table(spark, SF_SMOKE, "customer")

    # batch plan shape: dim side broadcast, fact side never shuffled for
    # the join (the only exchange is the windowed aggregation's)
    plan = stream_static_enrichment(events, customers)._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan

    src = tmp_path / "seg_src"
    src.mkdir()
    ordered = events.orderBy("ts").collect()
    mid = len(ordered) // 2
    schema = "ts timestamp, user_id bigint, value double"
    for name, chunk in (("a", ordered[:mid]), ("b", ordered[mid:])):
        spark.createDataFrame(
            [(r.ts, r.user_id, r.value) for r in chunk], schema
        ).coalesce(1).write.mode("overwrite").parquet(str(src / name))

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src) + "/*")
    )
    q = (
        stream_static_enrichment(stream, customers)
        .writeStream.outputMode("append")
        .format("memory")
        .queryName("t_seg_win")
        .start()
    )
    try:
        q.processAllAvailable()
        got = {
            (r.win_start, r.mktsegment): (r.n_events, r.total_value)
            for r in spark.table("t_seg_win").collect()
        }
    finally:
        q.stop()
    want = {
        (r.win_start, r.mktsegment): (r.n_events, r.total_value)
        for r in stream_static_enrichment(events, customers).collect()
    }
    assert got  # the watermark closed at least one window
    assert set(got) <= set(want)
    for k, (n, v) in got.items():
        wn, wv = want[k]
        assert n == wn
        # micro-batch state folds partial double sums in arrival order;
        # the rounded values may differ by one ulp-at-the-6th-decimal
        assert abs(v - wv) <= 2e-6


def test_available_now_incremental_batch_exactly_once(spark, tmp_path):
    """The incremental-ETL pattern a 100 TB ingest actually runs: a
    trigger(availableNow=True) job drains whatever landed since the last
    run and STOPS; the checkpoint makes re-runs incremental and the file
    sink exactly-once. Two runs over a growing source directory must
    produce every input row exactly once — run 2 must not reprocess run
    1's chunk."""
    from bigdata_hwk_spark.sources.tables import load_table

    events = load_table(spark, SF_SMOKE, "events")
    rows = events.select("event_id", "user_id").orderBy("event_id").collect()
    mid = len(rows) // 2
    src = tmp_path / "inc_src"
    src.mkdir()
    out = str(tmp_path / "inc_out")
    ckpt = str(tmp_path / "inc_ckpt")
    schema = "event_id bigint, user_id bigint"

    def land(name, chunk):
        spark.createDataFrame(
            [(r.event_id, r.user_id) for r in chunk], schema
        ).coalesce(1).write.mode("overwrite").parquet(str(src / name))

    def drain():
        q = (
            spark.readStream.schema(schema)
            .parquet(str(src) + "/*")
            .writeStream.trigger(availableNow=True)
            .option("checkpointLocation", ckpt)
            .format("parquet")
            .option("path", out)
            .start()
        )
        q.awaitTermination(120)
        assert not q.isActive  # availableNow terminates on its own

    land("a", rows[:mid])
    drain()
    first = spark.read.parquet(out).count()
    assert first == mid

    land("b", rows[mid:])
    drain()
    got = sorted(
        (r.event_id, r.user_id) for r in spark.read.parquet(out).collect()
    )
    want = sorted((r.event_id, r.user_id) for r in rows)
    assert got == want  # every row exactly once across the two runs


def test_native_session_window_streaming_equals_batch(spark, tmp_path):
    """The native session_window aggregation must run as a STREAMING query
    (watermark + append mode, the state-store-native alternative to
    applyInPandasWithState) and emit exactly the batch twin's sessions
    for every window the watermark closed."""
    from pyspark.sql import functions as F

    from bigdata_hwk_spark.plans.relational import SESSION_GAP_MIN
    from bigdata_hwk_spark.sources.tables import load_table

    def sessions(df):
        return (
            df.withWatermark("ts", "2 hours")
            .groupBy(
                F.session_window("ts", f"{SESSION_GAP_MIN} minutes").alias("w"),
                "user_id",
            )
            .agg(F.count(F.lit(1)).alias("n_events"))
            .select(
                "user_id",
                F.col("w.start").alias("session_start"),
                "n_events",
            )
        )

    events = load_table(spark, SF_SMOKE, "events")
    src = tmp_path / "sess_src"
    src.mkdir()
    ordered = events.orderBy("ts").collect()
    mid = len(ordered) // 2
    schema = "ts timestamp, user_id bigint"
    for name, chunk in (("a", ordered[:mid]), ("b", ordered[mid:])):
        spark.createDataFrame(
            [(r.ts, r.user_id) for r in chunk], schema
        ).coalesce(1).write.mode("overwrite").parquet(str(src / name))

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src) + "/*")
    )
    q = (
        sessions(stream)
        .writeStream.outputMode("append")
        .format("memory")
        .queryName("t_native_sess")
        .start()
    )
    try:
        q.processAllAvailable()
        got = {
            (r.user_id, r.session_start): r.n_events
            for r in spark.table("t_native_sess").collect()
        }
    finally:
        q.stop()
    want = {
        (r.user_id, r.session_start): r.n_events
        for r in sessions(events.select("ts", "user_id")).collect()
    }
    assert got  # the watermark closed at least one session
    assert set(got) <= set(want)
    for k, v in got.items():
        assert v == want[k]

@pytest.mark.parametrize("op", ["hll", "hist", "cms"])
def test_windowed_sketch_checkpoint_restart_exact(spark, tmp_path, op):
    """Kill a windowed-sketch stream mid-replay, restart from its
    checkpoint, and the final sketch table must equal the uninterrupted
    run's EXACTLY — the mergeable-state design (max/count cells keyed by
    window) makes recovery exact, and the file sink's commit log makes it
    duplicate-free. This is the property a 100 TB deployment leans on:
    the long-running sketch streams (HLL registers, histogram bins, CMS
    cells per window) must survive executor/driver loss without drifting
    from the batch twin. (round-6 VERDICT item 3)"""
    import time as _time

    from bigdata_hwk_spark.sources.tables import load_table
    from bigdata_hwk_spark.streaming import windowed as W

    build, cols = {
        "hll": (W.windowed_hll_registers, ("user_id",)),
        "hist": (W.windowed_histogram, ("value",)),
        "cms": (W.windowed_cms, ("user_id",)),
    }[op]
    schema = "ts timestamp, " + ", ".join(
        f"{c} {'double' if c == 'value' else 'bigint'}" for c in cols
    )

    events = load_table(spark, SF_SMOKE, "events")
    ordered = events.select("ts", *cols).orderBy("ts").collect()
    n_chunks = 8
    src = tmp_path / "sk_src"
    src.mkdir()
    step = (len(ordered) + n_chunks - 1) // n_chunks
    for i in range(n_chunks):
        chunk = ordered[i * step : (i + 1) * step]
        spark.createDataFrame(
            [tuple(r) for r in chunk], schema
        ).coalesce(1).write.mode("overwrite").parquet(str(src / f"c{i}"))

    def start(ckpt: str, out: str):
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(str(src) + "/*")
        )
        return (
            build(stream)
            .writeStream.outputMode("append")
            .option("checkpointLocation", ckpt)
            .format("parquet")
            .option("path", out)
            .start()
        )

    def rows_of(out: str):
        try:
            return sorted(map(tuple, spark.read.parquet(out).collect()))
        except Exception:  # nothing committed yet
            return []

    # uninterrupted reference run
    out_a, out_b = str(tmp_path / "out_a"), str(tmp_path / "out_b")
    q = start(str(tmp_path / "ckpt_a"), out_a)
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    want = rows_of(out_a)
    assert want  # the watermark closed at least one window

    # interrupted run: stop as soon as the first micro-batch has state
    ckpt_b = str(tmp_path / "ckpt_b")
    q = start(ckpt_b, out_b)
    try:
        deadline = _time.time() + 120
        while _time.time() < deadline:
            p = q.lastProgress
            if p and sum(
                s.get("numRowsTotal", 0) for s in p.get("stateOperators", [])
            ) > 0:
                break
            _time.sleep(0.2)
    finally:
        q.stop()
    rows_before = rows_of(out_b)
    assert len(rows_before) < len(want)  # genuinely killed mid-replay

    # restart from the same checkpoint: state-store recovery + sink
    # commit log must land exactly the uninterrupted run's table
    q = start(ckpt_b, out_b)
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    got = rows_of(out_b)
    assert got == want

def _skewed_stream(spark, n, n_hot=7, hot_share_mod=10, hot_every=3):
    """Deterministic skewed item stream: ~30% of arrivals hit n_hot hot
    items (uniformly), the rest are near-unique tail ids."""
    hot = (F.col("id") % n_hot).cast("bigint")
    tail = (F.col("id") * 2654435761 % 900_000_000 + 1_000_000).cast("bigint")
    return spark.range(n).select(
        F.col("id").alias("seq"),
        F.when(F.col("id") % hot_share_mod < hot_every, hot)
        .otherwise(tail)
        .alias("item"),
    )


def test_distributed_sticky_l1_equals_sequential(spark):
    """L=1 must reproduce the sequential sticky sketch bit-for-bit: the
    admission-rate formula reduces to the reference's r at L=1 and the
    single group consumes the same seeded RNG stream in seq order."""
    n, phi, eps, delta = 4000, 0.01, 0.005, 0.1
    assert FI.sticky_admission_rate(n, phi, eps, delta, 1) == pytest.approx(
        __import__("math").log(1 / (delta * phi)) / eps
    )
    stream = _skewed_stream(spark, n)
    got = {
        r.item: r.cnt
        for r in FI.distributed_sticky_counts(
            stream, n, phi, eps, delta, num_partitions=1, seed=42
        ).collect()
    }
    seq = FI.StickySampling(n, phi, eps, delta, seed=42)
    seq.add_batch([r.item for r in stream.orderBy("seq").collect()])
    assert got == seq.counts


def test_distributed_sticky_recall_and_undercount(spark):
    """With the merged-map admission rate: (1) tracked counts never exceed
    true counts, (2) every true-frequent item is reported at the (φ−ε)n
    threshold, (3) the undercount of every true-frequent item is ≤ εn.
    Params chosen so the rate does NOT saturate (real sampling, p<1)."""
    n, phi, eps, delta, L = 100_000, 0.02, 0.01, 0.1, 8
    p = FI.sticky_admission_rate(n, phi, eps, delta, L) / n
    assert 0 < p < 1, p  # genuinely sampling, not exact counting
    stream = _skewed_stream(spark, n)
    true_counts = {
        r.item: r.cnt
        for r in stream.groupBy("item")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .collect()
    }
    tracked = {
        r.item: r.cnt
        for r in FI.distributed_sticky_counts(
            stream, n, phi, eps, delta, num_partitions=L, seed=42
        ).collect()
    }
    for it, c in tracked.items():
        assert c <= true_counts[it], (it, c, true_counts[it])
    true_freq = {it for it, c in true_counts.items() if c >= phi * n}
    assert true_freq  # the fixture has hot items over threshold
    est = {
        r.item
        for r in FI.distributed_sticky_sampling(
            stream, n, phi, eps, delta, num_partitions=L, seed=42
        ).collect()
    }
    assert true_freq <= est, true_freq - est
    for it in true_freq:
        assert true_counts[it] - tracked.get(it, 0) <= eps * n


def test_distributed_sticky_saturation_is_exact(spark):
    """When r_L ≥ n the admission rate saturates at 1 and the sketch
    degrades loudly to exact counting — tracked counts equal true counts
    exactly (the guarantee holds trivially; fixture-scale regime)."""
    n, phi, eps, delta, L = 2000, 0.01, 0.005, 0.1, 16
    assert FI.sticky_admission_rate(n, phi, eps, delta, L) >= n
    stream = _skewed_stream(spark, n)
    tracked = {
        r.item: r.cnt
        for r in FI.distributed_sticky_counts(
            stream, n, phi, eps, delta, num_partitions=L, seed=7
        ).collect()
    }
    exact = {
        r.item: r.cnt
        for r in stream.groupBy("item")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .collect()
    }
    assert tracked == exact

def test_sessionization_checkpoint_restart_exact(spark, tmp_path):
    """applyInPandasWithState sessionization killed mid-replay and
    restarted from its checkpoint must emit exactly the uninterrupted
    run's closed sessions: the custom per-key state (start/last/n/val)
    lives in the state store, which commits per micro-batch and recovers
    on restart; the file sink's commit log prevents duplicate emission.
    Companion to the windowed-sketch restart test — this is the CUSTOM
    state path, not a built-in aggregate."""
    import time as _time

    from bigdata_hwk_spark.sources.tables import load_table
    from bigdata_hwk_spark.streaming.sessions import sessionize_stream

    events = load_table(spark, SF_SMOKE, "events")
    ordered = events.select("user_id", "ts", "event_id", "value").orderBy(
        "ts", "event_id"
    ).collect()
    schema = "user_id bigint, ts timestamp, event_id bigint, value double"
    n_chunks = 8
    src = tmp_path / "sess_src"
    src.mkdir()
    step = (len(ordered) + n_chunks - 1) // n_chunks
    for i in range(n_chunks):
        spark.createDataFrame(
            [tuple(r) for r in ordered[i * step : (i + 1) * step]], schema
        ).coalesce(1).write.mode("overwrite").parquet(str(src / f"c{i}"))

    def start(ckpt: str, out: str):
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(str(src) + "/*")
        )
        return (
            sessionize_stream(stream)
            .writeStream.outputMode("append")
            .option("checkpointLocation", ckpt)
            .format("parquet")
            .option("path", out)
            .start()
        )

    def rows_of(out: str):
        try:
            return sorted(map(tuple, spark.read.parquet(out).collect()))
        except Exception:
            return []

    out_a, out_b = str(tmp_path / "sess_a"), str(tmp_path / "sess_b")
    q = start(str(tmp_path / "sess_ckpt_a"), out_a)
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    want = rows_of(out_a)
    assert want  # fixture gaps close at least one session

    ckpt_b = str(tmp_path / "sess_ckpt_b")
    q = start(ckpt_b, out_b)
    try:
        deadline = _time.time() + 120
        while _time.time() < deadline:
            p = q.lastProgress
            if p and sum(
                s.get("numRowsTotal", 0) for s in p.get("stateOperators", [])
            ) > 0:
                break
            _time.sleep(0.2)
    finally:
        q.stop()
    assert len(rows_of(out_b)) < len(want)  # genuinely killed mid-replay

    q = start(ckpt_b, out_b)
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    assert rows_of(out_b) == want

def test_sticky_admission_rate_bound_monte_carlo():
    """Validate the re-derived merged-map bound empirically, not just the
    implementation: with p = sticky_admission_rate(...)/n, the merged
    undercount of an everywhere-present item is dominated by a sum of L
    geometrics, and the failure event (undercount ≥ εn) must occur with
    probability ≤ δφ. 20k Monte-Carlo trials at params chosen so p < 1
    (real sampling) — the observed failure rate must stay below δφ plus
    3 binomial sigmas."""
    import math
    import random

    n, phi, eps, delta, L = 60_000, 0.05, 0.02, 0.2, 6
    p = FI.sticky_admission_rate(n, phi, eps, delta, L) / n
    assert 0 < p < 1, p
    t = math.ceil(eps * n)
    bound = delta * phi
    rng = random.Random(99)
    trials, failures = 20_000, 0
    for _ in range(trials):
        # sum of L geometric(p) failure counts (undercount upper bound)
        u = sum(
            int(math.log(1.0 - rng.random()) / math.log(1.0 - p))
            for _ in range(L)
        )
        if u >= t:
            failures += 1
    observed = failures / trials
    sigma = math.sqrt(bound * (1 - bound) / trials)
    assert observed <= bound + 3 * sigma, (observed, bound)


def test_distributed_reservoir_stream_equals_batch_twin(spark, tmp_path):
    """The foreachBatch deployment of the distributed reservoir — state
    (sample slots + count + pickled RNG per group) lives in a cogrouped-
    applyInPandas DataFrame, never the driver — must reproduce the batch
    mapInPandas twin BIT-FOR-BIT: each group consumes the same
    seq-ordered items with the same seeded RNG across any micro-batch
    chunking, and both end in the shared hypergeometric fold."""
    stream = stream_from_events(spark, SF_SMOKE)
    m, n, L = 15, 900, 4
    flat = str(tmp_path / "res_flat")
    write_chunk_files(stream, flat, F.floor(F.col("seq") / 150))

    got_sample, got_n = FI.run_distributed_reservoir_stream(
        spark, flat, m=m, n=n, num_reservoirs=L, seed=5
    )
    want_sample, want_n = FI.distributed_reservoir_sample(
        stream, m=m, n=n, num_reservoirs=L, seed=5
    )
    assert got_n == want_n == n
    assert got_sample == want_sample  # bit-equal, not just same set
    assert len(got_sample) == m


def test_windowed_entropy_oracle_batch(spark):
    from .conftest import SF_CORRECT, assert_matches_oracle
    from bigdata_hwk_spark import registry

    assert_matches_oracle(
        registry.QUERIES["windowed_user_entropy"](spark, SF_CORRECT),
        registry.ORACLES["windowed_user_entropy"],
        SF_CORRECT,
    )


def test_windowed_entropy_chained_streaming_append(spark, tmp_path):
    """The CHAINED streaming aggregation (counts per (window, key) ->
    entropy per window) in append mode over file-replayed chunks emits
    exactly the batch rows for every window the watermark closed."""
    from bigdata_hwk_spark.sources.tables import load_table
    from bigdata_hwk_spark.streaming.windowed import windowed_key_entropy

    events = load_table(spark, SF_SMOKE, "events")
    src = tmp_path / "ent_src"
    src.mkdir()
    ordered = events.orderBy("ts").collect()
    mid = len(ordered) // 2
    schema = "ts timestamp, user_id bigint"
    for name, chunk in (("a", ordered[:mid]), ("b", ordered[mid:])):
        spark.createDataFrame(
            [(r.ts, r.user_id) for r in chunk], schema
        ).coalesce(1).write.mode("overwrite").parquet(str(src / name))

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src) + "/*")
    )
    q = (
        windowed_key_entropy(stream)
        .writeStream.outputMode("append")
        .format("memory")
        .queryName("t_entropy")
        .start()
    )
    try:
        q.processAllAvailable()
        got = {
            r.win_start: (r.n_keys, r.n_rows, r.max_count, r.entropy)
            for r in spark.table("t_entropy").collect()
        }
    finally:
        q.stop()
    want = {
        r.win_start: (r.n_keys, r.n_rows, r.max_count, r.entropy)
        for r in windowed_key_entropy(events).collect()
    }
    assert set(got) <= set(want)
    for k, v in got.items():
        assert v == want[k]
    # the chained pipeline must actually close and emit the early windows
    if want:
        assert got, "append mode emitted nothing - watermark never advanced"
        assert min(got) == min(want)


def test_windowed_checksum_m_oracle_batch(spark):
    from .conftest import SF_CORRECT, assert_matches_oracle
    from bigdata_hwk_spark import registry

    assert_matches_oracle(
        registry.QUERIES["windowed_event_checksums_m"](spark, SF_CORRECT),
        registry.ORACLES["windowed_event_checksums_m"],
        SF_CORRECT,
    )


def test_windowed_checksum_m_catches_even_duplicate(spark):
    """The blind spot ck_m exists for, per window: duplicating one row
    TWICE leaves ck_a/ck_b unchanged (xor cancels) but moves ck_m and
    n_rows. The plain windowed_checksum misses it by construction."""
    from bigdata_hwk_spark.sources.tables import load_table
    from bigdata_hwk_spark.streaming.windowed import windowed_checksum_m

    events = load_table(spark, SF_SMOKE, "events")
    victim = events.limit(1)
    drifted = events.union(victim).union(victim)
    base = {r.win_start: r for r in windowed_checksum_m(events).collect()}
    drift = {r.win_start: r for r in windowed_checksum_m(drifted).collect()}
    vwin = [
        w for w in base
        if base[w].n_rows != drift[w].n_rows
    ]
    assert len(vwin) == 1
    w = vwin[0]
    assert base[w].ck_a == drift[w].ck_a  # xor blind spot, by design
    assert base[w].ck_b == drift[w].ck_b
    assert base[w].ck_m != drift[w].ck_m  # multiplicity fold catches it
    for w2 in base:
        if w2 != w:
            assert tuple(base[w2]) == tuple(drift[w2])


def test_windowed_checksum_m_chained_streaming_append(spark, tmp_path):
    """Append-mode deployment of the chained (window, row-hash) ->
    window fold equals the batch twin on every closed window."""
    from bigdata_hwk_spark.sources.tables import load_table
    from bigdata_hwk_spark.streaming.windowed import windowed_checksum_m

    events = load_table(spark, SF_SMOKE, "events")
    src = tmp_path / "ckm_src"
    src.mkdir()
    ordered = events.orderBy("ts").collect()
    mid = len(ordered) // 2
    schema = ("event_id bigint, ts timestamp, user_id bigint, "
              "event_type string, value double, props string")
    cols = ["event_id", "ts", "user_id", "event_type", "value", "props"]
    for name, chunk in (("a", ordered[:mid]), ("b", ordered[mid:])):
        spark.createDataFrame(
            [tuple(r[c] for c in cols) for r in chunk], schema
        ).coalesce(1).write.mode("overwrite").parquet(str(src / name))

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src) + "/*")
    )
    q = (
        windowed_checksum_m(stream)
        .writeStream.outputMode("append")
        .format("memory")
        .queryName("t_ckm")
        .start()
    )
    try:
        q.processAllAvailable()
        got = {
            r.win_start: (r.n_rows, r.ck_a, r.ck_b, r.ck_m)
            for r in spark.table("t_ckm").collect()
        }
    finally:
        q.stop()
    want = {
        r.win_start: (r.n_rows, r.ck_a, r.ck_b, r.ck_m)
        for r in windowed_checksum_m(events).collect()
    }
    assert set(got) <= set(want)
    for k, v in got.items():
        assert v == want[k]
    if want:
        assert got and min(got) == min(want)


# ---------------------------------------------------------------------------
# File-replay contract (streaming/sources.py): the writer and the drain
# ---------------------------------------------------------------------------


def test_replay_contract_one_batch_per_chunk_file_in_order(spark, tmp_path):
    """``write_chunk_files`` writes one flat file per chunk value with
    strictly ascending mtimes; ``drain_file_stream`` delivers each file as
    one micro-batch, in chunk order, with epoch ids 0..k-1."""
    import os

    df = spark.createDataFrame(
        [(i, 10 * i) for i in range(9)], "seq bigint, item bigint"
    )
    src = str(tmp_path / "chunks")
    assert write_chunk_files(df, src, F.floor(F.col("seq") / 3)) == 3
    files = sorted(os.listdir(src))
    assert len(files) == 3 and all(f.endswith(".parquet") for f in files)
    mtimes = [os.stat(os.path.join(src, f)).st_mtime for f in files]
    assert all(a < b for a, b in zip(mtimes, mtimes[1:]))

    seen = []

    def process_batch(batch_df, epoch_id):
        seen.append((epoch_id, sorted(r.seq for r in batch_df.collect())))

    drain_file_stream(spark, src, "seq bigint, item bigint", process_batch)
    assert seen == [(0, [0, 1, 2]), (1, [3, 4, 5]), (2, [6, 7, 8])]


def test_chunk_writer_evaluates_its_input_once(spark, tmp_path):
    """``write_chunk_files`` evaluates its input plan once, whatever the
    chunk count: a Python UDF that bumps an accumulator runs once per
    row, not once per chunk write plus once for the chunk values. The
    chunk key reads the UDF column, so no write can prune it."""
    calls = spark.sparkContext.accumulator(0)

    def bump(x):
        calls.add(1)
        return x

    df = spark.range(12).select(
        F.col("id").alias("seq"), F.udf(bump, "bigint")("id").alias("item")
    )
    src = str(tmp_path / "chunks")
    assert write_chunk_files(df, src, F.floor(F.col("item") / 3)) == 4
    assert calls.value == 12


def test_drain_stops_the_query_when_a_batch_raises(spark, tmp_path):
    """A failing ``process_batch`` propagates its error out of the drain,
    and the drain still stops the query: no active query is left in the
    session."""
    df = spark.createDataFrame([(0, 0), (1, 1)], "seq bigint, item bigint")
    src = str(tmp_path / "chunks")
    write_chunk_files(df, src, F.col("seq"))

    def process_batch(batch_df, epoch_id):
        raise ValueError("planted batch failure")

    with pytest.raises(Exception, match="planted batch failure"):
        drain_file_stream(spark, src, "seq bigint, item bigint", process_batch)
    assert spark.streams.active == []


# ---------------------------------------------------------------------------
# Runner pins: each streaming/ runner over a file replay ≡ its batch twin
# ---------------------------------------------------------------------------


def test_windowed_checksum_streaming_equals_batch(spark, tmp_path):
    """Streaming per-window checksums (append + watermark, file replay)
    must equal the batch twin for closed windows, and xor-combining ALL
    batch windows must reproduce the whole-table fold (xor associativity
    across any window partitioning — audit at any granularity)."""
    from bigdata_hwk_spark.streaming.windowed import windowed_checksum

    events = load_table(spark, SF_CORRECT, "events")
    src = tmp_path / "ck_src"
    src.mkdir()
    ordered = events.orderBy("ts").collect()
    mid = len(ordered) // 2
    schema = (
        "event_id bigint, ts timestamp, user_id bigint, "
        "event_type string, value double, props string"
    )
    for name, chunk in (("a", ordered[:mid]), ("b", ordered[mid:])):
        spark.createDataFrame(
            [tuple(r) for r in chunk], schema
        ).coalesce(1).write.mode("overwrite").parquet(str(src / name))

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src) + "/*")
    )
    q = (
        windowed_checksum(stream)
        .writeStream.outputMode("append")
        .format("memory")
        .queryName("t_ck_win")
        .start()
    )
    try:
        q.processAllAvailable()
        got = {
            r.win_start: (r.n_rows, r.ck_a, r.ck_b)
            for r in spark.table("t_ck_win").collect()
        }
    finally:
        q.stop()
    want = {
        r.win_start: (r.n_rows, r.ck_a, r.ck_b)
        for r in windowed_checksum(events).collect()
    }
    assert got and set(got) <= set(want)
    for k, v in got.items():
        assert v == want[k]

    # rollup: per-window folds combine to the whole-table checksum
    n = sum(v[0] for v in want.values())
    xa = xb = 0
    for v in want.values():
        xa ^= v[1]
        xb ^= v[2]
    total = RC.table_checksum(
        events, RC.EVENTS_CANON, multiplicity=False
    ).collect()[0]
    assert (n, xa, xb) == (total.n_rows, total.ck_a, total.ck_b)


def test_running_checksum_stream_equals_batch(spark, tmp_path):
    """The ingest-time running checksum (three driver integers, folded
    per micro-batch via checksum_delta) must land exactly on the batch
    table_checksum of everything ingested."""
    from bigdata_hwk_spark.streaming.cdc_stream import (
        EVENTS_STREAM_SCHEMA,
        chunk_events_by_day,
        run_running_checksum_stream,
    )

    events = load_table(spark, SF_CORRECT, "events")
    n_days = chunk_events_by_day(events, str(tmp_path / "days"))
    assert n_days > 3
    got = run_running_checksum_stream(
        spark, str(tmp_path / "days"), EVENTS_STREAM_SCHEMA, RC.EVENTS_CANON
    )
    want = RC.table_checksum(
        events, RC.EVENTS_CANON, multiplicity=False
    ).collect()[0]
    assert got == (want.n_rows, want.ck_a, want.ck_b)


def test_cdc_stream_equals_batch_state(spark, tmp_path):
    """The foreachBatch MERGE loop over day-chunked micro-batches must
    land on EXACTLY log_state of the whole log (the compaction algebra
    applied inductively over the batch sequence) — including deletes and
    delete-then-reinsert keys."""
    from bigdata_hwk_spark.operators.cdc import log_state
    from bigdata_hwk_spark.streaming.cdc_stream import (
        chunk_events_by_day,
        run_cdc_merge_stream,
    )

    events = load_table(spark, SF_CORRECT, "events")
    n_days = chunk_events_by_day(events, str(tmp_path / "days"))
    assert n_days > 3  # multi-batch, or the test proves nothing
    got = run_cdc_merge_stream(spark, str(tmp_path / "days"))
    want = log_state(events)
    g = {r.user_id: (r.state_type, r.state_value, r.updated_at)
         for r in got.collect()}
    w = {r.user_id: (r.state_type, r.state_value, r.updated_at)
         for r in want.collect()}
    assert g == w


def test_mixture_stream_equals_batch_with_frozen_rates(spark, tmp_path):
    """The frozen-rate streaming resampler over file-chunked micro-batches
    must land on EXACTLY the batch tally computed with the same rates —
    the keep decision is a pure function of (salt, doc_id, r_ppm), so
    chunking cannot move it. Also pins the freeze semantics: a source
    absent from the rate table is dropped entirely."""
    from bigdata_hwk_spark.operators.splits import (
        _token_projection,
        mixture_keep,
        mixture_rates,
    )
    from bigdata_hwk_spark.streaming.mixture_stream import (
        chunk_documents_into_files,
        run_mixture_resample_stream,
    )

    docs = load_table(spark, SF_CORRECT, "documents")
    rates = mixture_rates(docs)
    n = chunk_documents_into_files(docs, str(tmp_path / "chunks"), n_chunks=4)
    assert n == 4
    got = run_mixture_resample_stream(spark, str(tmp_path / "chunks"), rates)
    keep = mixture_keep()
    want = (
        _token_projection(docs)
        .join(F.broadcast(rates.select("source", "r_ppm")), "source")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.when(keep, 1).otherwise(0)).cast("bigint").alias("n_kept"),
            F.sum(F.when(keep, F.col("toks")).otherwise(0))
            .cast("bigint")
            .alias("kept_tokens"),
        )
    )
    g = {r["source"]: (r["n_docs"], r["n_kept"], r["kept_tokens"])
         for r in got.collect()}
    w = {r["source"]: (r["n_docs"], r["n_kept"], r["kept_tokens"])
         for r in want.collect()}
    assert g == w
    assert sum(v[1] for v in g.values()) > 0

    # freeze semantics, under a second batch layout (the same docs in 2
    # files): drop one source from the rate table -> its docs vanish from
    # the tally, everyone else's numbers are untouched
    some = sorted(g)[0]
    pruned = rates.filter(F.col("source") != some)
    assert chunk_documents_into_files(
        docs, str(tmp_path / "chunks2"), n_chunks=2
    ) == 2
    got2 = run_mixture_resample_stream(spark, str(tmp_path / "chunks2"), pruned)
    g2 = {r["source"]: (r["n_docs"], r["n_kept"], r["kept_tokens"])
          for r in got2.collect()}
    assert some not in g2
    assert g2 == {s: v for s, v in g.items() if s != some}


def test_classifier_stream_equals_batch_with_frozen_weights(spark, tmp_path):
    """The deployment property: scoring the corpus in 4 micro-batches
    against FROZEN ridge weights produces byte-identical per-doc rows to
    scoring it in one batch — a score is a function of (the doc's hashed
    counts, the frozen weights) alone, never of its chunking."""
    from bigdata_hwk_spark.operators import classifier as CL
    from bigdata_hwk_spark.streaming.clf_stream import (
        run_classifier_score_stream,
    )
    from bigdata_hwk_spark.streaming.mixture_stream import (
        chunk_documents_into_files,
    )

    docs = load_table(spark, SF_CORRECT, "documents")
    label = F.array_contains(F.split(F.col("text"), " "), "dup").cast("int")
    w = CL.ridge_fit(docs, label)
    src = str(tmp_path / "src")
    sink = str(tmp_path / "sink")
    chunk_documents_into_files(docs, src, n_chunks=4)
    streamed = run_classifier_score_stream(spark, src, w, sink)
    want = {
        r.doc_id: (r.score, r.pred)
        for r in CL.ridge_score(docs, w).collect()
    }
    got = {r.doc_id: (r.score, r.pred) for r in streamed.collect()}
    assert got == want
    assert sum(p for _, p in got.values()) == 25  # the 25 marker docs


def test_transition_stream_equals_batch(spark, tmp_path):
    """The stateful streaming transition counter over day-chunked
    micro-batches must reproduce the batch matrix BIT-exactly — boundary
    transitions (last event of batch k → first event of batch k+1 per
    user) are the part a per-batch window drops."""
    from bigdata_hwk_spark.operators.behavior import event_transition_matrix
    from bigdata_hwk_spark.streaming.cdc_stream import chunk_events_by_day
    from bigdata_hwk_spark.streaming.transitions import run_transition_stream

    events = load_table(spark, SF_SMOKE, "events")
    n_days = chunk_events_by_day(events, str(tmp_path / "days"))
    assert n_days > 3
    got = {
        (r.from_type, r.to_type): (r.n_transitions, r.prob)
        for r in run_transition_stream(spark, str(tmp_path / "days")).collect()
    }
    want = {
        (r.from_type, r.to_type): (r.n_transitions, r.prob)
        for r in event_transition_matrix(events).collect()
    }
    assert got == want
    # boundary coverage is provable from totals: over the whole log every
    # event except each user's LAST emits exactly one transition, so the
    # sum must be N_events − N_users — a per-batch-only tally loses one
    # transition per (user, batch-boundary) and cannot reach this total
    n_events = events.count()
    n_users = events.select("user_id").distinct().count()
    assert sum(n for n, _ in got.values()) == n_events - n_users


def test_mg_ingest_stream_equals_batch(spark, tmp_path):
    """The streaming MG deployment (additive active-chunk state,
    compress-on-complete leaves, final tree fold) must land bit-equal on
    the batch twin over the same rows."""
    from bigdata_hwk_spark.operators import sketches as SK
    from bigdata_hwk_spark.streaming.cdc_stream import chunk_events_by_day
    from bigdata_hwk_spark.streaming.frequent_items import run_mg_ingest_stream

    events = load_table(spark, SF_SMOKE, "events")
    n_days = chunk_events_by_day(events, str(tmp_path / "days"))
    assert n_days > 3
    k, chunk = 16, 512
    got = {
        r.item: r.est_count
        for r in run_mg_ingest_stream(
            spark, str(tmp_path / "days"), k=k, chunk=chunk
        ).collect()
    }
    want = {
        r.item: r.est_count
        for r in SK.misra_gries_summary(
            events, item_col="user_id", seq_col="event_id", k=k, chunk=chunk
        ).collect()
    }
    assert got == want and len(got) > 0


def test_mg_ingest_stream_rejects_out_of_order_chunks(spark, tmp_path):
    """The streaming MG twin's bit-equality with the batch path rides on
    event-id-monotone file delivery; that contract is ENFORCED — a late
    batch carrying cells for an already-closed chunk must raise loudly
    (duplicate leaf = silent divergence), not diverge silently."""
    import os
    import time

    import pytest

    from bigdata_hwk_spark.streaming.frequent_items import run_mg_ingest_stream

    chunk = 512
    src = tmp_path / "ooo"
    os.makedirs(src)

    def write_file(name, ids, mtime):
        df = spark.createDataFrame(
            [(int(i), None, int(i) % 7, "t", 0.0, None) for i in ids],
            "event_id bigint, ts timestamp, user_id bigint, "
            "event_type string, value double, props string",
        )
        staging = str(tmp_path / "staging")
        df.coalesce(1).write.mode("overwrite").parquet(staging)
        part = next(f for f in os.listdir(staging) if f.endswith(".parquet"))
        dst = str(src / name)
        os.rename(os.path.join(staging, part), dst)
        os.utime(dst, (mtime, mtime))

    base = time.time() - 3600
    # file 0 (delivered first): events in chunk 5; file 1 (later mtime,
    # second micro-batch): a LATE event for chunk 1 — already closed.
    write_file("0000.parquet", range(5 * chunk, 5 * chunk + 20), base)
    write_file("0001.parquet", range(1 * chunk, 1 * chunk + 20), base + 1)

    with pytest.raises(Exception, match="out-of-order stream delivery"):
        run_mg_ingest_stream(spark, str(src), k=8, chunk=chunk)


def test_psi_monitor_stream_equals_batch(spark, tmp_path):
    """Frozen-reference streaming PSI (additive alphabet-bounded state)
    must reproduce the batch two-half query exactly."""
    from bigdata_hwk_spark.operators import robust as RB
    from bigdata_hwk_spark.streaming.cdc_stream import chunk_events_by_day
    from bigdata_hwk_spark.streaming.drift_stream import run_psi_monitor_stream

    events = load_table(spark, SF_SMOKE, "events")
    day = F.floor(F.col("ts").cast("long") / 86400)
    lo, hi = events.agg(F.min(day), F.max(day)).first()
    mid = lo + (hi - lo) // 2
    ref = RB.psi_value_buckets(events.filter(day <= mid))
    # batch twin on the whole table
    want = {r.event_type: tuple(r) for r in RB.value_drift_psi(events).collect()}
    # batch psi_report path over the same two halves (refactor pin)
    cur = RB.psi_value_buckets(events.filter(day > mid))
    got_batch = {
        r.event_type: tuple(r) for r in RB.psi_report(ref, cur).collect()
    }
    assert got_batch == want
    # streaming path: replay the second half in day files
    n_days = chunk_events_by_day(
        events.filter(day > mid), str(tmp_path / "days")
    )
    assert n_days > 2
    got = {
        r.event_type: tuple(r)
        for r in run_psi_monitor_stream(
            spark, str(tmp_path / "days"), ref
        ).collect()
    }
    assert got == want


def test_burst_monitor_stream_equals_batch(spark, tmp_path):
    """The streaming burst monitor (additive daily state + the shared
    scoring leg) must reproduce the batch query BIT-EQUAL on the same
    rows, regardless of micro-batch chunking."""
    from bigdata_hwk_spark.operators import behavior as BH
    from bigdata_hwk_spark.streaming.burst_stream import run_burst_monitor_stream
    from bigdata_hwk_spark.streaming.cdc_stream import chunk_events_by_day

    events = load_table(spark, SF_SMOKE, "events")
    want = {
        (r.event_type, r.day): tuple(r)
        for r in BH.event_type_bursts(events).collect()
    }
    assert len(want) > 0
    n_days = chunk_events_by_day(events, str(tmp_path / "days"))
    assert n_days > 3
    got = {
        (r.event_type, r.day): tuple(r)
        for r in run_burst_monitor_stream(
            spark, str(tmp_path / "days")
        ).collect()
    }
    assert got == want


def test_k_anonymity_monitor_stream_equals_batch(spark, tmp_path):
    """The streaming k-anonymity monitor (additive per-user cell state —
    distinct users are NOT additive, so the state carries the user
    granularity — plus the batch scoring leg) must reproduce the batch
    audit bit-equal on the same rows."""
    from bigdata_hwk_spark.operators import privacy as PV
    from bigdata_hwk_spark.streaming.cdc_stream import chunk_events_by_day
    from bigdata_hwk_spark.streaming.privacy_stream import (
        run_k_anonymity_monitor_stream,
    )

    events = load_table(spark, SF_SMOKE, "events")
    want = {
        r.event_type: tuple(r) for r in PV.k_anonymity_audit(events).collect()
    }
    assert len(want) > 0
    n_days = chunk_events_by_day(events, str(tmp_path / "days"))
    assert n_days > 3  # users recur across day files: additivity is exercised
    got = {
        r.event_type: tuple(r)
        for r in run_k_anonymity_monitor_stream(
            spark, str(tmp_path / "days")
        ).collect()
    }
    assert got == want


def test_k_anonymity_monitor_compaction_equals_batch(spark, tmp_path):
    """VERDICT r11 item 7: with late_days set, the monitor collapses
    closed days' per-user rows to census cells; on a time-monotonic
    replay the final census stays BIT-EQUAL to the batch audit and the
    open state is bounded to the watermark window."""
    from bigdata_hwk_spark.operators import privacy as PV
    from bigdata_hwk_spark.streaming.cdc_stream import chunk_events_by_day
    from bigdata_hwk_spark.streaming.privacy_stream import (
        run_k_anonymity_monitor_stream,
    )

    events = load_table(spark, SF_SMOKE, "events")
    want = {
        r.event_type: tuple(r)
        for r in PV.k_anonymity_audit(events).collect()
    }
    n_days = chunk_events_by_day(events, str(tmp_path / "days"))
    assert n_days > 4
    stats: dict = {}
    got = {
        r.event_type: tuple(r)
        for r in run_k_anonymity_monitor_stream(
            spark, str(tmp_path / "days"), late_days=2, stats=stats
        ).collect()
    }
    assert got == want
    # state bound: open user-cells span at most late_days+1 days and
    # most days were actually compacted away into census cells
    assert stats["open_days"] <= 3
    assert stats["closed_cells"] > 0


def test_l_diversity_monitor_stream_equals_batch(spark, tmp_path):
    """The streaming l-diversity monitor's state is the fully-additive
    (day, bucket, type) cell table — the accumulated census must be
    bit-equal to the batch audit under day-chunked replay."""
    from bigdata_hwk_spark.operators import privacy as PV
    from bigdata_hwk_spark.streaming.cdc_stream import chunk_events_by_day
    from bigdata_hwk_spark.streaming.privacy_stream import (
        run_l_diversity_monitor_stream,
    )

    events = load_table(spark, SF_SMOKE, "events")
    want = {
        r.day: tuple(r) for r in PV.l_diversity_audit(events).collect()
    }
    assert len(want) > 3
    n = chunk_events_by_day(events, str(tmp_path / "days"))
    assert n > 3
    got = {
        r.day: tuple(r)
        for r in run_l_diversity_monitor_stream(
            spark, str(tmp_path / "days")
        ).collect()
    }
    assert got == want
