"""Event-log reader on a canned two-part rolling log.

    python3 -m pytest perfbench/tests -q -p no:cacheprovider
"""

import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

import eventlog  # noqa: E402

LOG = os.path.join(HERE, "data")


def test_rolled_parts_read_in_index_order():
    names = [os.path.basename(p) for p in eventlog.event_files(LOG)]
    assert names == ["events_1_local-1", "events_2_local-1"]


def test_counters_cover_only_jobs_inside_the_windows():
    c = eventlog.summarize(eventlog.read_events(LOG), [(1900, 3100)])
    assert c["spark.jobs"] == 1
    assert c["spark.stages"] == 1
    assert c["spark.skipped_stage_frac"] == 0.5  # stage 1 listed, never submitted
    assert c["spark.tasks"] == 2
    assert c["spark.failed_tasks"] == 1
    assert c["spark.executor_run_s"] == pytest.approx(0.7)
    assert c["spark.executor_cpu_s"] == pytest.approx(0.3)
    assert c["spark.jvm_gc_s"] == pytest.approx(0.01)
    assert c["sources.input_bytes"] == 2048  # the earlier job's 999 bytes excluded
    assert c["spark.shuffle_read_bytes"] == 512
    assert c["spark.shuffle_write_bytes"] == 256
    assert c["spark.shuffle_fetch_wait_s"] == pytest.approx(0.005)
    assert c["spark.spill_bytes"] == 96
    assert c["operators.py_sent_bytes"] == 1000
    assert c["operators.py_returned_bytes"] == 40
    assert c["operators.py_run_s"] == pytest.approx(0.25)
    assert c["sinks.output_bytes"] == 4096
    assert c["sinks.output_rows"] == 12
    # job in flight 2000..3000 ms, tasks cover 2100..2600 ms
    assert c["spark.executor_idle_s"] == pytest.approx(0.5)


def test_no_job_in_the_windows_gives_zero_counters():
    c = eventlog.summarize(eventlog.read_events(LOG), [(5000, 6000)])
    assert set(c) == set(eventlog.COUNTERS)
    assert all(v == 0 for v in c.values())


def test_jobs_are_counted_per_job_group():
    groups = eventlog.jobs_per_group(eventlog.read_events(LOG))
    assert groups == {"untraced": 1, "traced:1:mrfft_radius": 1}


def test_union_merges_overlapping_intervals():
    assert eventlog._union_s([(0, 1000), (500, 1500), (2000, 2500)]) == 2.0
