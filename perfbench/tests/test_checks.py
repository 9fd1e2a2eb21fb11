"""Output checks: value-hash comparison and the stream-twin rules."""

import dataclasses
import datetime
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
sys.path.insert(0, BENCH)

import checks  # noqa: E402

hash_fn = checks.load_value_hash(os.path.dirname(BENCH))
COLS = ["k", "radius"]
ROWS = [(3, 0.1234567), (1, 2.0)]


def test_hash_ignores_row_and_column_order_and_float_noise():
    want = {"rows": 2, "cols": COLS, "hash": hash_fn(ROWS, COLS)}
    swapped = [(2.0, 1), (0.12345670000001, 3)]
    assert checks.compare(["radius", "k"], swapped, want, hash_fn) is None


def test_hash_mismatch_row_count_and_columns_are_reported():
    want = {"rows": 2, "cols": COLS, "hash": hash_fn(ROWS, COLS)}
    assert "value-hash" in checks.compare(COLS, [(3, 0.1234567), (1, 2.5)], want, hash_fn)
    assert "rows" in checks.compare(COLS, ROWS[:1], want, hash_fn)
    assert "cols" in checks.compare(["k", "r"], ROWS, want, hash_fn)


@dataclasses.dataclass
class Report:
    true_frequent: list
    batches: int = 0


def test_stream_report_ignores_batch_count_only():
    assert checks.report_mismatch(Report([1, 2], 4), Report([1, 2], 10)) is None
    assert checks.report_mismatch(Report([1], 4), Report([1, 2], 4)) is not None


def test_streamed_sessions_equal_batch_minus_open_session():
    t = datetime.datetime(2024, 1, 1)
    batch = [(7, 2, 3, 1.5), (7, 1, 2, 10.25), (7, 3, 1, 4.0), (9, 1, 5, 2.0)]
    streamed = [(7, t, 2, 10.25), (7, t + datetime.timedelta(hours=2), 3, 1.5)]
    assert checks.sessions_mismatch(streamed, batch) is None
    assert checks.sessions_mismatch(streamed[:1], batch) is not None
    wrong = [(7, t, 2, 10.25), (7, t + datetime.timedelta(hours=2), 3, 1.6)]
    assert checks.sessions_mismatch(wrong, batch) is not None
