"""Custom stateful streaming operator: user sessionization.

The batch twin (``plans/relational.py user_sessions``, oracle-checked in
the registry) sessionizes with a lag→flag→running-sum window. That shape
needs the whole history per user; on an unbounded stream the idiomatic
Spark form is ``applyInPandasWithState`` — per-key state in the state
store, Arrow-batched Python transition function, append-mode output of
*closed* sessions (SURVEY.md §2.11 / the reference has no stateful
streaming beyond driver dicts, HWK_3/G029HW3.py:87-93).

Semantics match the batch operator: events of one user belong to the same
session while consecutive gaps are ≤ ``gap_min`` minutes; a longer gap
closes the previous session. A session is emitted only when closed by a
later event; sessions still open when the stream ends stay in state (the
batch twin reports them, so tests compare against "all but each user's
last session").

Scale: state is O(1) per user (4 scalars); the shuffle is the one
``groupBy(user_id)`` hash exchange any sessionization needs; skewed users
cost one hot task at worst — the transition function is O(batch rows) with
no history replay.
"""

from __future__ import annotations

from collections.abc import Iterator
from typing import Any

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

SESSION_GAP_MIN = 30

OUTPUT_SCHEMA = (
    "user_id bigint, session_start timestamp, session_end timestamp, "
    "n_events bigint, session_value double"
)
# (session_start_us, last_event_us, n_events, value_sum) — epoch micros
STATE_SCHEMA = "start long, last long, n long, val double"


def _session_fn(gap_min: int):
    gap_us = gap_min * 60 * 1_000_000

    def fn(
        key: tuple[Any, ...],
        pdfs: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        (user_id,) = key
        if state.exists:
            start, last, n, val = state.get
        else:
            start, last, n, val = None, None, 0, 0.0
        closed: list[tuple] = []
        for pdf in pdfs:
            if len(pdf) == 0:
                continue
            ts_all = pdf["ts"].astype("int64").to_numpy()
            order = np.lexsort((pdf["event_id"].to_numpy(), ts_all))
            ts_us = (ts_all[order] // 1000).tolist()  # ns → µs
            for t, v in zip(ts_us, pdf["value"].to_numpy()[order].tolist()):
                if last is not None and t - last > gap_us:
                    closed.append((start, last, n, round(val, 2)))
                    start, last, n, val = None, None, 0, 0.0
                if start is None:
                    start = t
                last = t
                n += 1
                val += v
        state.update((start, last, n, val))
        if closed:
            starts, ends, counts, values = zip(*closed)
            yield pd.DataFrame(
                {
                    "user_id": np.full(len(closed), user_id, dtype="int64"),
                    "session_start": np.array(starts, dtype="datetime64[us]"),
                    "session_end": np.array(ends, dtype="datetime64[us]"),
                    "n_events": np.array(counts, dtype="int64"),
                    "session_value": np.array(values, dtype="float64"),
                }
            )

    return fn


def sessionize_stream(
    events: DataFrame, gap_min: int = SESSION_GAP_MIN
) -> DataFrame:
    """(user_id, session_start, session_end, n_events, session_value) for
    every session CLOSED by a subsequent event. Input: a streaming
    DataFrame with (user_id, ts, event_id, value)."""
    return events.groupBy("user_id").applyInPandasWithState(
        _session_fn(gap_min),
        outputStructType=OUTPUT_SCHEMA,
        stateStructType=STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
