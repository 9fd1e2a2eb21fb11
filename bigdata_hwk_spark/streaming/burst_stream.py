"""Streaming burst monitor (the deployment form of
``operators/behavior.py event_type_bursts``).

A telemetry pipeline wants the volume-anomaly screen AT INGEST, not in
a nightly batch: this monitor folds each micro-batch's (event_type,
day) counts ADDITIVELY into an alphabet×days state table (exact
integers, chunking-independent — the ``run_psi_monitor_stream``
discipline) and scores the accumulated table with the IDENTICAL
trailing-window integer-exact predicate the batch query uses
(``bursts_from_daily`` is shared verbatim). The report is therefore
bit-equal to ``event_type_bursts`` on the same rows regardless of how
the replay chunks them — pinned by
``test_burst_monitor_stream_equals_batch``.

State: one ``localCheckpoint``-ed DataFrame of |types|·|days| rows —
bounded by the calendar, not the stream. Driver traffic per batch:
none.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.behavior import (
    BURST_SIGMAS,
    BURST_TRAIL_DAYS,
    burst_daily_counts,
    bursts_from_daily,
)
from ..session import empty_df
from .sources import drain_file_stream


def run_burst_monitor_stream(
    spark: SparkSession,
    source_dir: str,
    w: int = BURST_TRAIL_DAYS,
    sigmas: int = BURST_SIGMAS,
) -> DataFrame:
    """Replay ``source_dir`` (``drain_file_stream``),
    accumulate the daily histogram additively, and return the burst
    report of the accumulated traffic."""
    from .cdc_stream import EVENTS_STREAM_SCHEMA

    cells_schema = "event_type string, day bigint, y bigint"
    state = {"daily": empty_df(spark, cells_schema)}

    def process_batch(batch_df: DataFrame, epoch_id: int) -> None:
        state["daily"] = (
            state["daily"]
            .union(burst_daily_counts(batch_df))
            .groupBy("event_type", "day")
            .agg(F.sum("y").cast("bigint").alias("y"))
            .localCheckpoint()
        )

    drain_file_stream(spark, source_dir, EVENTS_STREAM_SCHEMA, process_batch)
    return bursts_from_daily(state["daily"], w=w, sigmas=sigmas)
