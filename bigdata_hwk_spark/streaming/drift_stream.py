"""Streaming PSI drift monitor (the deployment form of
``operators/robust.py value_drift_psi``).

Production drift monitoring freezes a REFERENCE histogram (the vetted
corpus window) and scores live traffic against it continuously — the
same freeze-then-apply discipline as the mixture-rate and DSIR streaming
deployments. The state this monitor carries is the alphabet-bounded
(event_type, bucket) histogram — |types|·21 rows regardless of stream
length — folded ADDITIVELY per micro-batch (exact integers, chunking-
independent), so the final report is bit-equal to the batch query on the
same rows: pinned by ``test_psi_monitor_stream_equals_batch``, which
freezes the first time-half as the reference, replays the second half in
day files, and compares against ``value_drift_psi`` over the whole
table.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.robust import psi_report, psi_value_buckets
from ..session import empty_df
from .sources import drain_file_stream


def run_psi_monitor_stream(
    spark: SparkSession,
    source_dir: str,
    ref_cells: DataFrame,
) -> DataFrame:
    """Replay ``source_dir`` (``drain_file_stream``),
    accumulate the bucket histogram additively, and return the PSI
    report of the accumulated traffic against the frozen ``ref_cells``
    ((event_type, bucket, n), e.g. ``psi_value_buckets`` of a reference
    window). Driver traffic per batch: none (state is one
    ``localCheckpoint``-ed alphabet-bounded DataFrame)."""
    from .cdc_stream import EVENTS_STREAM_SCHEMA

    cells_schema = "event_type string, bucket int, n bigint"
    state = {"cur": empty_df(spark, cells_schema)}

    def process_batch(batch_df: DataFrame, epoch_id: int) -> None:
        batch_cells = psi_value_buckets(batch_df)
        state["cur"] = (
            state["cur"]
            .union(batch_cells)
            .groupBy("event_type", "bucket")
            .agg(F.sum("n").cast("bigint").alias("n"))
            .localCheckpoint()
        )

    drain_file_stream(spark, source_dir, EVENTS_STREAM_SCHEMA, process_batch)
    return psi_report(ref_cells, state["cur"])
