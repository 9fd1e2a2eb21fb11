"""Streaming deployment of the Markov transition matrix
(operators/behavior.py): maintain per-user last-event state across
micro-batches so transitions that SPAN a batch boundary are counted
exactly once — the part a naive per-batch window silently drops.

State is two distributed DataFrames, never driver rows (the CDC-loop
discipline at cdc_stream.py):

* ``last``: one row per user — the (ts, event_id, event_type) of the
  user's latest event seen so far;
* ``counts``: the accumulated (from_type, to_type, n_transitions) tally.

Per micro-batch: batch-internal transitions come from the same
(ts, event_id)-ordered ``lead`` window the batch operator uses; boundary
transitions come from ONE equi-join of the carried ``last`` state
against each user's FIRST in-batch event; the new ``last`` state is a
keyed argmax over (old state ∪ batch maxima). All three steps are keyed
joins/aggregates, ``localCheckpoint``-ed per batch to truncate lineage.

Correctness contract (same as the CDC loop): the source delivers
time-monotonic chunks per user (file replay in day order). Under it,
fold(batches) ≡ batch operator over the whole log — pinned BIT-exactly
by ``test_transition_stream_equals_batch``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..session import empty_df
from .cdc_stream import EVENTS_STREAM_SCHEMA
from .sources import drain_file_stream

_LAST_SCHEMA = (
    "user_id bigint, ts timestamp, event_id bigint, event_type string"
)
_COUNTS_SCHEMA = "from_type string, to_type string, n_transitions bigint"


def _ordered(df: DataFrame) -> Window:
    return Window.partitionBy("user_id").orderBy(
        F.col("ts").asc(), F.col("event_id").asc()
    )


def run_transition_stream(spark: SparkSession, source_dir: str) -> DataFrame:
    """Replay ``source_dir`` (``drain_file_stream``) through the
    stateful transition counter; returns the final (from_type, to_type,
    n_transitions, prob) matrix — identical to the batch operator over
    the concatenated log."""
    state = {
        "last": empty_df(spark, _LAST_SCHEMA),
        "counts": empty_df(spark, _COUNTS_SCHEMA),
    }

    def process_batch(batch: DataFrame, batch_id: int) -> None:
        w = _ordered(batch)
        seq = batch.select(
            "user_id",
            "ts",
            "event_id",
            "event_type",
            F.lead("event_type").over(w).alias("to_type"),
            F.row_number().over(w).alias("rn"),
            F.row_number()
            .over(
                Window.partitionBy("user_id").orderBy(
                    F.col("ts").desc(), F.col("event_id").desc()
                )
            )
            .alias("rn_desc"),
        )
        internal = (
            seq.filter(F.col("to_type").isNotNull())
            .groupBy(
                F.col("event_type").alias("from_type"), "to_type"
            )
            .agg(F.count(F.lit(1)).alias("n_transitions"))
        )
        firsts = seq.filter(F.col("rn") == 1).select(
            "user_id", F.col("event_type").alias("first_type")
        )
        boundary = (
            state["last"]
            .join(firsts, "user_id")
            .groupBy(
                F.col("event_type").alias("from_type"),
                F.col("first_type").alias("to_type"),
            )
            .agg(F.count(F.lit(1)).alias("n_transitions"))
        )
        state["counts"] = (
            state["counts"]
            .unionByName(internal)
            .unionByName(boundary)
            .groupBy("from_type", "to_type")
            .agg(F.sum("n_transitions").alias("n_transitions"))
            .localCheckpoint()
        )
        lasts = seq.filter(F.col("rn_desc") == 1).select(
            "user_id", "ts", "event_id", "event_type"
        )
        merged = state["last"].unionByName(lasts)
        wm = Window.partitionBy("user_id").orderBy(
            F.col("ts").desc(), F.col("event_id").desc()
        )
        state["last"] = (
            merged.withColumn("rk", F.row_number().over(wm))
            .filter(F.col("rk") == 1)
            .drop("rk")
            .localCheckpoint()
        )

    drain_file_stream(spark, source_dir, EVENTS_STREAM_SCHEMA, process_batch)

    wf = Window.partitionBy("from_type")
    return state["counts"].select(
        "from_type",
        "to_type",
        "n_transitions",
        F.round(
            F.col("n_transitions") / F.sum("n_transitions").over(wf), 6
        ).alias("prob"),
    )
