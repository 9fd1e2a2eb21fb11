"""Streaming deployment of the CDC MERGE loop (operators/cdc.py).

Not in the reference (SURVEY.md §2.11 north-star extensions): the batch
``merge_upsert`` is how a warehouse applies ONE changelog; production CDC
is a continuous stream of them (Debezium topic → Delta/Iceberg MERGE
loop). This is that loop as Structured Streaming ``foreachBatch``:

* each micro-batch is compacted to one change row per touched key by
  ``reduce_changelog`` (the join sees |keys touched this batch|);
* ``merge_upsert`` applies it to the persisted snapshot in a single
  full-outer equi-join;
* the new snapshot is ``localCheckpoint``-ed — materialized and
  lineage-truncated — and the driver keeps only the DataFrame HANDLE.
  No row of state ever lands on the driver, which is what lets the same
  loop maintain a billion-key snapshot (on a cluster the checkpoint
  would be a Delta/Iceberg table write; the shape is identical).

Correctness rides on the compaction algebra the batch operator proves
(``merge(state(log<T), reduce(log≥T)) ≡ state(log)``) applied
inductively over the micro-batch sequence: as long as the source
delivers time-monotonic chunks (the file-replay source delivers files
in order), the final snapshot is EXACTLY ``log_state`` of the whole
log — pinned by ``test_cdc_stream_equals_batch_state``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.cdc import merge_upsert, reduce_changelog
from ..session import empty_df
from .sources import drain_file_stream, write_chunk_files

EVENTS_STREAM_SCHEMA = (
    "event_id bigint, ts timestamp, user_id bigint, "
    "event_type string, value double, props string"
)
SNAPSHOT_SCHEMA = (
    "user_id bigint, state_type string, state_value double, "
    "updated_at timestamp"
)


def run_cdc_merge_stream(spark: SparkSession, source_dir: str) -> DataFrame:
    """Replay ``source_dir`` (``drain_file_stream``) through the MERGE
    loop; returns the final keyed snapshot as a DataFrame (still distributed — callers aggregate or
    write it, they don't collect it)."""
    state = {"df": empty_df(spark, SNAPSHOT_SCHEMA)}

    def process_batch(batch_df: DataFrame, epoch_id: int) -> None:
        changes = reduce_changelog(batch_df)
        state["df"] = (
            merge_upsert(state["df"], changes)
            .drop("action")
            .localCheckpoint()  # materialize + truncate per-batch lineage
        )

    drain_file_stream(spark, source_dir, EVENTS_STREAM_SCHEMA, process_batch)
    return state["df"]


def run_running_checksum_stream(
    spark: SparkSession,
    source_dir: str,
    schema: str,
    canon: list[tuple[str, str]],
) -> tuple[int, int, int]:
    """Maintain a table content checksum AT INGEST TIME: each micro-batch
    folds into a running (n_rows, ck_a, ck_b) via ``checksum_delta`` —
    the append-only special case of the incremental maintenance loop
    (removed side empty). Driver state is literally three integers (the
    one legal driver-side accumulation at any scale); the per-batch
    collect is a single delta row. When the stream quiesces, the tuple
    equals ``table_checksum(everything ingested, multiplicity=False)``
    exactly — so a sink's content can be certified against the ingest
    path with O(1) comparison and no rescan of either side.
    """
    from ..operators.reconcile import checksum_delta

    state = {"n": 0, "a": 0, "b": 0}

    def process_batch(batch_df: DataFrame, epoch_id: int) -> None:
        d = checksum_delta(batch_df.limit(0), batch_df, canon).collect()[0]
        state["n"] += d.d_rows
        state["a"] ^= d.dk_a
        state["b"] ^= d.dk_b

    drain_file_stream(spark, source_dir, schema, process_batch)
    return state["n"], state["a"], state["b"]


def chunk_events_by_day(events: DataFrame, out_dir: str) -> int:
    """Test/replay helper: write ``events`` as one micro-batch file per
    calendar day (``write_chunk_files``), so the replay delivers
    time-monotonic micro-batches. Returns the chunk count."""
    return write_chunk_files(events, out_dir, F.to_date("ts"))
