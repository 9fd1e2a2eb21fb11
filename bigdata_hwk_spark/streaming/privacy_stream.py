"""Streaming k-anonymity monitor (the deployment form of
``operators/privacy.py k_anonymity_audit``).

A release pipeline wants the re-identification screen tracking the
table AS IT ACCUMULATES, not once at the end. Distinct-user counts are
NOT additive across micro-batches (the same user in two batches is one
person), so the OPEN state is the per-user cell table (event_type, day,
bucket, user_id, n_rows) — additive on n_rows by construction
(``qi_user_cells`` per batch, folded with a sum) — and the census runs
the batch audit's scoring leg verbatim. Bit-equal to the batch audit on
the same rows regardless of chunking — pinned by
``test_k_anonymity_monitor_stream_equals_batch``.

State bound (r11 VERDICT item 7): unbounded retention of the per-user
table grows with user-days forever. With ``late_days`` set, a
day-watermark compaction closes every day ≤ max_seen_day − late_days
and collapses its per-user rows to their CELL CENSUS contribution
(n_rows, n_users) — sound because once a day is closed no future row
may add a user to any of its cells, so the user set is redundant with
its count; this holds for violating cells too, which keep their user
sets exactly until their day closes (the census needs nothing more).
Open state is then bounded by (late_days+1) days' worth of user-cells
and closed state by the calendar×alphabet cell census. A batch carrying
a row for an already-closed day means the watermark promise was false:
the monitor fails LOUDLY (the MG-ingest monotone-chunk contract) rather
than emit a census that silently undercounts distinct users.

Driver traffic per batch: one two-value (min_day, max_day) probe row
when compaction is on; none otherwise.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.privacy import (
    K_ANON,
    cells_census,
    census_from_cells,
    census_from_user_cells,
    qi_user_cells,
)
from ..session import empty_df
from .sources import drain_file_stream

_UC_SCHEMA = (
    "event_type string, day bigint, bucket int, "
    "user_id bigint, n_rows bigint"
)
_CELL_SCHEMA = (
    "event_type string, day bigint, bucket int, "
    "n_rows bigint, n_users bigint"
)


def fold_privacy_batch(
    state: dict, batch_uc: DataFrame, late_days: int | None
) -> None:
    """Fold one micro-batch's user-cell table into the monitor state
    (mutates ``state`` in place) — factored out of the stream callback
    so the watermark/compaction semantics are unit-testable without a
    streaming harness.

    state = {"open": per-user cells, "closed": census cells,
    "max_day": int | None}.
    """
    spark = batch_uc.sparkSession
    if late_days is not None:
        # the watermark probe below and the merge union both consume
        # batch_uc — checkpoint it first so the batch's QI fold shuffle
        # runs once per batch (the module's contract), not once per
        # consumer (r12 ADVICE)
        batch_uc = batch_uc.localCheckpoint()
        probe = batch_uc.agg(
            F.min("day").alias("lo"), F.max("day").alias("hi")
        ).first()
        if probe.lo is None:
            return  # empty batch: nothing to fold, watermark unmoved
        if state["max_day"] is not None:
            cutoff_prev = state["max_day"] - late_days
            if probe.lo <= cutoff_prev:
                raise RuntimeError(
                    "k-anonymity monitor: batch carries day "
                    f"{probe.lo} at or before the closed watermark "
                    f"{cutoff_prev} (max_day={state['max_day']}, "
                    f"late_days={late_days}) — a closed day's census "
                    "can no longer absorb new users; raise late_days "
                    "or fix the upstream ordering"
                )
        state["max_day"] = (
            probe.hi
            if state["max_day"] is None
            else max(state["max_day"], probe.hi)
        )
    merged = (
        state["open"]
        .union(batch_uc)
        .groupBy("event_type", "day", "bucket", "user_id")
        .agg(F.sum("n_rows").cast("bigint").alias("n_rows"))
        # checkpoint ONCE before the open/closed split: both filtered
        # children read these blocks, so the merge shuffle (and the
        # batch's qi fold inside it) runs once per batch, not twice
        .localCheckpoint()
    )
    if late_days is None:
        state["open"] = merged
        return
    cutoff = state["max_day"] - late_days
    closing = merged.filter(F.col("day") <= cutoff)
    # a day closes exactly once (new arrivals for it would have tripped
    # the guard), so closed census rows never need re-merging
    state["closed"] = (
        state["closed"].union(cells_census(closing)).localCheckpoint()
    )
    state["open"] = merged.filter(F.col("day") > cutoff)


def privacy_monitor_census(state: dict, k: int = K_ANON) -> DataFrame:
    """The monitor's current census: open user-cells collapse through
    the same ``cells_census`` the compaction used, then union the
    closed contributions — bit-equal to the batch audit because cells
    partition (type, day, bucket) space between open and closed."""
    return census_from_cells(
        cells_census(state["open"]).union(state["closed"]), k=k
    )


def run_k_anonymity_monitor_stream(
    spark: SparkSession,
    source_dir: str,
    k: int = K_ANON,
    late_days: int | None = None,
    stats: dict | None = None,
) -> DataFrame:
    """Replay ``source_dir`` (``drain_file_stream``),
    accumulate the per-user QI-cell table additively (compacting closed
    days to census rows when ``late_days`` is set), and return the
    k-anonymity census of the accumulated traffic.

    ``stats`` (optional) receives {"open_user_rows", "closed_cells",
    "open_days"} — the state-bound evidence the compaction test pins.
    """
    from .cdc_stream import EVENTS_STREAM_SCHEMA

    state = {
        "open": empty_df(spark, _UC_SCHEMA),
        "closed": empty_df(spark, _CELL_SCHEMA),
        "max_day": None,
    }

    def process_batch(batch_df: DataFrame, epoch_id: int) -> None:
        fold_privacy_batch(state, qi_user_cells(batch_df), late_days)

    drain_file_stream(spark, source_dir, EVENTS_STREAM_SCHEMA, process_batch)
    if stats is not None:
        stats.update(
            {
                "open_user_rows": state["open"].count(),
                "closed_cells": state["closed"].count(),
                "open_days": state["open"]
                .select("day")
                .distinct()
                .count(),
            }
        )
    if late_days is None:
        return census_from_user_cells(state["open"], k=k)
    return privacy_monitor_census(state, k=k)


def run_l_diversity_monitor_stream(
    spark: SparkSession,
    source_dir: str,
    l_min: int | None = None,
) -> DataFrame:
    """Streaming l-diversity monitor — the deployment form of
    ``l_diversity_audit``. Unlike the k-monitor, the state here is the
    (day, bucket, event_type, n_rows) cell table, which is FULLY
    ADDITIVE (row counts, no distincts): per-batch folds merge with a
    sum and the accumulated census is bit-equal to the batch audit
    under ANY chunking, with no watermark needed — the state is
    calendar×buckets×alphabet-bounded by construction, never
    user-scaled. Driver traffic per batch: none."""
    from ..operators.privacy import (
        L_DIVERSE,
        l_census_from_type_cells,
        qi_type_cells,
    )
    from .cdc_stream import EVENTS_STREAM_SCHEMA

    if l_min is None:
        l_min = L_DIVERSE
    tri_schema = "day bigint, bucket int, event_type string, n_rows bigint"
    state = {"tri": empty_df(spark, tri_schema)}

    def process_batch(batch_df: DataFrame, epoch_id: int) -> None:
        state["tri"] = (
            state["tri"]
            .union(qi_type_cells(batch_df).select(
                "day", "bucket", "event_type", "n_rows"
            ))
            .groupBy("day", "bucket", "event_type")
            .agg(F.sum("n_rows").cast("bigint").alias("n_rows"))
            .localCheckpoint()
        )

    drain_file_stream(spark, source_dir, EVENTS_STREAM_SCHEMA, process_batch)
    return l_census_from_type_cells(state["tri"], l_min=l_min)
