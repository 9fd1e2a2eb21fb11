"""Changelog MERGE / upsert — warehouse ``MERGE INTO`` as a pure plan.

Not in the reference (SURVEY.md §2.11 north-star extensions): applying a
change-data-capture stream to a keyed snapshot is the maintenance loop of
every large ingested table (Delta/Iceberg ``MERGE INTO``, Kafka compacted
topics, Debezium sinks). Three pieces, all shuffle-minimal:

* ``log_state`` — reduce an event log to its keyed end-state: the latest
  event per key (one window over the single per-key exchange), with a
  tombstone event type deleting the key. This is log-compaction semantics.
* ``reduce_changelog`` — the same reduction over an incoming batch, but
  keeping the op: ``D`` when the batch's last word on a key is the
  tombstone, ``U`` otherwise. A batch touching a key k times collapses to
  ONE change row before ever meeting the snapshot — at 100 TB the join
  below sees |keys-touched| rows, not |batch|.
* ``merge_upsert`` — one full-outer join of snapshot × reduced batch:
  matched + ``D`` → delete, matched + ``U`` → update, unmatched + ``U`` →
  insert, untouched → keep. The snapshot side is the big one; bucketing
  it by key makes the join exchange-free on that side, and a reduced
  batch small enough to broadcast skips the shuffle entirely.

The merge obeys the compaction algebra
``merge_upsert(log_state(log₁), reduce_changelog(log₂)) ≡
log_state(log₁ ∪ log₂)`` — last-writer-wins composes — which is exactly
what the oracle checks (it recomputes both sides independently in SQL).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

# The event type whose latest occurrence deletes the key (CDC tombstone).
TOMBSTONE = "error"
# Snapshot/batch boundary for the registry query: the log before this
# instant is the compacted snapshot, the rest is the incoming batch.
CDC_SPLIT_TS = "2024-01-16 00:00:00"


def _latest_per_key(
    events: DataFrame, key: str, ts: str, tiebreak: str
) -> DataFrame:
    w = Window.partitionBy(key).orderBy(
        F.col(ts).desc(), F.col(tiebreak).desc()
    )
    return (
        events.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


def log_state(
    events: DataFrame,
    key: str = "user_id",
    ts: str = "ts",
    tiebreak: str = "event_id",
) -> DataFrame:
    """(key, state_type, state_value, updated_at) — compacted end-state of
    an event log: the latest event per key, minus tombstoned keys."""
    latest = _latest_per_key(events, key, ts, tiebreak)
    return latest.filter(F.col("event_type") != TOMBSTONE).select(
        key,
        F.col("event_type").alias("state_type"),
        F.col("value").alias("state_value"),
        F.col(ts).alias("updated_at"),
    )


def reduce_changelog(
    batch: DataFrame,
    key: str = "user_id",
    ts: str = "ts",
    tiebreak: str = "event_id",
) -> DataFrame:
    """(key, op, state_type, state_value, updated_at) — one change row per
    key: the batch's final op (``D`` if its last event is the tombstone,
    else ``U`` carrying that event's payload)."""
    latest = _latest_per_key(batch, key, ts, tiebreak)
    return latest.select(
        key,
        F.when(F.col("event_type") == TOMBSTONE, "D")
        .otherwise("U")
        .alias("op"),
        F.col("event_type").alias("state_type"),
        F.col("value").alias("state_value"),
        F.col(ts).alias("updated_at"),
    )


def merge_upsert(
    base: DataFrame, changes: DataFrame, key: str = "user_id"
) -> DataFrame:
    """(key, state_type, state_value, updated_at, action) — MERGE INTO:
    apply a reduced changelog to a keyed snapshot.

    ``action`` records what the merge did per surviving row: ``kept``
    (key untouched by the batch), ``updated`` (matched, op U),
    ``inserted`` (not matched, op U). Matched-``D`` rows are deleted —
    they do not appear. ``changes`` must be key-unique (the
    ``reduce_changelog`` contract); the merge itself is then a single
    full-outer equi-join, no window.
    """
    b = base.alias("b")
    c = changes.alias("c")
    joined = b.join(c, on=key, how="full_outer")
    survive = F.col("c.op").isNull() | (F.col("c.op") == "U")
    action = (
        F.when(F.col("c.op").isNull(), "kept")
        .when(F.col("b.state_type").isNull(), "inserted")
        .otherwise("updated")
    )
    pick = F.col("c.op").isNotNull()
    return joined.filter(survive).select(
        key,
        F.when(pick, F.col("c.state_type"))
        .otherwise(F.col("b.state_type"))
        .alias("state_type"),
        F.when(pick, F.col("c.state_value"))
        .otherwise(F.col("b.state_value"))
        .alias("state_value"),
        F.when(pick, F.col("c.updated_at"))
        .otherwise(F.col("b.updated_at"))
        .alias("updated_at"),
        action.alias("action"),
    )


def cdc_merged_state(events: DataFrame, split_ts: str = CDC_SPLIT_TS) -> DataFrame:
    """The registry composition: snapshot the log before ``split_ts``,
    reduce the rest to a changelog, merge. By the compaction algebra the
    state columns equal ``log_state`` of the whole log; ``action``
    additionally pins which MERGE branch fired per key."""
    cut = F.col("ts") < F.to_timestamp(F.lit(split_ts))
    base = log_state(events.filter(cut))
    changes = reduce_changelog(events.filter(~cut))
    return merge_upsert(base, changes)


def cdc_merged_state_sql(split_ts: str = CDC_SPLIT_TS) -> str:
    """DuckDB oracle: both MERGE inputs recomputed independently; the
    output state must equal full-log compaction, and the action column
    must match the branch implied by the two halves."""
    return f"""
WITH latest_all AS (
  SELECT user_id, event_type, value, ts,
         row_number() OVER (PARTITION BY user_id
                            ORDER BY ts DESC, event_id DESC) AS rn,
         max(CASE WHEN ts <  TIMESTAMP '{split_ts}' THEN 1 ELSE 0 END)
           OVER (PARTITION BY user_id) AS has_old,
         max(CASE WHEN ts >= TIMESTAMP '{split_ts}' THEN 1 ELSE 0 END)
           OVER (PARTITION BY user_id) AS has_new
  FROM events),
latest_old AS (
  SELECT user_id, event_type FROM (
    SELECT user_id, event_type,
           row_number() OVER (PARTITION BY user_id
                              ORDER BY ts DESC, event_id DESC) AS rn
    FROM events WHERE ts < TIMESTAMP '{split_ts}') WHERE rn = 1),
final AS (
  SELECT a.user_id, a.event_type AS state_type, a.value AS state_value,
         a.ts AS updated_at,
         CASE WHEN a.has_new = 0 THEN 'kept'
              WHEN a.has_old = 1
                   AND (SELECT o.event_type FROM latest_old o
                        WHERE o.user_id = a.user_id) <> '{TOMBSTONE}'
                THEN 'updated'
              ELSE 'inserted' END AS action
  FROM latest_all a WHERE a.rn = 1 AND a.event_type <> '{TOMBSTONE}')
SELECT user_id, state_type, state_value, updated_at, action FROM final
"""


# ---------------------------------------------------------------------------
# Incremental view maintenance (delta-folded aggregate)
# ---------------------------------------------------------------------------

IVM_N_BATCHES = 6


def ivm_revenue_by_flag(
    lineitem: DataFrame, n_batches: int = IVM_N_BATCHES
) -> DataFrame:
    """A maintained materialized aggregate: per (l_returnflag,
    l_linestatus) — row count and revenue in integer cents — built from
    ``n_batches`` disjoint DELTA batches instead of one scan of the
    full table.

    The IVM contract (classic view-maintenance algebra: SUM/COUNT
    aggregates are self-maintainable under inserts): applying Δ to the
    state is a group-merge of two aggregate tables, associative and
    commutative, so applying the batches in any order or grouping lands
    on EXACTLY the direct aggregate — which is the DuckDB oracle, making
    the registry hash-match the proof that the incremental path loses
    nothing. Revenue rounds each row to cents BEFORE the integer sum
    (the ``customer_value_skyline`` device), so neither the batch split
    nor the merge order can move a float ulp.

    Deferred maintenance: every pending delta is applied in ONE refresh.
    One map-side-combined aggregate keyed by (delta, l_returnflag,
    l_linestatus) yields each delta's aggregate as rows in a single
    shuffle; the SUM/COUNT group-merge then folds those ≤ n_batches ×
    |groups| rows by (l_returnflag, l_linestatus). The result is one
    lazy plan: no driver-side loop, no eager job per delta. Batch
    assignment is deterministic (``l_orderkey % n_batches`` — a
    stand-in for arrival chunks; the algebra is assignment-independent
    and tests exercise other splits)."""
    if n_batches < 1:
        raise ValueError(f"n_batches must be >= 1, got {n_batches}")
    keys = ["l_returnflag", "l_linestatus"]
    deltas = lineitem.groupBy(
        (F.col("l_orderkey") % n_batches).alias("delta"), *keys
    ).agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(
            F.round(
                F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100, 0
            ).cast("bigint")
        ).alias("revenue_cents"),
    )
    return deltas.groupBy(*keys).agg(
        F.sum("n_rows").alias("n_rows"),
        F.sum("revenue_cents").alias("revenue_cents"),
    )


IVM_REVENUE_BY_FLAG_SQL = """
SELECT l_returnflag, l_linestatus,
       count(*) AS n_rows,
       CAST(sum(CAST(round(l_extendedprice * (1 - l_discount) * 100, 0)
                     AS BIGINT)) AS BIGINT) AS revenue_cents
FROM lineitem
GROUP BY 1, 2
"""
