"""Streaming deployment of the declarative constraint audit.

The batch audit (``operators/audit.py``) validates a finished table; the
production shape for a table that ARRIVES — CDC feeds, ingest streams —
is incremental validation, and Deequ's published answer (Schelter et al.
VLDB 2018, §3.3 "incremental computation") is to keep per-metric STATES
that merge associatively across batches. Every constraint here has an
exactly-mergeable state:

* row-local checks and the FK containment count are ADDITIVE — each
  micro-batch appends its (constraint, violations) partial row, and the
  final value is a sum. Streaming totals equal the batch audit exactly,
  under ANY chunking of the same rows (pinned by test).
* key uniqueness is the one constraint whose exact state is
  key-set-sized, so its streaming form is the HLL register table
  (``operators/sketches.py`` — ≤ 2^p rows per batch, merged by
  register-max, order- and chunking-invariant). The result row is
  explicitly marked ``exact = false``: duplicates ≈ n_rows − HLL
  estimate, the documented honest trade — an exact streaming uniqueness
  check would require shuffling every key into state, which is a join,
  not a sketch.

Per micro-batch work: ONE aggregation over the batch (all row checks),
one key-only anti-join against the frozen dim, one ≤ 2^p-row register
append. The driver never holds a data row; both sinks are tiny parquet
appends.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.audit import LINEITEM_KEY, LINEITEM_ROW_CHECKS
from ..operators.sketches import HLL_P, _hll_alpha, hll_registers
from .sources import drain_file_stream

LINEITEM_STREAM_SCHEMA = (
    "l_orderkey bigint, l_partkey bigint, l_suppkey bigint, "
    "l_linenumber int, l_quantity double, l_extendedprice double, "
    "l_discount double, l_tax double, l_returnflag string, "
    "l_linestatus string, l_shipdate timestamp"
)
ROWS_MARKER = "__rows"
UNIQUE_APPROX = "unique_orderkey_linenumber_approx"


def _pk_item() -> F.Column:
    """Engine-stable string form of the PK tuple for the HLL domain."""
    return F.concat_ws(
        "|", *[F.col(c).cast("string") for c in LINEITEM_KEY]
    )


def batch_counts(batch_df: DataFrame, orders_keys: DataFrame) -> DataFrame:
    """(constraint, violations) partials for one batch: all row-local
    checks + the row count in ONE aggregation, FK orphans as a key-only
    anti-join. Every value is additive across batches."""
    row_sums = [
        F.sum(F.expr(pred).cast("bigint")).alias(name)
        for name, pred in LINEITEM_ROW_CHECKS
    ]
    one = batch_df.agg(F.count(F.lit(1)).alias("__n"), *row_sums)
    names = [name for name, _ in LINEITEM_ROW_CHECKS]
    stacked = one.select(
        F.expr(
            "stack({}, {}) as (constraint, violations)".format(
                len(names) + 1,
                ", ".join(
                    [f"'{n}', {n}" for n in names]
                    + [f"'{ROWS_MARKER}', __n"]
                ),
            )
        )
    )
    fk = (
        batch_df.select("l_orderkey")
        .join(
            orders_keys,
            F.col("l_orderkey") == F.col("o_orderkey"),
            "left_anti",
        )
        .agg(F.count(F.lit(1)).alias("violations"))
        .select(
            F.lit("fk_orderkey_in_orders").alias("constraint"), "violations"
        )
    )
    return stacked.unionByName(fk).select(
        "constraint",
        F.coalesce(F.col("violations"), F.lit(0))
        .cast("bigint")
        .alias("violations"),
    )


def run_audit_stream(
    spark: SparkSession,
    source_dir: str,
    orders: DataFrame,
    counts_dir: str,
    registers_dir: str,
) -> None:
    """Replay ``source_dir`` (``drain_file_stream``) through the
    incremental audit, appending additive (constraint, violations)
    partials to ``counts_dir`` and per-batch HLL register tables over
    the PK to ``registers_dir``."""
    # freeze the dim's key projection once, EXECUTOR-side: localCheckpoint
    # materializes the distinct keys so no batch recomputes them, without
    # ever collecting a (potentially corpus-sized) key set to the driver —
    # the dsir_stream freeze pattern is for ≤4096-row artifacts, not dims.
    # Join strategy stays with AQE: it broadcasts when the key table fits
    # and shuffle-hash-joins when it doesn't.
    orders_keys = orders.select("o_orderkey").distinct().localCheckpoint()

    def process_batch(batch_df: DataFrame, epoch_id: int) -> None:
        # epoch-keyed OVERWRITE, not append: foreachBatch may retry an
        # epoch after a failure (and a full replay re-numbers from 0), so
        # each epoch's partials land in their own partition directory and
        # a rerun replaces rather than double-counts them — the
        # exactly-once discipline additive state needs (pinned by the
        # rerun-idempotence test)
        batch_counts(batch_df, orders_keys).write.mode("overwrite").parquet(
            f"{counts_dir}/epoch={epoch_id}"
        )
        hll_registers(
            batch_df.select(_pk_item().alias("item")), "item"
        ).write.mode("overwrite").parquet(f"{registers_dir}/epoch={epoch_id}")

    drain_file_stream(spark, source_dir, LINEITEM_STREAM_SCHEMA, process_batch)


def merged_registers(spark: SparkSession, registers_dir: str) -> DataFrame:
    """Register-max merge of every appended batch sketch — order- and
    chunking-invariant, so it equals the one-shot batch register table
    bit-for-bit (pinned by test)."""
    return (
        spark.read.parquet(registers_dir)
        .groupBy("bucket")
        .agg(F.max("max_rho").alias("max_rho"))
    )


def audit_stream_result(
    spark: SparkSession,
    counts_dir: str,
    registers_dir: str,
    p: int = HLL_P,
) -> DataFrame:
    """(constraint, violations, passed, exact): fold the appended
    partials — sums for the additive constraints (exact = true; equal to
    the batch audit by additivity), and the HLL-estimated duplicate
    count for key uniqueness (exact = false; ≈1.04/√2^p relative
    error, the documented streaming trade)."""
    m = 1 << p
    rho_max = 61 - p
    sums = (
        spark.read.parquet(counts_dir)
        .groupBy("constraint")
        .agg(F.sum("violations").alias("violations"))
    )
    n_rows = (
        sums.filter(F.col("constraint") == ROWS_MARKER)
        .select("violations")
        .collect()[0][0]
    )
    additive = sums.filter(F.col("constraint") != ROWS_MARKER).select(
        "constraint",
        F.col("violations").cast("bigint").alias("violations"),
        (F.col("violations") == 0).alias("passed"),
        F.lit(True).alias("exact"),
    )
    regs = merged_registers(spark, registers_dir).agg(
        F.count(F.lit(1)).alias("n_present"),
        F.sum(
            F.pow(F.lit(2.0), F.lit(rho_max) - F.col("max_rho")).cast(
                "bigint"
            )
        ).alias("s_present"),
    )
    v = F.lit(m) - F.col("n_present")
    s_scaled = F.col("s_present") + v * F.lit(1 << rho_max)
    e_raw = F.lit(_hll_alpha(m) * m * m * (1 << rho_max)) / s_scaled
    est = F.when(
        (v > 0) & (e_raw <= 2.5 * m),
        F.lit(float(m)) * F.log(F.lit(float(m)) / v),
    ).otherwise(e_raw)
    dup = regs.select(
        F.lit(UNIQUE_APPROX).alias("constraint"),
        F.greatest(
            F.lit(0), F.lit(n_rows) - F.round(est).cast("bigint")
        ).alias("violations"),
    ).select(
        "constraint",
        "violations",
        (F.col("violations") == 0).alias("passed"),
        F.lit(False).alias("exact"),
    )
    return additive.unionByName(dup).orderBy("constraint")
