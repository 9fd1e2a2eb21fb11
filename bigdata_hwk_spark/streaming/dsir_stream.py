"""Streaming deployment of DSIR importance scoring (functions/text.py).

Not in the reference (SURVEY.md §2.11 north-star extensions): the
production shape of importance-resampling data selection is
score-at-ingest — the ≤4096-row hashed-feature distribution table is
computed ONCE from a reference corpus window (``dsir_feature_dist``),
persisted, and every arriving micro-batch is scored against it with
``dsir_score_against_dist`` and appended to a parquet sink. Freezing the
distribution matters exactly like the mixture stream's frozen rates:

* **chunking-independence** — a document's score is a pure function of
  (its own features, the frozen table), never of which micro-batch it
  arrived in, so ANY chunking of the same corpus produces byte-identical
  scored rows (pinned by the streaming ≡ batch test);
* **O(batch) work** — per micro-batch: one feature explode over the
  batch, one BROADCAST join against the frozen table, one per-doc
  aggregate, one append. Nothing rescans the reference corpus, and the
  driver never holds a document row — the scored rows land in the sink
  (the file-sink append is the same exactly-once discipline as the
  engine's other foreachBatch loops).

Scoring drift is then observable for free: re-fit ``dsir_feature_dist``
on a newer window and diff the two ≤4096-row tables — a distribution
shift shows up as bucket-count movement before it shows up in model
quality.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from ..functions.text import DSIR_BUCKETS, dsir_score_against_dist
from .mixture_stream import DOCS_STREAM_SCHEMA
from .sources import drain_file_stream


def run_dsir_score_stream(
    spark: SparkSession,
    source_dir: str,
    dist: DataFrame,
    out_dir: str,
    buckets: int = DSIR_BUCKETS,
) -> DataFrame:
    """Replay ``source_dir`` (``drain_file_stream``) through the
    frozen-distribution scorer, appending (doc_id, n_feats,
    dsir_logratio) rows to ``out_dir``; returns the sink as a DataFrame.

    ``dist`` is a (b, cr, ct) table — typically
    ``dsir_feature_dist(reference_corpus)``. It is materialized to a
    local snapshot ONCE here (≤ buckets rows) so each micro-batch pays a
    broadcast of a tiny in-memory table, not a recomputation of the
    reference corpus aggregation.
    """
    # freeze: one driver-side materialization of the ≤ buckets-row
    # artifact; createDataFrame keeps every batch's plan free of the
    # reference corpus lineage
    frozen = spark.createDataFrame(
        dist.select("b", "cr", "ct").collect(), "b bigint, cr bigint, ct bigint"
    )

    def process_batch(batch_df: DataFrame, epoch_id: int) -> None:
        dsir_score_against_dist(batch_df, frozen, buckets).write.mode(
            "append"
        ).parquet(out_dir)

    drain_file_stream(spark, source_dir, DOCS_STREAM_SCHEMA, process_batch)
    return spark.read.parquet(out_dir)
