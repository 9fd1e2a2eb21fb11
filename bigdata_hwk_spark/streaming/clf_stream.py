"""Streaming deployment of the ridge document classifier
(operators/classifier.py).

Not in the reference (SURVEY.md §2.11 north-star extensions): the
production shape of a quality filter is score-at-ingest — the model is
FIT ONCE on a labeled reference window (``ridge_fit``; a (dim+1)-float
artifact), frozen, and every arriving micro-batch is scored with
``ridge_score`` and appended to a parquet sink. The same freeze
discipline as the DSIR and mixture streams:

* **chunking-independence** — a document's score is a pure function of
  (its own hashed counts, the frozen weights): the per-doc margin is an
  exact integer dot against the micro-unit-quantized weights, so ANY
  chunking of the same corpus produces byte-identical scored rows
  (pinned by the streaming ≡ batch test);
* **O(batch) work** — per micro-batch: one feature explode over the
  batch, one broadcast of dim+1 weight rows, one per-doc fold, one
  append. Nothing retrains, nothing rescans the reference window, and
  the driver never holds a document row.

Model drift is observable the same way DSIR's distribution drift is:
re-fit on a newer labeled window and diff the two (dim+1)-row weight
tables before swapping them in.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame, SparkSession

from ..operators.classifier import CLF_DIM, ridge_score
from .mixture_stream import DOCS_STREAM_SCHEMA
from .sources import drain_file_stream


def run_classifier_score_stream(
    spark: SparkSession,
    source_dir: str,
    weights: np.ndarray,
    out_dir: str,
    dim: int = CLF_DIM,
) -> DataFrame:
    """Replay ``source_dir`` (``drain_file_stream``) through the
    frozen-weights scorer, appending (doc_id, score, pred) rows to
    ``out_dir``; returns the sink as a DataFrame.

    ``weights`` — the float64[dim+1] artifact from ``ridge_fit`` (last
    entry = bias). Weights are a driver-held constant; each batch pays
    one broadcast of dim+1 quantized rows (inside ``ridge_score``),
    never a refit.
    """

    def process_batch(batch_df: DataFrame, epoch_id: int) -> None:
        ridge_score(batch_df, weights, dim).write.mode("append").parquet(
            out_dir
        )

    drain_file_stream(spark, source_dir, DOCS_STREAM_SCHEMA, process_batch)
    return spark.read.parquet(out_dir)
