"""Streaming deployment of the mixture resampler (operators/splits.py).

Not in the reference (SURVEY.md §2.11 north-star extensions): a
production mixing pipeline doesn't rescan the corpus per batch — it
FREEZES the per-source keep rates from a reference corpus window
(``mixture_rates``) and applies them to the ingest stream as a pure
per-row predicate. Freezing matters twice over:

* **chunking-independence** — rates re-derived per micro-batch would
  make a document's fate depend on which batch it arrived in; frozen
  rates + the salted-hash Bernoulli make the decision a function of
  (salt, doc_id, r_ppm) alone, so ANY chunking of the same corpus keeps
  exactly the same rows (pinned by the streaming ≡ batch test);
* **O(batch) work** — each micro-batch does one broadcast join against
  the O(sources) rate table, one codegen'd predicate, and one map-side-
  combined aggregate to O(sources) counter rows. The driver folds those
  counters into a running per-source tally — bounded metadata, the same
  legal driver-side accumulation as the running-checksum stream — and
  never sees a document row. (In production the kept rows would also
  stream to a sink; the counters are the monitoring surface.)
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.splits import _token_projection, mixture_keep
from .sources import drain_file_stream, write_chunk_files

DOCS_STREAM_SCHEMA = (
    "doc_id bigint, text string, lang string, source string, n_chars bigint"
)


def run_mixture_resample_stream(
    spark: SparkSession,
    source_dir: str,
    rates: DataFrame,
) -> DataFrame:
    """Replay ``source_dir`` (``drain_file_stream``) through the
    frozen-rate resampler; returns the final (source, n_docs, n_kept,
    kept_tokens) tally as a DataFrame.

    ``rates`` is a (source, r_ppm) table — typically
    ``mixture_rates(reference_corpus)``; sources absent from it are
    dropped entirely (rate 0), the conservative choice for a source that
    appeared after the reference window was frozen.
    """
    rate_tbl = rates.select("source", "r_ppm")
    totals: dict[str, list[int]] = {}

    def process_batch(batch_df: DataFrame, epoch_id: int) -> None:
        keep = mixture_keep()
        counters = (
            _token_projection(batch_df)
            .join(F.broadcast(rate_tbl), "source")
            .groupBy("source")
            .agg(
                F.count(F.lit(1)).alias("n_docs"),
                F.sum(F.when(keep, 1).otherwise(0))
                .cast("bigint")
                .alias("n_kept"),
                F.sum(F.when(keep, F.col("toks")).otherwise(0))
                .cast("bigint")
                .alias("kept_tokens"),
            )
        )
        for r in counters.collect():  # O(sources) rows — bounded metadata
            t = totals.setdefault(r["source"], [0, 0, 0])
            t[0] += r["n_docs"]
            t[1] += r["n_kept"]
            t[2] += r["kept_tokens"]

    drain_file_stream(spark, source_dir, DOCS_STREAM_SCHEMA, process_batch)
    return spark.createDataFrame(
        [(s, *v) for s, v in sorted(totals.items())],
        "source string, n_docs bigint, n_kept bigint, kept_tokens bigint",
    )


def chunk_documents_into_files(
    documents: DataFrame, out_dir: str, n_chunks: int = 4
) -> int:
    """Test/replay helper: write the corpus as one micro-batch file per
    doc_id residue class mod ``n_chunks`` (``write_chunk_files``). The
    tally is order-independent; the file order only makes the batch
    sequence deterministic. Returns the chunk count."""
    return write_chunk_files(
        documents, out_dir, F.pmod(F.col("doc_id"), F.lit(n_chunks))
    )
