"""JSONL source/sink for the documents table — schema-first, corrupt-safe.

Web-scale text corpora overwhelmingly arrive as (gzipped) JSONL, so the
engine needs the same schema-first discipline here as the CSV point scan
(``points_csv.py``): NEVER let Spark infer the schema (inference is a
full extra pass over 100 TB and can silently type-drift between drops),
and NEVER let one malformed line kill a corpus read.

* ``write_documents_jsonl`` — gzip JSONL shards via the native JSON sink
  (JVM-side serialization; shard count = the DataFrame's partitioning,
  so callers control file sizes with the usual repartition levers).
* ``read_documents_jsonl`` — explicit schema + PERMISSIVE mode with a
  ``_corrupt_record`` capture column: well-formed lines parse to typed
  columns, malformed lines land whole in the capture column with every
  typed column null, and ``split_corrupt`` separates the two streams so
  the pipeline can quarantine bad lines to a sink instead of dying or
  silently dropping them (the three published failure policies —
  PERMISSIVE / DROPMALFORMED / FAILFAST — differ exactly in whether that
  choice is visible; quarantining keeps it auditable).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

DOCUMENTS_SCHEMA = (
    "doc_id bigint, text string, lang string, source string, "
    "n_chars bigint"
)
CORRUPT_COL = "_corrupt_record"


def write_documents_jsonl(documents: DataFrame, path: str) -> None:
    """Write the documents table as gzip JSONL shards (one file per
    partition — size shards with repartition upstream)."""
    documents.select(
        "doc_id", "text", "lang", "source", "n_chars"
    ).write.mode("overwrite").option("compression", "gzip").json(path)


def read_documents_jsonl(spark: SparkSession, path: str) -> DataFrame:
    """Schema-first PERMISSIVE read: typed columns + the corrupt-capture
    column (null for clean rows)."""
    return (
        spark.read.schema(DOCUMENTS_SCHEMA + f", {CORRUPT_COL} string")
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", CORRUPT_COL)
        .json(path)
    )


def split_corrupt(
    parsed: DataFrame,
) -> tuple[DataFrame, DataFrame, "Callable[[], None]"]:
    """(clean, quarantine, release): clean rows with the capture column
    dropped, the raw text of every malformed line for the quarantine
    sink, and a ``release()`` callback that unpersists the parse cache
    once both streams have drained.

    The parsed frame is cached here BY SPARK'S OWN CONTRACT: the JSON
    datasource refuses plans whose scan references only the corrupt
    column (QUERY_ONLY_CORRUPT_RECORD_COLUMN — the capture column is
    derived during parsing, so a corrupt-only scan would re-parse with
    nothing to parse into), and the documented remedy is to cache or
    materialize the parsed result first. That is also the efficient
    shape: clean and quarantine are two consumers of one parse, and at
    ingest scale both streams drain from the same pass (a foreachBatch
    writes clean shards and quarantined lines per micro-batch) rather
    than re-reading the corpus. The cache is scoped, not leaked: the
    caller invokes ``release()`` after consuming both streams —
    otherwise every invocation (warm+timed bench passes, repeated
    tests) pins another parsed corpus in executor storage."""
    from ..session import persist_scoped

    parsed, release = persist_scoped(parsed)
    clean = parsed.filter(F.col(CORRUPT_COL).isNull()).drop(CORRUPT_COL)
    quarantine = parsed.filter(F.col(CORRUPT_COL).isNotNull()).select(
        F.col(CORRUPT_COL).alias("raw_line")
    )
    return clean, quarantine, release


def documents_jsonl_roundtrip_profile(
    spark: SparkSession, sf_dir: str, work_dir: str | None = None
) -> DataFrame:
    """One-row profile proving the JSONL path is lossless: parquet →
    gzip JSONL shards → schema-first PERMISSIVE read → integer/content
    aggregate. The oracle runs the SAME aggregate on the parquet
    directly, so equality certifies the round-trip end to end (and the
    corrupt-capture column is asserted empty on a clean corpus).

    The shards land in a per-invocation temp directory (JSONL is a
    DERIVED artifact here — the fixture directory is read-only), removed
    before returning; a caller's ``work_dir`` is kept."""
    import shutil
    import tempfile

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    out = work_dir or tempfile.mkdtemp(prefix="jsonl_roundtrip_")
    release = lambda: None  # noqa: E731
    try:
        write_documents_jsonl(docs, out)
        clean, quarantine, release = split_corrupt(
            read_documents_jsonl(spark, out)
        )
        n_bad = quarantine.count()  # scalar metadata: clean corpus → 0
        # materialize the one-row profile WHILE the parse cache is hot,
        # then release it — returning the lazy plan instead would leave
        # the cache pinned (or force a second parse) after release()
        row = clean.agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.count_distinct("doc_id").alias("n_ids"),
            F.sum("n_chars").alias("sum_chars"),
            F.sum(F.length("text")).alias("sum_text_len"),
            F.count_distinct("lang").alias("n_langs"),
            F.count_distinct("source").alias("n_sources"),
            F.lit(n_bad).cast("bigint").alias("n_corrupt"),
        ).collect()[0]
    finally:
        release()
        if not work_dir:
            shutil.rmtree(out, ignore_errors=True)
    return spark.createDataFrame(
        [row],
        "n_docs bigint, n_ids bigint, sum_chars bigint, "
        "sum_text_len bigint, n_langs bigint, n_sources bigint, "
        "n_corrupt bigint",
    )


def documents_jsonl_roundtrip_sql() -> str:
    """Oracle: the same aggregate straight off the parquet — round-trip
    losslessness is the claim under test."""
    return """
SELECT CAST(count(*) AS BIGINT) AS n_docs,
       CAST(count(DISTINCT doc_id) AS BIGINT) AS n_ids,
       CAST(sum(n_chars) AS BIGINT) AS sum_chars,
       CAST(sum(length(text)) AS BIGINT) AS sum_text_len,
       CAST(count(DISTINCT lang) AS BIGINT) AS n_langs,
       CAST(count(DISTINCT source) AS BIGINT) AS n_sources,
       CAST(0 AS BIGINT) AS n_corrupt
FROM documents
"""
