"""ORC source/sink for the documents table — the second columnar format.

A 100 TB estate is rarely one format: long-lived Hive/Trino warehouses
hand over ORC, newer lakes hand over parquet, and the engine must read
both without a schema-inference pass or a lossy transcode. Spark's ORC
support is built in (native vectorized reader, predicate pushdown,
column pruning — the same scan properties the parquet path relies on),
so this module only has to pin the discipline: schema-first reads and a
round-trip proof strong enough to certify CONTENT equality, not just
matching aggregates.

The round-trip profile therefore carries the reconciliation family's
order-independent xor checksum (``operators/reconcile.py``) computed
over the canonicalized rows AFTER parquet → ORC → read-back: the DuckDB
oracle computes the identical fold straight off the parquet, so a hash
match certifies every row survived the transcode byte-for-byte under
the canonicalization — one corrupted string or dropped row moves the
fold. (DuckDB cannot read ORC; the oracle's role is exactly the
"other side" of the reconciliation, same as the replica-diff design.)
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .jsonl import DOCUMENTS_SCHEMA

DOCUMENTS_CANON = [
    ("doc_id", "int"),
    ("text", "str"),
    ("lang", "str"),
    ("source", "str"),
    ("n_chars", "int"),
]


def write_documents_orc(documents: DataFrame, path: str) -> None:
    """ORC shards (zlib, the format default) — one file per partition,
    sized with the usual repartition levers upstream."""
    documents.select(
        "doc_id", "text", "lang", "source", "n_chars"
    ).write.mode("overwrite").orc(path)


def read_documents_orc(spark: SparkSession, path: str) -> DataFrame:
    """Schema-first ORC read (no inference pass)."""
    return spark.read.schema(DOCUMENTS_SCHEMA).orc(path)


def documents_orc_roundtrip_profile(
    spark: SparkSession, sf_dir: str, work_dir: str | None = None
) -> DataFrame:
    """One row: (n_docs, n_ids, sum_chars, ck_a, ck_b) after parquet →
    ORC → schema-first read-back. The checksum halves are the
    reconciliation xor folds over the canonicalized rows, so equality
    with the oracle (same fold straight off the parquet) certifies the
    transcode content-lossless — stronger than the JSONL profile's
    aggregate-equality check.

    Without a caller-supplied ``work_dir`` the ORC shards go to a temp
    directory that is removed before returning: the one-row profile is
    ``localCheckpoint``-ed first, so no plan derived from the result
    reads the deleted files, however long the caller keeps it."""
    import shutil
    import tempfile

    from ..operators.reconcile import _hash_pair_cols, canon_row

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    out = work_dir or tempfile.mkdtemp(prefix="orc_roundtrip_")
    try:
        write_documents_orc(docs, out)
        back = read_documents_orc(spark, out)
        h = back.select(
            "doc_id", "n_chars", *_hash_pair_cols(canon_row(DOCUMENTS_CANON))
        )
        profile = h.agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.count_distinct("doc_id").alias("n_ids"),
            F.sum("n_chars").alias("sum_chars"),
            F.expr("bit_xor(__ha)").alias("ck_a"),
            F.expr("bit_xor(__hb)").alias("ck_b"),
        )
        return profile if work_dir else profile.localCheckpoint()
    finally:
        if not work_dir:
            shutil.rmtree(out, ignore_errors=True)


def documents_orc_roundtrip_sql() -> str:
    """Oracle: the identical canonical fold straight off the parquet."""
    from ..operators.reconcile import _hash_pair_sql, canon_row_sql

    m, ha, hb = _hash_pair_sql(canon_row_sql(DOCUMENTS_CANON))
    return f"""
WITH h0 AS (SELECT doc_id, n_chars, {m} AS m FROM documents)
SELECT CAST(count(*) AS BIGINT) AS n_docs,
       CAST(count(DISTINCT doc_id) AS BIGINT) AS n_ids,
       CAST(sum(n_chars) AS BIGINT) AS sum_chars,
       bit_xor({ha}) AS ck_a,
       bit_xor({hb}) AS ck_b
FROM h0
"""
