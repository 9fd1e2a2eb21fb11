"""JSONL source/sink: lossless round-trip vs parquet, corrupt-line
quarantine (PERMISSIVE capture), schema-first typing."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from bigdata_hwk_spark.sources import jsonl as J
from tests.conftest import SF_SMOKE, assert_matches_oracle


def test_roundtrip_profile_matches_parquet_oracle(spark, tmp_path):
    assert_matches_oracle(
        J.documents_jsonl_roundtrip_profile(
            spark, SF_SMOKE, work_dir=str(tmp_path / "shards")
        ),
        J.documents_jsonl_roundtrip_sql(),
        SF_SMOKE,
    )


def test_roundtrip_rows_are_identical(spark, tmp_path):
    """Row-for-row equality, not just aggregates."""
    docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
    out = str(tmp_path / "shards")
    J.write_documents_jsonl(docs, out)
    clean, quarantine, release = J.split_corrupt(
        J.read_documents_jsonl(spark, out)
    )
    assert quarantine.count() == 0
    a = sorted(tuple(r) for r in docs.collect())
    b = sorted(tuple(r) for r in clean.select(*docs.columns).collect())
    assert a == b
    release()


def test_corrupt_lines_are_quarantined_not_fatal(spark, tmp_path):
    out = tmp_path / "mixed"
    out.mkdir()
    good1 = '{"doc_id": 1, "text": "hello", "lang": "en", "source": "web", "n_chars": 5}'
    bad = '{"doc_id": 2, "text": "unterminated'
    good2 = '{"doc_id": 3, "text": "world", "lang": "fr", "source": "web", "n_chars": 5}'
    (out / "part-0.json").write_text(f"{good1}\n{bad}\n{good2}\n")
    clean, quarantine, release = J.split_corrupt(
        J.read_documents_jsonl(spark, str(out))
    )
    assert {r["doc_id"] for r in clean.collect()} == {1, 3}
    q = quarantine.collect()
    assert len(q) == 1 and q[0]["raw_line"] == bad
    # schema-first: typed columns, no inference drift
    assert dict(clean.dtypes)["doc_id"] == "bigint"
    assert dict(clean.dtypes)["n_chars"] == "bigint"
    release()


def test_type_mismatch_rows_are_captured_too(spark, tmp_path):
    """A syntactically-valid JSON line whose doc_id is not castable is a
    corrupt record under the explicit schema — captured, not coerced."""
    out = tmp_path / "typed"
    out.mkdir()
    bad_type = '{"doc_id": "not-a-number", "text": "x", "lang": "en", "source": "s", "n_chars": 1}'
    (out / "part-0.json").write_text(bad_type + "\n")
    clean, quarantine, release = J.split_corrupt(
        J.read_documents_jsonl(spark, str(out))
    )
    assert clean.count() == 0
    assert quarantine.count() == 1
    release()


def test_roundtrip_profile_releases_parse_cache(spark, tmp_path):
    """The profile caches the PERMISSIVE parse (Spark's own contract for
    corrupt-column plans) but must unpersist it before returning —
    repeated invocations (warm+timed bench passes) must not accumulate
    pinned corpora in executor storage."""
    before = spark.sparkContext._jsc.getPersistentRDDs().size()
    J.documents_jsonl_roundtrip_profile(
        spark, SF_SMOKE, work_dir=str(tmp_path / "shards")
    )
    after = spark.sparkContext._jsc.getPersistentRDDs().size()
    assert after == before


# ---------------------------------------------------------------- ORC
def test_orc_roundtrip_matches_oracle_smoke(spark):
    from bigdata_hwk_spark import registry

    from .conftest import SF_SMOKE, assert_matches_oracle

    assert_matches_oracle(
        registry.QUERIES["documents_orc_roundtrip"](spark, SF_SMOKE),
        registry.ORACLES["documents_orc_roundtrip"],
        SF_SMOKE,
    )


# Every one-row roundtrip profile that builds into its own temp directory.
TEMP_DIR_PROFILES = {
    "jsonl": ("sources.jsonl", "documents_jsonl_roundtrip_profile"),
    "orc": ("sources.orc", "documents_orc_roundtrip_profile"),
    "pq_index": ("operators.similarity", "pq_index_roundtrip_profile"),
    "text_index": ("operators.retrieval", "text_index_roundtrip_profile"),
}


@pytest.mark.parametrize("profile", sorted(TEMP_DIR_PROFILES))
def test_roundtrip_profile_removes_its_temp_dir(
    spark, tmp_path, monkeypatch, profile
):
    """The profile's own temp directory is gone once the call returns,
    while the returned frame (and any plan derived from it) still
    evaluates; a caller-supplied ``work_dir`` is kept."""
    import gc
    import importlib
    import os
    import tempfile

    module, name = TEMP_DIR_PROFILES[profile]
    run = getattr(importlib.import_module(f"bigdata_hwk_spark.{module}"), name)
    made = []
    mkdtemp = tempfile.mkdtemp

    def spy(*a, **kw):
        made.append(mkdtemp(*a, **kw))
        return made[-1]

    monkeypatch.setattr(tempfile, "mkdtemp", spy)
    df = run(spark, SF_SMOKE)
    assert len(made) == 1 and not os.path.exists(made[0])
    [row] = df.collect()
    assert row[0] > 0  # each profile leads with a count of what it wrote
    del df
    gc.collect()
    assert not os.path.exists(made[0])

    keep = str(tmp_path / f"{profile}_keep")
    kept = run(spark, SF_SMOKE, work_dir=keep)
    assert kept.collect() == [row]
    assert os.listdir(keep) and len(made) == 1


def test_orc_checksum_moves_on_content_drift(spark, tmp_path):
    """The round-trip certificate is content-sensitive: flipping ONE
    character of ONE document between write and read-back moves the
    xor fold (the aggregate-only profile would still match if lengths
    were preserved)."""
    from pyspark.sql import functions as F

    from bigdata_hwk_spark.operators.reconcile import (
        _hash_pair_cols,
        canon_row,
    )
    from bigdata_hwk_spark.sources.orc import (
        DOCUMENTS_CANON,
        read_documents_orc,
        write_documents_orc,
    )
    from bigdata_hwk_spark.sources.tables import load_table

    from .conftest import SF_SMOKE

    docs = load_table(spark, SF_SMOKE, "documents")
    out = str(tmp_path / "orc_docs")
    write_documents_orc(docs, out)
    back = read_documents_orc(spark, out)

    def fold(df):
        return tuple(
            df.select(*_hash_pair_cols(canon_row(DOCUMENTS_CANON)))
            .agg(
                F.expr("bit_xor(__ha)").alias("a"),
                F.expr("bit_xor(__hb)").alias("b"),
            )
            .collect()[0]
        )

    victim = docs.select(F.min("doc_id")).collect()[0][0]
    drifted = back.withColumn(
        "text",
        F.when(
            F.col("doc_id") == victim,
            F.concat(F.lit("X"), F.expr("substring(text, 2)")),
        ).otherwise(F.col("text")),
    )
    assert fold(back) == fold(docs)          # transcode is lossless
    assert fold(drifted) != fold(docs)       # one flipped char is caught
    # length-preserving flip: the aggregate profile alone would miss it
    assert (
        drifted.agg(F.sum(F.length("text"))).collect()[0][0]
        == docs.agg(F.sum(F.length("text"))).collect()[0][0]
    )
