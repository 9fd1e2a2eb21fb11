"""Degenerate-input hardening: empty tables, single rows, k > n, D ≤ 0.

Every operator must either produce the mathematically sensible empty/tiny
answer or fail with an explicit ValueError — never a partition-level
PythonException or a cryptic ANSI SQL error surfacing from deep in a job.
(Empirically, empty mapInPandas partitions, 1-D NumPy reshapes of empty
collections, and a radius-0 grid side were all real crashes before this
module pinned them.)
"""

from __future__ import annotations

import numpy as np
import pytest

from bigdata_hwk_spark.functions import text as TX
from bigdata_hwk_spark.operators import dedup as D
from bigdata_hwk_spark.operators import kcenter as KC
from bigdata_hwk_spark.operators import outliers as O
from bigdata_hwk_spark.operators import similarity as SIM
from bigdata_hwk_spark.operators import splits as SP


@pytest.fixture(scope="module")
def frames(spark):
    return {
        "pts0": spark.createDataFrame([], "point_id long, x double, y double"),
        "pts1": spark.createDataFrame(
            [(0, 1.0, 2.0)], "point_id long, x double, y double"
        ),
        "pts3": spark.createDataFrame(
            [(i, float(i), 0.0) for i in range(3)],
            "point_id long, x double, y double",
        ),
        "docs0": spark.createDataFrame([], "doc_id long, lang string, text string"),
        "embs0": spark.createDataFrame(
            [], "vec_id long, embedding array<double>"
        ),
        "embs1": spark.createDataFrame(
            [(0, [1.0, 0.0])], "vec_id long, embedding array<double>"
        ),
    }


def test_outliers_empty_and_single(frames):
    assert O.exact_outliers(frames["pts0"], 1.0, 3).count() == 0
    assert O.exact_outliers(frames["pts1"], 1.0, 3).count() == 1
    row = O.mr_approx_outliers_summary(frames["pts0"], 1.0, 3).collect()[0]
    assert (row.sure_outliers, row.uncertain_points) == (0, 0)
    row = O.mr_approx_outliers_summary(frames["pts1"], 1.0, 3).collect()[0]
    assert (row.sure_outliers, row.uncertain_points) == (1, 0)


def test_grid_rejects_nonpositive_d(frames):
    with pytest.raises(ValueError, match="positive|D > 0"):
        O.mr_approx_outliers_summary(frames["pts1"], 0.0, 3)
    with pytest.raises(ValueError, match="positive|D > 0"):
        O.exact_outliers(frames["pts1"], -1.0, 3)


def test_mrfft_empty_single_and_k_above_n(frames):
    centers, r = KC.mrfft(frames["pts0"], 3, 2)
    assert centers.shape == (0, 2) and r == 0.0
    centers, r = KC.mrfft(frames["pts1"], 3, 2)
    assert centers.shape == (1, 2) and r == 0.0
    # k > n: every point becomes a center, radius 0
    centers, r = KC.mrfft(frames["pts3"], 8, 2)
    assert sorted(map(tuple, centers)) == [(0.0, 0.0), (1.0, 0.0), (2.0, 0.0)]
    assert r == 0.0


def test_sequential_fft_degenerate():
    assert KC.sequential_fft(np.empty((0, 2)), 4).shape == (0, 2)
    one = np.array([[3.0, 4.0]])
    assert KC.sequential_fft(one, 4).tolist() == [[3.0, 4.0]]


def test_dedup_family_empty_corpus(frames):
    docs0 = frames["docs0"]
    assert D.doc_shingles(docs0).count() == 0
    assert D.minhash_lsh_pairs(docs0).count() == 0
    assert D.simhash_pairs(docs0).count() == 0
    assert D.dedup_clusters(docs0).count() == 0
    assert TX.tfidf_top_terms(docs0).count() == 0
    assert SP.hash_split(docs0).count() == 0
    assert SP.leakage_safe_split(docs0).count() == 0


def test_similarity_family_empty_corpus(frames):
    embs0 = frames["embs0"]
    df = SIM.similar_pairs_threshold(embs0)
    assert df.columns == ["vec_a", "vec_b", "cosine"] and df.count() == 0
    df = SIM.ann_ivf_topk(embs0)
    assert df.columns == ["query_id", "neighbor_id", "cosine", "rk"]
    assert df.count() == 0
    assert SIM.ann_lsh_pairs(embs0).count() == 0
    assert SIM.cosine_topk_bruteforce(embs0).count() == 0
    # single vector: no pairs, but no crash either
    assert SIM.similar_pairs_threshold(frames["embs1"]).count() == 0


def test_persist_scoped_respects_outer_cache_ownership(spark):
    """release() must be a no-op when an outer consumer already cached the
    identical plan, and a real unpersist when this call created the entry
    (round-8 ADVICE on connected_components' edges cache)."""
    from bigdata_hwk_spark.session import persist_scoped

    outer = spark.range(64).selectExpr("id", "id * 2 AS y").persist()
    outer.count()
    inner, release = persist_scoped(outer)
    release()
    assert outer.storageLevel.useMemory, (
        "scoped release dropped a cache entry it did not create"
    )
    outer.unpersist()

    fresh = spark.range(64).selectExpr("id", "id * 3 AS z")
    cached, release2 = persist_scoped(fresh)
    cached.count()
    assert cached.storageLevel.useMemory
    release2()
    assert not cached.storageLevel.useMemory


def test_shared_hits_reuse_handles_without_jobs(spark):
    """Two hits run ``build`` once, return the very handles the miss
    persisted, and launch no Spark job (the hit probe is a CacheManager
    lookup, not an action)."""
    from bigdata_hwk_spark.session import shared

    from .conftest import jobs_in_group

    calls = []

    def build():
        calls.append(1)
        return spark.range(50).selectExpr("id", "id * 5 AS v")

    key = ("test_shared_hits",)
    first = shared(spark, key, build)
    first.count()
    second = shared(spark, key, build)
    third, jobs = jobs_in_group(
        spark, "shared-hit", lambda: shared(spark, key, build)
    )
    assert len(calls) == 1
    assert second is first and third is first
    assert jobs == 0
    assert first.storageLevel.useMemory
    first.unpersist()


def test_shared_rebuilds_entry_dropped_by_clear_cache(spark):
    """After ``clearCache`` a hit is a miss: ``build`` runs again and the
    returned frames are persisted, never the stale unpersisted handles.
    A ``(df, None)`` entry takes the same path."""
    from bigdata_hwk_spark.session import shared

    calls = []

    def build():
        calls.append(1)
        return spark.range(40).selectExpr("id", "id * 7 AS w"), None

    key = ("test_shared_clear",)
    df, none = shared(spark, key, build)
    df.count()
    assert none is None and df.storageLevel.useMemory
    assert shared(spark, key, build) == (df, None)
    spark.catalog.clearCache()
    assert not df.storageLevel.useMemory
    df2, none2 = shared(spark, key, build)
    assert len(calls) == 2
    assert none2 is None and df2.storageLevel.useMemory
    df2.unpersist()


def test_lsh_shared_frames_held_after_clear_cache(spark):
    """The registry's LSH memo hands out persisted (pairs, components)
    after ``clearCache`` — not handles whose every read recomputes the
    whole shingle → MinHash → LSH pipeline."""
    from bigdata_hwk_spark import registry

    from .conftest import SF_SMOKE

    registry._lsh_shared(spark, SF_SMOKE)
    spark.catalog.clearCache()
    pairs, comp = registry._lsh_shared(spark, SF_SMOKE)
    assert pairs.storageLevel.useMemory and comp.storageLevel.useMemory


def test_empty_df_plans_as_empty_local_relation(spark):
    """``empty_df`` reads nothing through Python workers: its optimized
    plan is an empty ``LocalRelation`` (not a ``LogicalRDD`` over
    pickled slices), with the schema ``createDataFrame([], …)`` gives."""
    from bigdata_hwk_spark.session import empty_df, local_df

    schema = "a bigint, b string, c array<double>"
    for df in (empty_df(spark, schema), local_df(spark, [], schema)):
        plan = df._jdf.queryExecution().optimizedPlan()
        assert plan.getClass().getSimpleName() == "LocalRelation"
        assert plan.data().isEmpty()
        assert df.schema == spark.createDataFrame([], schema).schema
        assert df.collect() == []


def test_similar_pairs_rejects_null_and_ragged_embeddings(spark):
    """The Arrow flat-buffer reshape must refuse corrupt input rather than
    silently misalign: ListArray.flatten() drops null rows, and a ragged
    column can still reshape whenever the element total divides num_rows
    (round-8 ADVICE, medium)."""
    import pytest as _pytest

    with_null = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, None), (3, [0.0, 1.0])],
        "vec_id long, embedding array<double>",
    )
    with _pytest.raises(ValueError, match="null embeddings"):
        SIM.similar_pairs_threshold(with_null)

    # 3 rows, lengths 1+2+3 = 6 elements — divisible by 3, so the old
    # reshape(num_rows, -1) would have SUCCEEDED with garbage pairing
    ragged = spark.createDataFrame(
        [(1, [1.0]), (2, [1.0, 0.0]), (3, [0.0, 1.0, 0.0])],
        "vec_id long, embedding array<double>",
    )
    with _pytest.raises(ValueError, match="ragged"):
        SIM.similar_pairs_threshold(ragged)
    # forced-exact path (gate bypassed) hits the same guards
    with _pytest.raises(ValueError, match="ragged"):
        SIM.similar_pairs_threshold(ragged, exact_max_rows=None)


def test_round3_ops_empty_and_single_doc(frames, spark):
    docs0 = frames["docs0"]
    docs1 = spark.createDataFrame(
        [(1, "en", "one tiny doc")], "doc_id long, lang string, text string"
    )
    assert TX.repetition_stats(docs0).count() == 0
    assert TX.repetition_stats(docs1).count() == 1
    assert TX.curation_funnel(docs0).count() == 0
    assert TX.pii_scrub(docs0).count() == 0
    assert SP.stratified_sample(docs0).count() == 0
    assert SP.stratified_sample(docs1).count() == 1
    assert SP.training_shard_manifest(docs0).count() == 0
    m = SP.training_shard_manifest(docs1).collect()
    assert len(m) == 1 and m[0].shard_id == 0 and m[0].n_docs == 1
    assert D.incremental_lsh_pairs(docs0, docs1).count() == 0
    assert D.incremental_lsh_pairs(docs1, docs0).count() == 0


def test_round3_embedding_clusters_empty(frames):
    assert SIM.embedding_dedup_clusters(frames["embs0"]).count() == 0
    assert SIM.embedding_dedup_clusters(frames["embs1"]).count() == 0


def test_round5_ops_empty_and_degenerate(frames, spark):
    """Round-5 operators on empty/degenerate inputs: empty results or
    well-defined zeros, never a crash."""
    from pyspark.sql import functions as F

    from bigdata_hwk_spark.operators import sketches as SK

    docs0 = frames["docs0"]
    docs0_src = spark.createDataFrame(
        [], "doc_id long, lang string, text string, source string"
    )
    assert D.duplication_profile(docs0).count() == 0
    assert SP.source_mix_weights(docs0_src).count() == 0
    assert TX.token_length_histogram(docs0).count() == 0
    assert SP.training_shard_manifest(docs0).count() == 0

    # single doc: all its shingles are unique by definition
    one = spark.createDataFrame(
        [(1, "en", "a b c d e")], "doc_id long, lang string, text string"
    )
    row = D.duplication_profile(one).collect()[0]
    assert row.n_dup_shingles == 0 and row.dup_fraction == 0.0
    # one source gets the whole mixing weight
    mix = SP.source_mix_weights(one.withColumn("source", F.lit("s0"))).collect()
    assert len(mix) == 1 and mix[0].mix_weight == 1.0 and mix[0].p_tokens == 1.0

    # zero embedding vector: quantizes to explicit zeros, no div-by-zero null
    embq = spark.createDataFrame(
        [(0, [0.0, 0.0, 0.0]), (1, [0.5, -1.0, 0.25])],
        "vec_id long, embedding array<double>",
    )
    got = {r.vec_id: r for r in SIM.embedding_quantization_stats(embq).collect()}
    assert got[0].sum_q == 0 and got[0].sum_abs_q == 0 and got[0].max_abs == 0.0
    assert got[1].sum_abs_q > 0

    # a zero-norm vector must not crash brute-force cosine (ANSI divide)
    # and is excluded (undefined cosine), not ranked
    embz = spark.createDataFrame(
        [(0, [1.0, 0.0]), (1, [0.0, 0.0]), (2, [0.8, 0.6]), (3, [0.0, 1.0])],
        "vec_id long, embedding array<double>",
    )
    topk = SIM.cosine_topk_bruteforce(embz, n_queries=2, k=5).collect()
    assert topk
    assert all(r.neighbor_id != 1 and r.query_id != 1 for r in topk)

    # bloom: empty corpus claims nothing; empty probes produce no rows
    keys0 = spark.createDataFrame([], "key string")
    keys2 = spark.createDataFrame([("a",), ("b",)], "key string")
    rows = SK.bloom_membership(keys0, keys2).collect()
    assert {r.key: r.claimed_present for r in rows} == {"a": False, "b": False}
    assert all(not r.actually_present for r in rows)
    assert SK.bloom_membership(keys2, keys0).count() == 0


def test_round6_text_ops_empty_and_degenerate(frames, spark):
    """Round-6 text operators on empty corpora and degenerate docs: empty
    results or sensible per-doc rows, never a crash."""
    from bigdata_hwk_spark.functions import text as TX

    docs0 = frames["docs0"]
    assert TX.trim_repeated_ngrams(docs0).collect() == []
    assert TX.chunk_documents(docs0).collect() == []
    assert TX.token_length_histogram(docs0).collect() == []

    weird = spark.createDataFrame(
        [(1, ""), (2, "   "), (3, "x"), (4, "a a a a a a a a")],
        "doc_id long, text string",
    )
    trimmed = {r.doc_id: r for r in TX.trim_repeated_ngrams(weird).collect()}
    # empty/whitespace docs have zero tokens → no output row (both engines)
    assert set(trimmed) == {3, 4}
    assert trimmed[3].clean_text == "x" and trimmed[3].n_kept == 1
    # 'a'×8: every 3-gram after the first repeats → first 3 tokens survive
    assert trimmed[4].n_tokens == 8 and trimmed[4].n_kept == 3

    chunks = TX.chunk_documents(weird, w=3).collect()
    by_doc = {}
    for r in chunks:
        by_doc.setdefault(r.doc_id, []).append((r.chunk_id, r.n_tokens))
    assert set(by_doc) == {3, 4}
    assert by_doc[4] == [(0, 3), (1, 3), (2, 2)]
