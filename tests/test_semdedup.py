"""SemDeDup (distributed k-means + per-cluster cosine prune) property
tests — the rows-only coverage for ``semdedup_kept_counts``.

The kept decision depends on iterated k-means, which SQL cannot express;
what CAN be pinned is pinned here: an exact hand case with planted
duplicate groups, the keeper/coverage invariants recomputed in NumPy on
the real fixture, bit-determinism of the centroids and the prune under
re-layout (the point of the integer-quantized partial sums), and the
monotone spherical-k-means objective.
"""

from __future__ import annotations

import logging

import numpy as np
import pytest

from bigdata_hwk_spark.operators.similarity import (
    KMEANS_QUANT,
    SEMDEDUP_TAU,
    kmeans_fit,
    semdedup_kept_counts,
    semdedup_prune,
)
from bigdata_hwk_spark.sources.tables import fan_out, load_table

from .conftest import SF_CORRECT, SF_SMOKE


def _emb_df(spark, rows):
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>")


def test_semdedup_hand_case_planted_duplicates(spark):
    """Two planted duplicate groups + one distinct vector: exactly the
    lowest vec_id of each duplicate group survives, the distinct vector
    survives, and nn_cos reports ~1 for the dropped copies."""
    rows = [
        (0, [1.0, 0.0]),
        (1, [1.0, 0.0]),
        (2, [2.0, 0.0]),  # same direction, different norm — still cos 1
        (10, [0.0, 1.0]),
        (11, [0.0, 3.0]),
        (20, [1.0, 1.0]),  # cos 0.707 to both groups — below tau=0.9
    ]
    out = semdedup_prune(_emb_df(spark, rows), k=2, tau=0.9).collect()
    kept = {r.vec_id for r in out if r.kept}
    assert kept == {0, 10, 20}
    by_id = {r.vec_id: r for r in out}
    for dropped in (1, 2, 11):
        assert by_id[dropped].nn_cos >= 0.9
    # each planted group landed in ONE cluster (duplicates can't straddle)
    assert by_id[0].cluster == by_id[1].cluster == by_id[2].cluster
    assert by_id[10].cluster == by_id[11].cluster


def test_semdedup_invariants_on_fixture(spark):
    """Recompute the greedy prune in NumPy from the same (cluster,
    embedding) assignment and require the Spark kept flags to match
    EXACTLY; spot-check the two structural guarantees (dropped rows have
    a kept earlier neighbor at >= tau; kept rows entered below tau)."""
    emb = load_table(spark, SF_CORRECT, "embeddings")
    pruned = semdedup_prune(emb).collect()
    vecs = {
        r.vec_id: np.asarray(r.embedding, dtype=np.float64)
        for r in emb.select("vec_id", "embedding").collect()
    }
    assert len(pruned) == len(vecs)
    by_cluster: dict[int, list] = {}
    for r in pruned:
        by_cluster.setdefault(r.cluster, []).append(r)
    for rows in by_cluster.values():
        rows.sort(key=lambda r: r.vec_id)
        mat = np.array([vecs[r.vec_id] for r in rows])
        mat /= np.linalg.norm(mat, axis=1, keepdims=True)
        kept_idx: list[int] = []
        for i, r in enumerate(rows):
            mx = float((mat[kept_idx] @ mat[i]).max()) if kept_idx else -1.0
            expect_keep = mx < SEMDEDUP_TAU
            assert r.kept == expect_keep, r
            assert r.nn_cos == pytest.approx(round(mx, 6), abs=2e-6)
            if expect_keep:
                kept_idx.append(i)


def test_semdedup_deterministic_under_repartition(spark):
    """The whole pipeline (sampled init, integer-quantized Lloyd folds,
    per-cluster greedy) must produce IDENTICAL rows regardless of input
    layout — the property the KMEANS_QUANT design pays for."""
    emb = load_table(spark, SF_CORRECT, "embeddings")
    a = sorted(
        semdedup_prune(emb.repartition(13)).collect(),
        key=lambda r: r.vec_id,
    )
    b = sorted(
        semdedup_prune(emb.repartition(3, "vec_id")).collect(),
        key=lambda r: r.vec_id,
    )
    assert a == b


def test_kmeans_centers_deterministic_and_unit_norm(spark):
    emb = load_table(spark, SF_CORRECT, "embeddings")
    c1 = kmeans_fit(emb.repartition(11))
    c2 = kmeans_fit(emb.repartition(2, "vec_id"))
    assert c1.shape == c2.shape
    assert np.array_equal(c1, c2)  # bit-identical, not just close
    assert np.allclose(np.linalg.norm(c1, axis=1), 1.0)


def test_kmeans_objective_non_decreasing(spark):
    """Spherical k-means: mean max-cosine must not decrease across Lloyd
    iterations (up to integer-quantization jitter ~2^-20)."""
    emb = load_table(spark, SF_CORRECT, "embeddings")
    trace: list[float] = []
    kmeans_fit(emb, iters=4, inertia_out=trace)
    assert len(trace) == 4
    for prev, cur in zip(trace, trace[1:]):
        assert cur >= prev - 2.0 / KMEANS_QUANT


def test_semdedup_kept_counts_consistent(spark):
    emb = load_table(spark, SF_CORRECT, "embeddings")
    summary = semdedup_kept_counts(emb).collect()
    n = emb.count()
    assert sum(r.n_vectors for r in summary) == n
    assert all(0 < r.n_kept <= r.n_vectors for r in summary)
    # something actually pruned at the corpus tau (fixture has near-dups)
    assert sum(r.n_kept for r in summary) < n


def test_kept_counts_holds_corpus_cache_until_released(spark):
    """The persisted corpus that the prune reads lives exactly as long
    as the frame ``semdedup_kept_counts`` returns: still cached across
    a garbage collection while the frame is referenced, unpersisted
    once it is dropped."""
    import gc

    persisted = spark.sparkContext._jsc.getPersistentRDDs
    emb = load_table(spark, SF_CORRECT, "embeddings")
    gc.collect()
    baseline = persisted().size()
    summary = semdedup_kept_counts(emb)
    gc.collect()
    assert persisted().size() > baseline
    assert summary.count() > 0
    del summary
    gc.collect()
    assert persisted().size() == baseline


def test_zero_norm_vectors_excluded_not_poisonous(spark):
    """A zero-norm embedding (cosine undefined) must be EXCLUDED from
    the prune output, and must not corrupt the centroids: without the
    row filter, 0/0 -> NaN and np.rint(NaN).astype(int64) poisons the
    integer partial sums, flipping every downstream assignment."""
    rows = [
        (0, [1.0, 0.0]),
        (1, [1.0, 0.0]),
        (5, [0.0, 0.0]),  # planted zero-norm vector
        (10, [0.0, 1.0]),
        (11, [0.0, 2.0]),
    ]
    df = _emb_df(spark, rows)
    centers = kmeans_fit(df, k=2, iters=2)
    assert np.isfinite(centers).all()
    out = semdedup_prune(df, k=2, tau=0.9).collect()
    ids = {r.vec_id for r in out}
    assert 5 not in ids  # excluded, same contract as similar_pairs
    assert ids == {0, 1, 10, 11}
    kept = {r.vec_id for r in out if r.kept}
    assert kept == {0, 10}  # clean vectors still prune correctly


def test_all_zero_norm_corpus_degrades_cleanly(spark):
    """Every vector zero-norm: kmeans_fit returns an empty centroid set
    and semdedup_prune returns an empty frame rather than NaN output."""
    df = _emb_df(spark, [(0, [0.0, 0.0]), (1, [0.0, 0.0])])
    assert kmeans_fit(df, k=2, iters=1).size == 0
    assert semdedup_prune(df, k=2).count() == 0


def test_giant_cluster_cap_subclusters_within_budget(spark):
    """r9 verdict item 3: one cluster holding 80% of the corpus must not
    stall the O(c²) prune — above max_cluster_rows the task sub-clusters
    deterministically and prunes each piece. Planted duplicates (10
    copies of each of 40 directions) are identical vectors, so they
    land in the same sub-cluster at ANY granularity and still get
    pruned; clusters under the gate keep EXACTLY the ungated flags."""
    rng = np.random.default_rng(11)
    rows = []
    vid = 0
    base = rng.normal(size=(40, 8)) + np.array([5.0] + [0.0] * 7)  # one
    # dominant topic: all 400 bundle vectors share a strong common
    # component so k-means puts them in one cluster
    for d in range(40):
        for _ in range(10):
            rows.append((vid, [float(x) for x in base[d]]))
            vid += 1
    spread = rng.normal(size=(100, 8)) - np.array([5.0] + [0.0] * 7)
    for v in spread:
        rows.append((vid, [float(x) for x in v]))
        vid += 1
    df = _emb_df(spark, rows)

    capped = semdedup_prune(
        df, k=4, tau=0.9, iters=2, max_cluster_rows=50
    ).collect()
    uncapped = semdedup_prune(
        df, k=4, tau=0.9, iters=2, max_cluster_rows=10**9
    ).collect()
    assert len(capped) == len(uncapped) == 500

    sizes: dict[int, int] = {}
    for r in uncapped:
        sizes[r.cluster] = sizes.get(r.cluster, 0) + 1
    giant = {c for c, n in sizes.items() if n > 50}
    assert giant, "construction failed: expected a >50-row cluster"

    cap_by_id = {r.vec_id: r for r in capped}
    for r in uncapped:
        assert cap_by_id[r.vec_id].cluster == r.cluster  # assign unchanged
        if r.cluster not in giant:
            assert cap_by_id[r.vec_id].kept == r.kept, r.vec_id

    # duplicates still die inside the giant cluster(s): each planted
    # direction keeps at most one copy
    kept_giant = [
        r for r in capped if r.cluster in giant and r.kept and r.vec_id < 400
    ]
    assert 1 <= len(kept_giant) <= 40

    # determinism under re-layout, cap path included
    again = semdedup_prune(
        df.repartition(13), k=4, tau=0.9, iters=2, max_cluster_rows=50
    ).collect()
    assert sorted(map(tuple, capped)) == sorted(map(tuple, again))


def test_kmeans_fit_corpus_param_is_identical(spark):
    emb = spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet")
    a = kmeans_fit(emb, k=4, iters=2)
    corpus = fan_out(emb.select("vec_id", "embedding"))
    b = kmeans_fit(emb, k=4, iters=2, corpus=corpus)
    assert a.shape == b.shape
    assert np.array_equal(a, b)


def test_kmeans_logs_every_round(spark, caplog):
    """Each distributed Lloyd round logs name, round, mean max-cosine and
    seconds on the engine logger (the ``session.fixpoint`` record); the
    logged means are the ``inertia_out`` trace."""
    caplog.set_level(logging.INFO, logger="bigdata_hwk_spark")
    trace: list[float] = []
    kmeans_fit(
        load_table(spark, SF_SMOKE, "embeddings"), k=4, iters=3, inertia_out=trace
    )
    rounds = [
        r.args
        for r in caplog.records
        if r.name == "bigdata_hwk_spark" and r.args and r.args[0] == "kmeans_fit"
    ]
    assert [r[1] for r in rounds] == [1, 2, 3]
    assert [r[2] for r in rounds] == trace
    assert all(r[3] >= 0 for r in rounds)
