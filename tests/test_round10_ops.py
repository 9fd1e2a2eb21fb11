"""Round-10 operator contracts: BM25 retrieval and robust
(median/MAD/IQR) screens (the co-purchase graph pins are in
test_graph.py, the containment pins in test_pairs.py).

The registry oracle rows pin cross-engine equality (BM25, containment,
robust — the parametrized sweep covers them at up to 3 SFs); these
tests pin the operators' OWN semantics on hand-computable inputs.
"""

from __future__ import annotations

import numpy as np
import pyspark.sql.functions as F

from bigdata_hwk_spark import registry
from bigdata_hwk_spark.operators import retrieval as RV
from bigdata_hwk_spark.operators import robust as RB
from bigdata_hwk_spark.sources.tables import load_table

from .conftest import SF_CORRECT, SF_SMOKE, assert_matches_oracle


# ---------------------------------------------------------------- BM25
def test_bm25_matches_oracle_smoke(spark):
    assert_matches_oracle(
        registry.QUERIES["bm25_doc_topk"](spark, SF_SMOKE),
        registry.ORACLES["bm25_doc_topk"],
        SF_SMOKE,
    )


def test_bm25_matches_oracle_gate_sf(spark):
    assert_matches_oracle(
        registry.QUERIES["bm25_doc_topk"](spark, SF_CORRECT),
        registry.ORACLES["bm25_doc_topk"],
        SF_CORRECT,
    )


def test_bm25_shape_and_ranking(spark):
    """Per query: ≤ topk rows, ranks are 1..n without gaps, scores
    non-increasing in rank, every score positive (the ln(1+…) idf floor
    keeps even corpus-saturating terms non-negative)."""
    rows = registry.QUERIES["bm25_doc_topk"](spark, SF_CORRECT).collect()
    by_q: dict[int, list] = {}
    for r in rows:
        by_q.setdefault(r.query_id, []).append(r)
    assert set(by_q) == {qid for qid, _ in RV.BM25_QUERIES}
    for qrows in by_q.values():
        qrows.sort(key=lambda r: r.rnk)
        assert len(qrows) <= RV.BM25_TOPK
        assert [r.rnk for r in qrows] == list(range(1, len(qrows) + 1))
        scores = [r.score for r in qrows]
        assert scores == sorted(scores, reverse=True)
        assert all(s > 0 for s in scores)


def test_bm25_prefers_more_query_terms(spark):
    """A doc containing BOTH terms of a two-term query outranks a doc of
    the same length containing one of them twice and a filler once —
    per-term tf saturation is the property that separates BM25 from a
    raw dot product."""
    docs = spark.createDataFrame(
        [
            (1, "alpha beta filler filler"),
            (2, "alpha alpha filler filler"),
        ],
        "doc_id long, text string",
    )
    got = {
        r.doc_id: r.rnk
        for r in RV.bm25_topk(docs, queries=[(1, "alpha beta")]).collect()
    }
    assert got[1] == 1 and got[2] == 2


# -------------------------------------------------------------- robust
def test_robust_matches_oracle_smoke(spark):
    assert_matches_oracle(
        registry.QUERIES["robust_value_outliers"](spark, SF_SMOKE),
        registry.ORACLES["robust_value_outliers"],
        SF_SMOKE,
    )


def test_robust_planted_outlier(spark):
    """Nine benign values + one wild spike: both fences catch exactly
    the spike; med/mad are the hand values; NULLs are excluded from n."""
    vals = [10.0, 11.0, 12.0, 13.0, 14.0, 15.0, 16.0, 17.0, 18.0, 1000.0]
    ev = spark.createDataFrame(
        [(i, "t", v) for i, v in enumerate(vals)] + [(99, "t", None)],
        "event_id long, event_type string, value double",
    )
    r = RB.robust_value_outliers(ev).collect()[0]
    assert r.n == 10
    assert r.med == 14.5  # interpolated median of the 10 values
    # |x - 14.5| over vals -> sorted [0.5,0.5,1.5,1.5,2.5,2.5,3.5,3.5,4.5,985.5]
    assert r.mad == 2.5
    assert r.n_mad_outliers == 1
    assert r.n_iqr_outliers == 1


def test_robust_constant_group_has_no_outliers(spark):
    """Degenerate group (all values equal): MAD = 0 and the strict
    inequality keeps the count at zero instead of flagging everything."""
    ev = spark.createDataFrame(
        [(i, "t", 7.0) for i in range(6)],
        "event_id long, event_type string, value double",
    )
    r = RB.robust_value_outliers(ev).collect()[0]
    assert r.mad == 0.0
    assert r.n_mad_outliers == 0
    assert r.n_iqr_outliers == 0


# ------------------------------------------------- winsorize + chi2
def test_winsorized_matches_oracle_smoke(spark):
    assert_matches_oracle(
        registry.QUERIES["winsorized_value_stats"](spark, SF_SMOKE),
        registry.ORACLES["winsorized_value_stats"],
        SF_SMOKE,
    )


def test_winsorized_planted_tail(spark):
    """One wild spike among 99 benign values: the raw mean moves, the
    winsorized mean barely does, and exactly one row clips high."""
    vals = [float(i % 10 + 10) for i in range(99)] + [10000.0]
    ev = spark.createDataFrame(
        [(i, "t", v) for i, v in enumerate(vals)],
        "event_id long, event_type string, value double",
    )
    r = RB.winsorized_value_stats(ev).collect()[0]
    assert r.n == 100
    assert r.n_clipped_hi == 1
    assert r.mean_raw > 100  # spike drags the raw mean
    assert r.mean_wins < 20  # winsorized mean stays near the bulk
    assert r.sd_wins < r.sd_raw


def test_chi2_independence_oracle_and_null_case(spark):
    assert_matches_oracle(
        registry.QUERIES["lang_source_independence"](spark, SF_SMOKE),
        registry.ORACLES["lang_source_independence"],
        SF_SMOKE,
    )
    # perfectly independent 2x2 table -> chi2 exactly 0
    rows = (
        [(i, "en", "a") for i in range(10)]
        + [(i + 10, "en", "b") for i in range(10)]
        + [(i + 20, "zh", "a") for i in range(10)]
        + [(i + 30, "zh", "b") for i in range(10)]
    )
    docs = spark.createDataFrame(rows, "doc_id long, lang string, source string")
    r = RB.lang_source_independence(docs).collect()[0]
    assert r.chi2 == 0.0 and r.dof == 1 and r.n_cells == 4


# -------------------------------------------------------- skew profile
def test_skew_profile_matches_oracle_smoke(spark):
    assert_matches_oracle(
        registry.QUERIES["event_user_skew_profile"](spark, SF_SMOKE),
        registry.ORACLES["event_user_skew_profile"],
        SF_SMOKE,
    )


def test_skew_profile_uniform_and_dominant(spark):
    """Hand-checkable extremes: perfectly uniform keys score
    entropy_uniform_ratio 1.0; a 90%-dominant key is reported with its
    exact top1_share and a ratio well below 1."""
    from bigdata_hwk_spark.plans.relational import key_skew_profile

    uniform = spark.createDataFrame(
        [(i % 4,) for i in range(40)], "user_id long"
    )
    r = key_skew_profile(uniform, "user_id").collect()[0]
    assert r.n_keys == 4 and r.n_rows == 40 and r.max_count == 10
    assert r.top1_share == 0.25
    assert r.entropy_uniform_ratio == 1.0

    skewed = spark.createDataFrame(
        [(0,)] * 90 + [(i,) for i in range(1, 11)], "user_id long"
    )
    s = key_skew_profile(skewed, "user_id").collect()[0]
    assert s.top1_share == 0.9
    assert s.max_count == 90
    assert s.entropy_uniform_ratio < 0.25


# ---------------------------------------------------- release manifest
def test_shard_manifest_matches_oracle_smoke(spark):
    assert_matches_oracle(
        registry.QUERIES["shard_release_manifest"](spark, SF_SMOKE),
        registry.ORACLES["shard_release_manifest"],
        SF_SMOKE,
    )


def test_shard_manifest_detects_layout_drift(spark):
    """The manifest certifies the LAYOUT: perturbing one document's
    token count (same doc set, same shard assignment) moves exactly
    that shard's checksum and leaves the others bit-identical."""
    from pyspark.sql import functions as F

    from bigdata_hwk_spark.operators.packing import shard_release_manifest
    from bigdata_hwk_spark.sources.tables import load_table

    docs = load_table(spark, SF_SMOKE, "documents")
    victim = docs.select(F.min("doc_id")).collect()[0][0]
    drifted = docs.withColumn(
        "text",
        F.when(
            F.col("doc_id") == victim, F.concat(F.col("text"), F.lit(" x"))
        ).otherwise(F.col("text")),
    )
    base = {r.shard: r for r in shard_release_manifest(docs).collect()}
    moved = {r.shard: r for r in shard_release_manifest(drifted).collect()}
    diff = [s for s in base if tuple(base[s]) != tuple(moved[s])]
    assert len(diff) == 1
    s = diff[0]
    assert moved[s].n_tokens == base[s].n_tokens + 1
    assert (base[s].ck_a, base[s].ck_b) != (moved[s].ck_a, moved[s].ck_b)


# ------------------------------------------- sorted-neighborhood blocking
def test_snb_shuffled_duplicates_sort_adjacent(spark):
    """Word-order-shuffled duplicates share the min-hash key exactly, so
    they MUST meet inside the neighborhood and verify at jaccard 1.0 —
    while a word-disjoint doc can never pair with them above threshold."""
    from bigdata_hwk_spark.operators import dedup as D

    docs = spark.createDataFrame(
        [
            (1, "alpha beta gamma delta epsilon"),
            (2, "epsilon delta gamma beta alpha"),   # shuffle of doc 1
            (3, "zeta eta theta iota kappa"),        # disjoint words
            (4, "alpha beta gamma delta zeta"),      # 4-of-6 overlap
        ],
        "doc_id bigint, text string",
    )
    rows = D.sorted_neighborhood_pairs(docs, w=3, tau=0.99).collect()
    assert {(r.doc_a, r.doc_b) for r in rows} == {(1, 2)}
    [r] = rows
    assert r.jaccard == 1.0 and r.gap == 1
    # looser threshold admits the 4-of-6 overlap pair but never doc 3
    loose = D.sorted_neighborhood_pairs(docs, w=3, tau=0.5).collect()
    assert all(3 not in (r.doc_a, r.doc_b) for r in loose)
    assert {(r.doc_a, r.doc_b) for r in loose} >= {(1, 2)}


def test_snb_global_rank_is_a_permutation(spark):
    """Driver-folded bucket offsets must yield exactly 1..N — no gaps, no
    collisions across buckets — and be invariant under re-layout."""
    from bigdata_hwk_spark.operators.dedup import _snb_ranked
    from bigdata_hwk_spark.sources.tables import load_table

    docs = load_table(spark, SF_CORRECT, "documents")
    r1 = _snb_ranked(docs)
    n = docs.count()
    assert sorted(x.rnk for x in r1.collect()) == list(range(1, n + 1))
    r2 = _snb_ranked(docs.repartition(7))
    assert r1.orderBy("doc_id").collect() == r2.orderBy("doc_id").collect()


def test_snb_comparison_count_is_bounded(spark):
    """The whole point of sorted-neighborhood: at most N·w candidate
    comparisons regardless of key skew — even a corpus of identical
    documents (worst case for every bucketed generator) stays at N·w."""
    from bigdata_hwk_spark.operators import dedup as D

    docs = spark.createDataFrame(
        [(i, "same words every single time") for i in range(40)],
        "doc_id bigint, text string",
    )
    rows = D.sorted_neighborhood_pairs(docs, w=5, tau=0.0).collect()
    # exactly the in-window pairs: sum over gap g=1..w of (N-g)
    assert len(rows) == sum(40 - g for g in range(1, 6))
    assert all(1 <= r.gap <= 5 and r.jaccard == 1.0 for r in rows)


# ------------------------------------------------------- HLL set algebra
def test_hll_overlap_planted_subset(spark):
    """B ⊂ A: exact intersection = |B|, estimates track the planted
    cardinalities within sketch error, inclusion–exclusion is internally
    consistent (n_inter_est = n_a_est + n_b_est − n_union_est)."""
    from bigdata_hwk_spark.operators import sketches as SK

    rows = [("A", str(i)) for i in range(200)] + [
        ("B", str(i)) for i in range(100)
    ]
    items = spark.createDataFrame(rows, "g string, item string")
    [r] = SK.hll_overlap(items, group_col="g").collect()
    assert (r.ga, r.gb) == ("A", "B")
    assert r.n_inter_exact == 100
    # m=32 registers → ~18% relative error; allow 3σ-ish slack
    assert abs(r.n_a_est - 200) / 200 < 0.6
    assert abs(r.n_union_est - 200) / 200 < 0.6
    assert r.n_inter_est == round(r.n_a_est + r.n_b_est - r.n_union_est, 2)


def test_hll_overlap_disjoint_groups_have_zero_exact(spark):
    """Groups with no shared items still get a row (left join), with
    n_inter_exact pinned to 0."""
    from bigdata_hwk_spark.operators import sketches as SK

    rows = [("A", f"a{i}") for i in range(50)] + [
        ("B", f"b{i}") for i in range(50)
    ]
    items = spark.createDataFrame(rows, "g string, item string")
    [r] = SK.hll_overlap(items, group_col="g").collect()
    assert r.n_inter_exact == 0


def test_hll_overlap_union_matches_single_group_sketch(spark):
    """Register-merge correctness: the pair's union estimate must equal
    the estimate of sketching A∪B's items as ONE group — merging
    register tables is lossless (max is associative/idempotent)."""
    from bigdata_hwk_spark.operators import sketches as SK

    rows = [("A", str(i)) for i in range(150)] + [
        ("B", str(i)) for i in range(75, 225)
    ]
    items = spark.createDataFrame(rows, "g string, item string")
    [pair] = SK.hll_overlap(items, group_col="g").collect()
    one = spark.createDataFrame(
        [("U", str(i)) for i in range(225)], "g string, item string"
    )
    [single] = SK.hll_cardinality(
        one, group_cols=("g",)
    ).collect()
    assert pair.n_union_est == single.n_est


# ---------------------------------------------------------- epoch shuffle
def test_epoch_shuffle_positions_are_contiguous_per_shard(spark):
    from bigdata_hwk_spark.operators import splits as SP
    from bigdata_hwk_spark.sources.tables import load_table

    docs = load_table(spark, SF_CORRECT, "documents")
    rows = SP.epoch_shuffle_assignment(docs, n_shards=4).collect()
    assert len(rows) == docs.count()
    by_shard: dict[int, list[int]] = {}
    for r in rows:
        by_shard.setdefault(r.shard, []).append(r.pos)
    assert set(by_shard) == set(range(4))
    for poss in by_shard.values():
        assert sorted(poss) == list(range(1, len(poss) + 1))


def test_epoch_shuffle_seed_changes_permutation_deterministically(spark):
    from bigdata_hwk_spark.operators import splits as SP
    from bigdata_hwk_spark.sources.tables import load_table

    docs = load_table(spark, SF_CORRECT, "documents")
    e0 = {r.doc_id: (r.shard, r.pos) for r in
          SP.epoch_shuffle_assignment(docs, seed="epoch0").collect()}
    e1 = {r.doc_id: (r.shard, r.pos) for r in
          SP.epoch_shuffle_assignment(docs, seed="epoch1").collect()}
    assert e0 != e1                      # a new epoch reshuffles
    again = {r.doc_id: (r.shard, r.pos) for r in
             SP.epoch_shuffle_assignment(
                 docs.repartition(13), seed="epoch0").collect()}
    assert again == e0                   # layout-invariant reproducibility


# ---------------------------------------------------- CMS join-size estimate
def test_cms_join_size_never_underestimates(spark):
    """The inner-product estimate is an upper bound: colliding keys only
    ADD counts to a cell product. Planted multiplicities make the true
    join size hand-computable."""
    from bigdata_hwk_spark.operators import sketches as SK

    a = spark.createDataFrame(
        [("k1",)] * 3 + [("k2",)] * 2 + [("k3",)] * 4, "item string"
    )
    b = spark.createDataFrame(
        [("k1",)] * 5 + [("k3",)] * 2 + [("k9",)] * 7, "item string"
    )
    [r] = SK.cms_join_size(a, b).collect()
    assert r.true_join_size == 3 * 5 + 4 * 2
    assert r.est_join_size >= r.true_join_size
    assert (r.n_a, r.n_b) == (9, 14)


def test_cms_join_size_disjoint_inputs(spark):
    """No shared keys → true join size 0; the estimate stays bounded by
    the collision term (and is 0 when no buckets collide)."""
    from bigdata_hwk_spark.operators import sketches as SK

    a = spark.createDataFrame([(f"a{i}",) for i in range(20)], "item string")
    b = spark.createDataFrame([(f"b{i}",) for i in range(20)], "item string")
    [r] = SK.cms_join_size(a, b).collect()
    assert r.true_join_size == 0
    assert r.est_join_size >= 0


# ---------------------------------------------- length-bucketed batching
def test_padding_stats_bucket_bound(spark):
    """Power-of-two buckets bound padding waste below 50% by
    construction: within bucket b, lengths lie in (2^(b-1), 2^b], so the
    mean can never fall below half the max."""
    from bigdata_hwk_spark import registry

    rows = registry.QUERIES["doc_length_bucket_padding"](
        spark, SF_CORRECT
    ).collect()
    assert rows
    total_docs = sum(r.n_docs for r in rows)
    assert total_docs == 500
    for r in rows:
        assert r.padded_tokens == r.n_docs * r.max_tokens
        assert 0.0 <= r.waste_pct < 0.5
        assert r.max_tokens <= 2 ** r.bucket
        # every doc in bucket b is longer than 2^(b-1) tokens
        assert r.sum_tokens > r.n_docs * 2 ** (r.bucket - 1)


def test_padding_stats_hand_case(spark):
    from bigdata_hwk_spark.operators import packing as PK

    docs = spark.createDataFrame(
        [
            (1, "a b c"),          # 3 tokens  -> bucket bitlen(2)=2
            (2, "a b c d"),        # 4 tokens  -> bucket bitlen(3)=2
            (3, "a b c d e f g"),  # 7 tokens  -> bucket bitlen(6)=3
        ],
        "doc_id bigint, text string",
    )
    got = {r.bucket: r for r in PK.length_bucket_padding_stats(docs).collect()}
    assert set(got) == {2, 3}
    assert got[2].n_docs == 2 and got[2].max_tokens == 4
    assert got[2].padded_tokens == 8 and got[2].sum_tokens == 7
    assert got[2].waste_pct == 1 / 8
    assert got[3].n_docs == 1 and got[3].waste_pct == 0.0


# --------------------------------------------- hashed-BoW ridge classifier
def test_ridge_fit_matches_numpy_twin_bitwise(spark):
    """The distributed moments are exact integers under any layout, so
    the fitted weights must equal the dense NumPy twin bit-for-bit —
    and stay identical after a repartition."""
    import hashlib

    from bigdata_hwk_spark.operators import classifier as CL
    from bigdata_hwk_spark.sources.tables import load_table

    docs = load_table(spark, SF_CORRECT, "documents")
    label = F.array_contains(F.split(F.col("text"), " "), "dup").cast("int")
    rows = sorted(
        docs.select("doc_id", "text").collect(), key=lambda r: r.doc_id
    )

    def b(s):
        return (
            int(hashlib.md5(("clf:" + s).encode()).hexdigest()[:15], 16)
            % CL.CLF_DIM
        )

    X = np.zeros((len(rows), CL.CLF_DIM), dtype=np.int64)
    y = np.zeros(len(rows), dtype=np.int64)
    for i, r in enumerate(rows):
        ws = r.text.split(" ")
        for wd in ws:
            X[i, b(wd)] += 1
        y[i] = 1 if "dup" in ws else 0
    w_ref = CL.ridge_fit_ref(X, y)
    w_sp = CL.ridge_fit(docs, label)
    assert np.array_equal(w_ref, w_sp)
    w_sp2 = CL.ridge_fit(docs.repartition(13), label)
    assert np.array_equal(w_sp, w_sp2)


def test_classifier_learns_lexical_marker(spark):
    """The 'contains dup' label is exactly one hashed feature — the fit
    must recover it perfectly (tp = n_pos, fp = 0)."""
    from bigdata_hwk_spark import registry

    [r] = registry.QUERIES["doc_classifier_eval"](spark, SF_CORRECT).collect()
    assert r.n_docs == 500 and r.n_pos == 25
    assert (r.tp, r.fp, r.fn) == (25, 0, 0)
    assert r.accuracy == 1.0


def test_classifier_planted_teacher_recovery(spark):
    """Labels drawn from a linear teacher over disjoint marker words are
    recovered on a synthetic corpus; an all-one-class corpus degrades to
    the trivial constant model without error."""
    from bigdata_hwk_spark.operators import classifier as CL

    pos = [(i, "good quality reference text sample") for i in range(30)]
    neg = [(100 + i, "noisy crawl junk boilerplate spam") for i in range(30)]
    docs = spark.createDataFrame(pos + neg, "doc_id bigint, text string")
    label = (F.col("doc_id") < 100).cast("int")
    [r] = CL.classifier_eval(docs, label).collect()
    assert r.accuracy == 1.0 and r.n_pos == 30

    one_class = spark.createDataFrame(pos, "doc_id bigint, text string")
    [r1] = CL.classifier_eval(one_class, F.lit(1)).collect()
    assert r1.n_pos == 30 and r1.fn == 0


def test_ridge_score_covers_featureless_docs(spark):
    """A doc whose text is empty still gets a score (bias only) — the
    left join pins score = bias, never a dropped row."""
    from bigdata_hwk_spark.operators import classifier as CL

    docs = spark.createDataFrame(
        [(1, "alpha beta"), (2, "")], "doc_id bigint, text string"
    )
    w = CL.ridge_fit(docs, (F.col("doc_id") == 1).cast("int"))
    got = {r.doc_id: r for r in CL.ridge_score(docs, w).collect()}
    assert set(got) == {1, 2}
    assert got[2].score is not None


# --------------------------------------------------- positional phrase search
def test_phrase_search_hand_corpus(spark):
    """Hand-checkable corpus: overlapping occurrences, repeated-word
    phrases, and bag-of-words false friends (words present but not
    adjacent) — the cases a postings-without-positions scorer gets wrong."""
    from bigdata_hwk_spark.operators import retrieval as RV

    docs = spark.createDataFrame(
        [
            (1, "a b a b a"),      # "a b" twice, "b a" twice
            (2, "b a x a b"),      # "a b" once, "b a" once
            (3, "a a a"),          # "a a" twice (overlapping)
            (4, "b x a"),          # has a and b, never adjacent
        ],
        "doc_id bigint, text string",
    )
    phrases = [(1, "a b"), (2, "a a"), (3, "b a")]
    got = {
        (r.query_id, r.doc_id): r.n_matches
        for r in RV.phrase_search(docs, phrases).collect()
    }
    assert got == {
        (1, 1): 2, (1, 2): 1,
        (2, 3): 2,
        (3, 1): 2, (3, 2): 1,
    }


def test_phrase_search_no_hit_phrase_yields_no_rows(spark):
    """The fixture's impossible phrase must produce zero rows — and the
    result must never contain a doc lacking the full adjacency chain."""
    from bigdata_hwk_spark import registry
    from bigdata_hwk_spark.operators import retrieval as RV

    rows = registry.QUERIES["phrase_search_hits"](spark, SF_CORRECT).collect()
    assert all(r.query_id != 5 for r in rows)  # "key order sort" hits nothing
    assert all(r.n_matches >= 1 for r in rows)
    # spot-verify one hit against a literal Python scan
    from bigdata_hwk_spark.sources.tables import load_table

    target = next(r for r in rows if r.query_id == 1)
    [doc] = (
        load_table(spark, SF_CORRECT, "documents")
        .filter(F.col("doc_id") == target.doc_id)
        .collect()
    )
    ws = doc.text.split(" ")
    lit = sum(
        1 for i in range(len(ws) - 1) if ws[i] == "batch" and ws[i + 1] == "batch"
    )
    assert lit == target.n_matches


def test_ridge_moments_are_additive_across_slices(spark):
    """The sufficient statistics are exact integers, so fit-on-union must
    equal solve-over-summed-moments BIT FOR BIT — the incremental-refit
    contract (add a batch's moments, re-solve, never rescan)."""
    from bigdata_hwk_spark.operators import classifier as CL
    from bigdata_hwk_spark.sources.tables import load_table

    docs = load_table(spark, SF_CORRECT, "documents")
    label = F.array_contains(F.split(F.col("text"), " "), "dup").cast("int")
    old = docs.filter("doc_id % 3 != 0")
    batch = docs.filter("doc_id % 3 = 0")
    g1, c1, n1 = CL.ridge_moments(old, label)
    g2, c2, n2 = CL.ridge_moments(batch, label)
    w_incr = CL.ridge_solve(g1 + g2, c1 + c2)
    w_full = CL.ridge_fit(docs, label)
    assert n1 + n2 == 500
    assert np.array_equal(w_incr, w_full)


def test_hll_overlap_composes_with_windowed_registers(spark):
    """Register-level set algebra composes with the STREAMING register
    producer: overlap estimates computed from the per-window register
    table alone equal hll_overlap's estimate columns computed from the
    raw (window, user) items — registers are a sufficient statistic."""
    from bigdata_hwk_spark.operators import sketches as SK
    from bigdata_hwk_spark.sources.tables import load_table
    from bigdata_hwk_spark.streaming.windowed import windowed_hll_registers

    ev = load_table(spark, SF_CORRECT, "events").filter(
        F.col("event_type").isin("view", "purchase")
    )
    # bound the group axis: all-pairs overlap is for enum-sized
    # dimensions, so slice to the first day's windows (the operator
    # refuses loudly past HLL_OVERLAP_MAX_GROUPS — tested below)
    lo = ev.agg(F.min("ts")).collect()[0][0]
    import datetime as dt

    ev = ev.filter(F.col("ts") < F.lit(lo + dt.timedelta(hours=12)))
    regs = windowed_hll_registers(ev, window="30 minutes").select(
        F.col("win_start").cast("string").alias("g"), "bucket", "max_rho"
    )
    from_regs = {
        (r.ga, r.gb): (r.n_a_est, r.n_b_est, r.n_union_est, r.n_inter_est)
        for r in SK.hll_overlap_from_registers(regs, "g").collect()
    }
    items = ev.select(
        F.window("ts", "30 minutes").start.cast("string").alias("g"),
        F.col("user_id").alias("item"),
    )
    from_items = {
        (r.ga, r.gb): (r.n_a_est, r.n_b_est, r.n_union_est, r.n_inter_est)
        for r in SK.hll_overlap(items, group_col="g").collect()
    }
    assert from_regs and from_regs == from_items


def test_hll_overlap_refuses_unbounded_group_axes(spark):
    """Past the group cap the all-pairs merge must refuse loudly instead
    of broadcasting a quadratic pair table."""
    import pytest as _pytest

    from bigdata_hwk_spark.operators import sketches as SK

    items = spark.createDataFrame(
        [(f"g{i:03d}", str(i)) for i in range(SK.HLL_OVERLAP_MAX_GROUPS + 1)],
        "g string, item string",
    )
    with _pytest.raises(ValueError, match="enum-sized"):
        SK.hll_overlap(items, group_col="g").collect()


# ------------------------------------------------ windowed anomaly flags
def test_windowed_anomalies_planted_spike(spark):
    """A flat 10-per-hour history with one 100-event spike must flag the
    spike hour and nothing else; the constant-history variance-0 edge
    flags ANY deviation and never the constant itself."""
    import datetime as dt

    from bigdata_hwk_spark.streaming.windowed import windowed_count_anomalies

    base = dt.datetime(2024, 1, 1)
    rows = []
    eid = 0
    for h in range(12):
        n = 100 if h == 9 else 10
        for i in range(n):
            rows.append((eid, base + dt.timedelta(hours=h, seconds=i), "view"))
            eid += 1
    ev = spark.createDataFrame(rows, "event_id bigint, ts timestamp, event_type string")
    got = {r.win_start.hour: r for r in windowed_count_anomalies(ev).collect()}
    assert len(got) == 12
    assert got[9].is_anomaly                      # the spike
    assert not any(got[h].is_anomaly for h in range(12) if h != 9 and h != 10)
    # hour 10 follows the spike: its frame now has nonzero variance and
    # 10 sits within 3 sigma of the mixed history -> still quiet
    assert not got[10].is_anomaly
    # warm-up hours (fewer than 6 predecessors) are never flagged
    assert all(not got[h].is_anomaly for h in range(6))


def test_windowed_anomalies_integer_test_matches_float_zscore(spark):
    """The integer inequality must agree with the literal float z² on
    the fixture (where variance > 0): no rounding drift ever."""
    from bigdata_hwk_spark import registry

    rows = registry.QUERIES["windowed_count_anomalies"](
        spark, SF_CORRECT
    ).collect()
    flagged = sum(r.is_anomaly for r in rows)
    assert 0 < flagged < len(rows)
    # recompute per row from the reported integers
    by_key = {}
    for r in rows:
        by_key.setdefault(r.event_type, []).append(r)
    for rs in by_key.values():
        rs.sort(key=lambda r: r.win_start)
        for i, r in enumerate(rs):
            hist = [x.n_events for x in rs[max(0, i - 6):i]]
            if len(hist) < 6:
                assert not r.is_anomaly
                continue
            k, s = len(hist), sum(hist)
            ss = sum(x * x for x in hist)
            want = (k * r.n_events - s) ** 2 > 9 * (k * ss - s * s)
            assert r.is_anomaly == want


def test_classifier_holdout_generalizes_on_marker_label(spark):
    """Fit on the train split only; the held-out marker docs must still
    classify perfectly (the marker feature transfers), and the train/test
    partition must be the salted-hash one (no leakage by construction)."""
    from bigdata_hwk_spark import registry

    [r] = registry.QUERIES["doc_classifier_holdout_eval"](
        spark, SF_CORRECT
    ).collect()
    assert r.n_train + r.n_test < 500          # valid split exists too
    assert r.n_test > 0 and r.test_pos > 0
    assert r.fp == 0 and r.fn == 0
    assert r.accuracy == 1.0


def test_classifier_weights_artifact_roundtrip(spark, tmp_path):
    """save_weights -> load_weights -> ridge_score must reproduce the
    in-memory model's scores BIT-for-bit (quantization at save time is
    the same quantization the scorer applies)."""
    from bigdata_hwk_spark.operators import classifier as CL
    from bigdata_hwk_spark.sources.tables import load_table

    docs = load_table(spark, SF_CORRECT, "documents")
    label = F.array_contains(F.split(F.col("text"), " "), "dup").cast("int")
    w = CL.ridge_fit(docs, label)
    path = str(tmp_path / "clf_weights")
    CL.save_weights(w, spark, path)
    w2 = CL.load_weights(spark, path)
    a = {r.doc_id: (r.score, r.pred) for r in CL.ridge_score(docs, w).collect()}
    b = {r.doc_id: (r.score, r.pred) for r in CL.ridge_score(docs, w2).collect()}
    assert a == b
