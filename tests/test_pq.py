"""Similarity-search pins: PQ-ADC search (ADC sums equal an independent
NumPy reimplementation exactly, recall vs brute force clears a floor,
layout determinism, the compression arithmetic documented in the
docstring), IVF and IVFPQ (recall, probed-list containment, zero-norm
vectors), the persisted PQ index, semantic decontamination,
cluster-balanced sampling, the LSH capacity diagnostic and MMR
reranking."""

from __future__ import annotations

import numpy as np
import pytest

from bigdata_hwk_spark.operators import similarity as SIM
from bigdata_hwk_spark.sources.tables import fan_out, load_table
from tests.conftest import SF_CORRECT, SF_SMOKE


def _emb(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/embeddings.parquet")


@pytest.fixture(scope="module")
def pq_result(spark):
    return SIM.ann_pq_topk(_emb(spark, SF_SMOKE)).collect()


def test_pq_output_shape(pq_result):
    by_q = {}
    for r in pq_result:
        by_q.setdefault(r["query_id"], []).append(r)
    assert set(by_q) == set(range(5))
    for q, rows in by_q.items():
        rows.sort(key=lambda r: r["rk"])
        assert [r["rk"] for r in rows] == list(range(1, 11))
        # distances are non-decreasing in rank and never self
        dists = [r["adc_dist"] for r in rows]
        assert dists == sorted(dists)
        assert all(r["neighbor_id"] != q for r in rows)


def test_pq_recall_vs_bruteforce(spark, pq_result):
    """PQ at M=16, K=16 (64-bit codes vs 64 float32 dims = 32x
    compression) must keep a usable fraction of the exact top-10
    (measured 0.38 on this fixture; see the bit-budget sweep note)."""
    exact = SIM.cosine_topk_bruteforce(_emb(spark, SF_SMOKE)).collect()
    want = {}
    for r in exact:
        want.setdefault(r["query_id"], set()).add(r["neighbor_id"])
    got = {}
    for r in pq_result:
        got.setdefault(r["query_id"], set()).add(r["neighbor_id"])
    recalls = [
        len(got[q] & want[q]) / len(want[q]) for q in want if q in got
    ]
    assert len(recalls) == 5
    # measured 0.5-0.8 on the weakly-clustered fixture; 0.3 is the floor
    # that still distinguishes working ADC from broken ranking
    assert sum(recalls) / len(recalls) >= 0.3


def test_pq_deterministic_across_layouts(spark, pq_result):
    b = SIM.ann_pq_topk(_emb(spark, SF_SMOKE).repartition(11)).collect()
    assert sorted(map(tuple, pq_result)) == sorted(map(tuple, b))


def test_pq_adc_matches_numpy_reimplementation(spark, pq_result):
    """Independent check of the distributed encode+LUT+sum pipeline: the
    integer ADC distance of every returned row must equal a from-scratch
    NumPy computation (same codebook construction, same quantization)."""
    from bigdata_hwk_spark.operators.kcenter import sequential_fft

    rows = sorted(
        _emb(spark, SF_SMOKE).select("vec_id", "embedding").collect(),
        key=lambda r: r.vec_id,
    )
    ids = np.array([r.vec_id for r in rows])
    mat = np.array([r.embedding for r in rows], dtype=np.float64)
    mat /= np.linalg.norm(mat, axis=1, keepdims=True)
    m_sub, k_codes, dim = SIM.PQ_M, SIM.PQ_K, mat.shape[1]
    dsub = dim // m_sub
    # rebuild codebooks exactly as the operator does (sample = ids < 2048;
    # the smoke fixture is smaller than that, so sample == corpus)
    books = np.zeros((m_sub, k_codes, dsub))
    for m in range(m_sub):
        sub = mat[:, m * dsub : (m + 1) * dsub]
        cb = sequential_fft(sub, k_codes).copy()
        for _ in range(SIM.PQ_LLOYD):
            d2 = ((sub[:, None, :] - cb[None, :, :]) ** 2).sum(axis=2)
            a = np.argmin(d2, axis=1)
            for c in range(k_codes):
                members = sub[a == c]
                if len(members):
                    cb[c] = members.mean(axis=0)
        books[m] = cb
    codes = np.zeros((len(mat), m_sub), dtype=int)
    for m in range(m_sub):
        sub = mat[:, m * dsub : (m + 1) * dsub]
        codes[:, m] = np.argmin(
            ((sub[:, None, :] - books[m][None, :, :]) ** 2).sum(axis=2),
            axis=1,
        )
    idx = {int(v): i for i, v in enumerate(ids)}
    for r in pq_result:
        q, n = idx[r["query_id"]], idx[r["neighbor_id"]]
        adc_int = 0
        for m in range(m_sub):
            qs = mat[q, m * dsub : (m + 1) * dsub]
            d2 = ((books[m][codes[n, m]] - qs) ** 2).sum()
            adc_int += int(round(d2 * SIM.PQ_QUANT))
        # the operator display-rounds adc_int/QUANT to 6 decimals
        assert abs(r["adc_dist"] - round(adc_int / SIM.PQ_QUANT, 6)) < 5e-7, r


# --- IVF (coarse lists, exact rerank) ---


def test_ann_ivf_recall_vs_bruteforce(spark):
    """IVF top-k must be deterministic, schema-compatible with the exact
    top-k, and recall the bulk of true neighbors when probing a quarter
    of the inverted lists (the embeddings fixture is clustered, so true
    neighbors concentrate in few lists)."""
    embs = fan_out(load_table(spark, SF_CORRECT, "embeddings")).cache()
    exact = SIM.cosine_topk_bruteforce(embs, n_queries=5, k=10).collect()
    ivf1 = SIM.ann_ivf_topk(embs, n_queries=5, k=10).collect()
    ivf2 = SIM.ann_ivf_topk(embs, n_queries=5, k=10).collect()
    assert {tuple(r) for r in ivf1} == {tuple(r) for r in ivf2}  # deterministic
    want = {(r.query_id, r.neighbor_id) for r in exact}
    got = {(r.query_id, r.neighbor_id) for r in ivf1}
    recall = len(want & got) / len(want)
    assert recall >= 0.5, f"IVF recall too low: {recall}"
    # every IVF hit must carry the exact cosine (rerank is exact)
    exact_cos = {(r.query_id, r.neighbor_id): r.cosine for r in exact}
    for r in ivf1:
        if (r.query_id, r.neighbor_id) in exact_cos:
            assert r.cosine == exact_cos[(r.query_id, r.neighbor_id)]


def test_zero_norm_vector_is_dropped_by_ivf_and_ivfpq(spark):
    """A zero vector (cosine undefined) among the queries is neither
    listed nor queried: with vector 3 zeroed, IVF and IVFPQ return what
    they return on the corpus without it."""
    rng = np.random.default_rng(7)
    vecs = rng.normal(size=(400, 16))
    rows = [(i, [float(x) for x in v]) for i, v in enumerate(vecs)]
    zeroed = rows[:3] + [(3, [0.0] * 16)] + rows[4:]

    def run(fn, corpus, **kw):
        emb = spark.createDataFrame(corpus, "vec_id bigint, embedding array<float>")
        # nlist is explicit so the two corpus sizes share one list count
        return sorted(map(tuple, fn(emb, nlist=20, **kw).collect()))

    for fn, kw in [(SIM.ann_ivf_topk, {}), (SIM.ann_ivfpq_topk, {"m_sub": 4})]:
        want = run(fn, rows[:3] + rows[4:], **kw)
        assert {r[0] for r in want} == {0, 1, 2, 4}
        assert run(fn, zeroed, **kw) == want, fn.__name__


# --- IVFPQ (coarse lists + residual PQ) ---


@pytest.fixture(scope="module")
def ivfpq_result(spark):
    return SIM.ann_ivfpq_topk(_emb(spark, SF_SMOKE)).collect()


def test_ivfpq_output_shape(ivfpq_result):
    by_q = {}
    for r in ivfpq_result:
        by_q.setdefault(r["query_id"], []).append(r)
    assert set(by_q) == set(range(5))
    for q, rows in by_q.items():
        rows.sort(key=lambda r: r["rk"])
        assert [r["rk"] for r in rows] == list(range(1, len(rows) + 1))
        assert len(rows) <= 10
        dists = [r["adc_dist"] for r in rows]
        assert dists == sorted(dists)
        assert all(r["neighbor_id"] != q for r in rows)


def test_ivfpq_recall_vs_bruteforce(spark, ivfpq_result):
    """IVFPQ trades recall for probing ~nprobe/nlist of the corpus; it
    must still beat random and stay within reach of flat PQ."""
    exact = SIM.cosine_topk_bruteforce(_emb(spark, SF_SMOKE)).collect()
    want = {}
    for r in exact:
        want.setdefault(r["query_id"], set()).add(r["neighbor_id"])
    got = {}
    for r in ivfpq_result:
        got.setdefault(r["query_id"], set()).add(r["neighbor_id"])
    recalls = [len(got.get(q, set()) & want[q]) / len(want[q]) for q in want]
    assert sum(recalls) / len(recalls) >= 0.2


def test_ivfpq_deterministic_across_layouts(spark, ivfpq_result):
    b = SIM.ann_ivfpq_topk(_emb(spark, SF_SMOKE).repartition(7)).collect()
    assert sorted(map(tuple, ivfpq_result)) == sorted(map(tuple, b))


def test_ivfpq_candidates_come_from_probed_lists_only(spark, ivfpq_result):
    """Structural IVF property: every returned neighbor's coarse list is
    one of its query's nprobe probed lists (reconstructed in NumPy with
    the operator's own recipe)."""
    from bigdata_hwk_spark.operators.kcenter import sequential_fft

    rows = sorted(
        _emb(spark, SF_SMOKE).select("vec_id", "embedding").collect(),
        key=lambda r: r.vec_id,
    )
    mat = np.array([r.embedding for r in rows], dtype=np.float64)
    mat /= np.linalg.norm(mat, axis=1, keepdims=True)
    n = len(mat)
    nlist = int(min(max(16, round(n**0.5)), 2048 // 8))
    nprobe = max(2, nlist // 4)
    coarse = sequential_fft(mat, nlist)
    coarse = coarse / np.linalg.norm(coarse, axis=1, keepdims=True)
    for _ in range(10):
        a = np.argmax(mat @ coarse.T, axis=1)
        for c in range(nlist):
            members = mat[a == c]
            if len(members):
                coarse[c] = members.mean(axis=0)
        coarse /= np.linalg.norm(coarse, axis=1, keepdims=True)
    cid = np.argmax(mat @ coarse.T, axis=1)
    idx = {int(r.vec_id): i for i, r in enumerate(rows)}
    for r in ivfpq_result:
        probes = set(
            np.argsort(-(coarse @ mat[idx[r["query_id"]]]))[:nprobe]
        )
        assert int(cid[idx[r["neighbor_id"]]]) in probes, r


# --- semantic decontamination ---


def test_semantic_decontamination_matches_oracle(spark):
    from tests.conftest import SF_CORRECT, assert_matches_oracle

    assert_matches_oracle(
        SIM.semantic_decontamination(_emb(spark, SF_CORRECT)),
        SIM.semantic_decontamination_sql(),
        SF_CORRECT,
        float_round=4,
    )


def test_semantic_decontamination_planted_paraphrase(spark):
    """A corpus vector equal to an eval vector plus small noise — zero
    shared text n-grams by construction, cosine ≈ 1 — must be flagged
    with the eval hit counted; an orthogonal vector must not."""
    ev = [1.0] + [0.0] * 63
    near = [0.999] + [0.02] + [0.0] * 62
    ortho = [0.0, 0.0, 1.0] + [0.0] * 61
    # corpus ids sit ABOVE the fixed-size eval predicate's cutoff
    emb = spark.createDataFrame(
        [(0, ev), (100, near), (200, ortho)],
        "vec_id bigint, embedding array<float>",
    )
    got = {
        r["vec_id"]: r
        for r in SIM.semantic_decontamination(emb).collect()
    }
    assert 100 in got and got[100]["n_eval_hits"] == 1
    assert got[100]["max_cosine"] > 0.99
    assert 200 not in got


# --- cluster-balanced sampling ---


def test_cluster_balance_quota_arithmetic(spark):
    rows = SIM.cluster_balanced_counts(_emb(spark, SF_SMOKE)).collect()
    assert rows, "no clusters"
    n_total = _emb(spark, SF_SMOKE).count()
    k_eff = len(rows)
    quota = -(-int(n_total * SIM.BALANCE_FRAC) // k_eff)
    assert all(r["quota"] == quota for r in rows)
    for r in rows:
        # clusters under quota keep everything; over-quota clusters cap
        assert r["n_kept"] == min(r["n_vecs"], quota), r
    assert sum(r["n_vecs"] for r in rows) == n_total
    # the fixture's clusters are near-uniform, so the cap binds in every
    # cluster (the skew case is constructed below)
    assert any(r["n_vecs"] > quota for r in rows)


def test_cluster_balance_skewed_corpus_spares_small_cluster(spark):
    """One giant topic + one rare topic: the giant is capped at the
    quota, the rare cluster survives whole."""
    rows = [(i, [1.0, 0.001 * i] + [0.0] * 62) for i in range(30)]
    rows += [(100 + i, [0.0, 0.0, 1.0, 0.001 * i] + [0.0] * 60) for i in range(3)]
    emb = spark.createDataFrame(
        rows, "vec_id bigint, embedding array<float>"
    )
    got = SIM.cluster_balanced_counts(emb, k=2).collect()
    sizes = sorted((r["n_vecs"], r["n_kept"], r["quota"]) for r in got)
    assert sizes[0][0] == 3 and sizes[0][1] == 3  # rare topic kept whole
    assert sizes[1][0] == 30 and sizes[1][1] == sizes[1][2]  # giant capped


def test_cluster_balance_deterministic_across_layouts(spark):
    a = SIM.cluster_balanced_counts(_emb(spark, SF_SMOKE)).collect()
    b = SIM.cluster_balanced_counts(
        _emb(spark, SF_SMOKE).repartition(13)
    ).collect()
    assert [tuple(r) for r in a] == [tuple(r) for r in b]


# ---------------------------------------------------------------------------
# Exact re-ranking (+R) — r9 verdict item 2


@pytest.fixture(scope="module")
def pq_rerank_result(spark):
    return SIM.ann_pq_rerank_topk(_emb(spark, SF_SMOKE)).collect()


def test_pq_rerank_recall_clears_090(spark, pq_rerank_result):
    """The +R bar from the r9 verdict: exact re-ranking of the ADC
    top-100 shortlist lifts recall@10 from the measured 0.38 to >= 0.9
    at the SAME 64-bit codes (the published IVFADC+R observation:
    ADC recall@100 is far higher than its recall@10)."""
    exact = SIM.cosine_topk_bruteforce(_emb(spark, SF_SMOKE)).collect()
    want = {}
    for r in exact:
        want.setdefault(r["query_id"], set()).add(r["neighbor_id"])
    got = {}
    for r in pq_rerank_result:
        got.setdefault(r["query_id"], set()).add(r["neighbor_id"])
    recalls = [
        len(got.get(q, set()) & want[q]) / len(want[q]) for q in want
    ]
    assert len(recalls) == 5
    assert sum(recalls) / len(recalls) >= 0.9


def test_pq_rerank_output_shape(pq_rerank_result):
    by_q = {}
    for r in pq_rerank_result:
        by_q.setdefault(r["query_id"], []).append(r)
    assert set(by_q) == set(range(5))
    for q, rows in by_q.items():
        rows.sort(key=lambda r: r["rk"])
        assert [r["rk"] for r in rows] == list(range(1, 11))
        dists = [r["exact_dist"] for r in rows]
        assert dists == sorted(dists)
        assert all(r["neighbor_id"] != q for r in rows)
        # exact squared L2 on unit vectors lives in [0, 4]
        assert all(0.0 <= d <= 4.0 for d in dists)


def test_pq_rerank_dist_is_exact_cosine(spark, pq_rerank_result):
    """exact_dist must equal 2 - 2*cos(query, neighbor) recomputed in
    NumPy from the raw vectors (micro-unit rounding only)."""
    vecs = {
        r["vec_id"]: np.asarray(r["embedding"], dtype=np.float64)
        for r in _emb(spark, SF_SMOKE)
        .select("vec_id", "embedding")
        .collect()
    }
    for r in pq_rerank_result:
        q = vecs[r["query_id"]] / np.linalg.norm(vecs[r["query_id"]])
        v = vecs[r["neighbor_id"]] / np.linalg.norm(vecs[r["neighbor_id"]])
        d2 = 2.0 - 2.0 * float(q @ v)
        assert abs(r["exact_dist"] - max(d2, 0.0)) < 2e-6, r


def test_pq_rerank_deterministic_across_layouts(spark, pq_rerank_result):
    b = SIM.ann_pq_rerank_topk(_emb(spark, SF_SMOKE).repartition(11)).collect()
    assert sorted(map(tuple, pq_rerank_result)) == sorted(map(tuple, b))


def test_ivfpq_rerank_beats_plain_ivfpq_and_saturates_with_probes(
    spark, ivfpq_result
):
    """+R on the IVF stack: strictly better recall than plain IVFADC at
    the same probes (re-ranking cannot lose), and with every list probed
    the ONLY loss left is shortlist coverage -> recall >= 0.9 (shows the
    re-rank removed quantization error; the default-probe gap is list
    coverage, the published nprobe trade)."""
    exact = SIM.cosine_topk_bruteforce(_emb(spark, SF_SMOKE)).collect()
    want = {}
    for r in exact:
        want.setdefault(r["query_id"], set()).add(r["neighbor_id"])

    def recall(rows):
        got = {}
        for r in rows:
            got.setdefault(r["query_id"], set()).add(r["neighbor_id"])
        rs = [len(got.get(q, set()) & want[q]) / len(want[q]) for q in want]
        return sum(rs) / len(rs)

    base = recall(ivfpq_result)
    plus_r = recall(SIM.ann_ivfpq_rerank_topk(_emb(spark, SF_SMOKE)).collect())
    assert plus_r >= base
    full_probe = recall(
        SIM.ann_ivfpq_rerank_topk(
            _emb(spark, SF_SMOKE), nprobe=10**6
        ).collect()
    )
    assert full_probe >= 0.9


# ---------------------------------------------------------------------------
# Persisted PQ index (build once / query many)


def test_pq_index_roundtrip_bit_equal(spark, tmp_path, pq_result):
    """Persisted-index search must be BIT-equal to the in-memory path:
    same deterministic sample -> same codebooks, parquet round-trips the
    integer codes exactly, and the LUT/ranking arithmetic is shared."""
    emb = _emb(spark, SF_SMOKE)
    meta = SIM.pq_index_build(emb, str(tmp_path / "idx"))
    assert meta["m_sub"] == SIM.PQ_M and meta["k_codes"] == SIM.PQ_K
    queries = [
        (r.vec_id, list(r.embedding))
        for r in emb.filter("vec_id < 5").select("vec_id", "embedding").collect()
    ]
    got = sorted(
        map(tuple, SIM.pq_index_topk(spark, str(tmp_path / "idx"), queries).collect())
    )
    assert got == sorted(map(tuple, pq_result))


def test_pq_index_profile_full_agreement(spark, tmp_path):
    row = SIM.pq_index_roundtrip_profile(
        spark, SF_SMOKE, work_dir=str(tmp_path / "p")
    ).collect()[0]
    assert row.n_agree == row.topk_rows == 50
    assert row.n_code_rows == row.n_vectors * SIM.PQ_M
    assert row.n_vectors > 0


def test_pq_index_queries_novel_vectors(spark, tmp_path):
    """The index answers queries for vectors NOT in the corpus (the
    serving case): results are well-formed, ranked, and exclude nothing
    (no self-filter can apply to an unseen id)."""
    emb = _emb(spark, SF_SMOKE)
    SIM.pq_index_build(emb, str(tmp_path / "idx2"))
    rng = np.random.default_rng(3)
    q = [(10**9, [float(x) for x in rng.normal(size=64)])]
    rows = SIM.pq_index_topk(spark, str(tmp_path / "idx2"), q, k=7).collect()
    assert len(rows) == 7
    assert [r.rk for r in sorted(rows, key=lambda r: r.rk)] == list(range(1, 8))
    dists = [r.adc_dist for r in sorted(rows, key=lambda r: r.rk)]
    assert dists == sorted(dists)
    # zero-norm query vectors are excluded -> empty result, not NaN
    assert (
        SIM.pq_index_topk(
            spark, str(tmp_path / "idx2"), [(5, [0.0] * 64)], k=3
        ).count()
        == 0
    )


# ---------------------------------------------------------------------------
# LSH capacity diagnostic and MMR reranking


def test_ann_candidate_counts_diagnostic(spark):
    """The capacity diagnostic's signature-row count follows the config
    identity (n x tables x probes) and the candidate count bounds the
    pair query's real candidate work from above (pre-dedup)."""
    embs = fan_out(load_table(spark, SF_CORRECT, "embeddings"))
    row = SIM.ann_candidate_counts(embs).collect()[0]
    assert (
        row.n_signature_rows
        == row.n_vectors * SIM.ANN_TABLES * SIM.ANN_PROBES
    )
    n_pairs = SIM.ann_lsh_pairs(embs, tau=-1.0).count()  # every candidate
    assert 0 < n_pairs <= row.n_candidates


def test_mmr_rerank_hand_case_and_properties(spark):
    """MMR by hand: first pick is the relevance argmax; at lam<1 a
    near-duplicate of the first pick is deferred behind a diverse
    lower-relevance doc; at lam=1 the order reduces to cosine top-k."""
    # query 0 = [1,0]; doc 10 = closest; doc 11 = near-duplicate of 10;
    # doc 12 = orthogonal (diverse, near-zero relevance)
    embs = spark.createDataFrame(
        [
            (0, [1.0, 0.0]),
            (10, [0.99, 0.1]),
            (11, [0.98, 0.11]),
            (12, [0.0, 1.0]),
        ],
        "vec_id bigint, embedding array<double>",
    )
    got = [
        (r.doc_id, r.rnk)
        for r in SIM.mmr_rerank_topk(
            embs, n_queries=1, k=3, pool=3, lam=0.3
        ).orderBy("rnk").collect()
    ]
    # round 2 at lam=.3: near-dup 11 scores .3*.99376 - .7*sim(10,11≈1.0)
    # = -.402; orthogonal 12 scores .3*0 - .7*sim(12,10=.1005) = -.070
    # -> diversity wins, the near-duplicate is deferred to last
    assert [d for d, _ in got] == [10, 12, 11]

    lam1 = [
        r.doc_id
        for r in SIM.mmr_rerank_topk(
            embs, n_queries=1, k=3, pool=3, lam=1.0
        ).orderBy("rnk").collect()
    ]
    cos = [
        r.neighbor_id
        for r in SIM.cosine_topk_bruteforce(embs, n_queries=1, k=3)
        .orderBy("rk")
        .collect()
    ]
    assert lam1 == cos
