"""BPE tokenizer training: oracle parity for pair stats, bit-for-bit
equality of the histogram-collect trainer and encoder vs a pure-Python
reference, the overlap-prone merge shapes (runs), and a job-count pin
(training costs the same Spark jobs at any merge count)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from bigdata_hwk_spark.operators import bpe
from tests.conftest import (
    SF_CORRECT,
    SF_SMOKE,
    assert_matches_oracle,
    jobs_in_group,
)


def _docs(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


def test_pair_stats_matches_oracle_smoke(spark):
    assert_matches_oracle(
        bpe.bpe_pair_stats(_docs(spark, SF_SMOKE)),
        bpe.bpe_pair_stats_sql(),
        SF_SMOKE,
    )


def test_pair_stats_matches_oracle_gate_sf(spark):
    assert_matches_oracle(
        bpe.bpe_pair_stats(_docs(spark, SF_CORRECT)),
        bpe.bpe_pair_stats_sql(),
        SF_CORRECT,
    )


def _reference_from_docs(spark, sf_dir, **kw):
    texts = [
        r[0]
        for r in _docs(spark, sf_dir).select("text").collect()
    ]
    freqs: dict[str, int] = {}
    for t in texts:
        for w in t.split(" "):
            if w and bpe.BPE_SEP not in w:
                freqs[w] = freqs.get(w, 0) + 1
    return bpe.bpe_train_reference(freqs, **kw)


def test_merge_table_equals_python_reference(spark):
    got = [
        tuple(r)
        for r in bpe.bpe_merge_table(_docs(spark, SF_SMOKE))
        .orderBy("merge_rank")
        .collect()
    ]
    want = _reference_from_docs(spark, SF_SMOKE)
    assert got == want
    # the loop actually learned multi-char symbols, not just round-0 pairs
    assert len(got) == bpe.BPE_MERGES
    assert any(len(l) > 1 or len(r) > 1 for _, l, r, _, _ in got)


def test_merge_table_invariants(spark):
    rows = bpe.bpe_merge_table(
        _docs(spark, SF_SMOKE), n_merges=6
    ).orderBy("merge_rank").collect()
    counts = [r["pair_count"] for r in rows]
    # greedy argmax: the best pair's count never increases round-over-round
    # (new pairs created by a merge are bounded by the merged pair's count)
    assert counts == sorted(counts, reverse=True)
    for r in rows:
        assert r["merged"] == r["left_sym"] + r["right_sym"]
        assert r["pair_count"] >= bpe.BPE_MIN_PAIR_COUNT


@pytest.mark.parametrize(
    "word,freq,n",
    [
        ("aaaa", 3, 1),      # even run: ␟a␟␟a␟ must merge BOTH pairs
        ("aaaaa", 2, 2),     # odd run
        ("ababab", 2, 3),    # alternating l!=r run
        ("xy", 5, 1),        # minimal pair
    ],
)
def test_merge_application_matches_greedy_on_runs(spark, word, freq, n):
    """Merge application agrees with the reference trainer's greedy
    leftmost non-overlapping pass exactly on the overlap-prone shapes:
    an even run of ``a`` must merge every pair, an odd run leaves one
    ``a``, and alternating runs merge pairwise."""
    docs = spark.createDataFrame(
        [(0, " ".join([word] * freq))], "doc_id bigint, text string"
    )
    got = [
        tuple(r)
        for r in bpe.bpe_merge_table(docs, n_merges=n, min_count=1)
        .orderBy("merge_rank")
        .collect()
    ]
    freqs = {word: freq}
    want = bpe.bpe_train_reference(freqs, n_merges=n, min_count=1)
    assert got == want


def test_merge_table_deterministic_across_runs(spark):
    a = bpe.bpe_merge_table(_docs(spark, SF_SMOKE), n_merges=4).collect()
    b = bpe.bpe_merge_table(
        _docs(spark, SF_SMOKE).repartition(7), n_merges=4
    ).collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))


def test_pair_stats_rank_is_dense_and_capped(spark):
    df = bpe.bpe_pair_stats(_docs(spark, SF_SMOKE), k=16)
    rows = df.orderBy("rank").collect()
    assert [r["rank"] for r in rows] == list(range(1, len(rows) + 1))
    assert len(rows) <= 16
    assert all(r["pair_count"] > 0 for r in rows)


def _reference_encode_stats(spark, sf_dir, **kw):
    """Per-doc (n_words, n_chars, n_tokens) via the pure-Python trainer
    + encoder, over the same word filter the distributed side applies."""
    rows = _docs(spark, sf_dir).select("doc_id", "text").collect()
    freqs: dict[str, int] = {}
    split_docs = []
    for doc_id, text in rows:
        words = [
            w
            for w in text.split(" ")
            if w and bpe.BPE_SEP not in w
        ]
        split_docs.append((doc_id, words))
        for w in words:
            freqs[w] = freqs.get(w, 0) + 1
    merges = bpe.bpe_train_reference(freqs, **kw)
    tok = {w: len(bpe.bpe_apply_reference(w, merges)) for w in freqs}
    return {
        doc_id: (
            len(words),
            sum(len(w) for w in words),
            sum(tok[w] for w in words),
        )
        for doc_id, words in split_docs
    }


def test_encode_stats_equals_python_reference(spark):
    got = {
        r["doc_id"]: (r["n_words"], r["n_chars"], r["n_tokens"])
        for r in bpe.bpe_encode_stats(_docs(spark, SF_SMOKE)).collect()
    }
    want = _reference_encode_stats(spark, SF_SMOKE)
    assert got == want
    # the learned merges actually compressed something
    assert sum(v[2] for v in got.values()) < sum(v[1] for v in got.values())


def test_encode_stats_zero_merges_is_char_count(spark):
    """With an empty merge table every token is one character, so
    n_tokens == n_chars doc-for-doc (and n_chars is merge-invariant —
    conservation under any merge count)."""
    docs = _docs(spark, SF_SMOKE)
    zero = bpe.bpe_encode_stats(docs, n_merges=0).collect()
    assert all(r["n_tokens"] == r["n_chars"] for r in zero)
    full = bpe.bpe_encode_stats(docs).collect()
    assert {r["doc_id"]: r["n_chars"] for r in full} == {
        r["doc_id"]: r["n_chars"] for r in zero
    }


def test_encode_stats_keeps_unencodable_docs(spark):
    docs = spark.createDataFrame(
        [(1, "aa aa bb"), (2, ""), (3, f"x{bpe.BPE_SEP}y")],
        "doc_id bigint, text string",
    )
    got = {
        r["doc_id"]: (r["n_words"], r["n_chars"], r["n_tokens"])
        for r in bpe.bpe_encode_stats(docs, n_merges=2, min_count=1).collect()
    }
    # merge 1 fuses (a,a) f=2; doc 2 and 3 have no encodable word but
    # keep their zero rows
    assert got[2] == (0, 0, 0)
    assert got[3] == (0, 0, 0)
    assert got[1][0] == 3 and got[1][1] == 6
    assert got[1][2] < got[1][1]


# ---------------------------------------------------------------------------
# Driver-side kernels: bit-equality vs the pure-Python reference.


def test_incremental_trainer_equals_reference_on_fixture(spark):
    """bpe_train_incremental (inverted index + lazy heap) must be
    bit-identical to the O(k·V)-rescan reference trainer."""
    texts = [r[0] for r in _docs(spark, SF_SMOKE).select("text").collect()]
    freqs: dict[str, int] = {}
    for t in texts:
        for w in t.split(" "):
            if w and bpe.BPE_SEP not in w:
                freqs[w] = freqs.get(w, 0) + 1
    for n in (0, 1, 12, 40, 200):
        assert bpe.bpe_train_incremental(
            freqs, n_merges=n, min_count=1
        ) == bpe.bpe_train_reference(freqs, n_merges=n, min_count=1), n


def test_apply_batch_equals_reference_encoder(spark):
    """bpe_apply_batch (shared inverted index, rank order) must match
    bpe_apply_reference word-for-word, including the re-created-earlier-
    rank-pair case its docstring documents."""
    texts = [r[0] for r in _docs(spark, SF_SMOKE).select("text").collect()]
    freqs: dict[str, int] = {}
    for t in texts:
        for w in t.split(" "):
            if w and bpe.BPE_SEP not in w:
                freqs[w] = freqs.get(w, 0) + 1
    merges = bpe.bpe_train_reference(freqs, n_merges=40, min_count=1)
    words = sorted(freqs)
    got = bpe.bpe_apply_batch(words, merges)
    for w, seg in zip(words, got):
        assert seg == bpe.bpe_apply_reference(w, merges), w


def test_apply_batch_rank_order_not_lowest_rank_loop():
    """Constructed case where a later merge re-creates an earlier rank's
    pair: rank-order semantics leave it unmerged (one greedy pass per
    rank); a lowest-rank-first loop would merge it. Pins the batch
    kernel to the trainer's one-greedy-pass-per-rank semantics."""
    # merges: rank1 (b,c)->bc ; rank2 (a,bc)? no — build explicitly:
    # rank1: (x,y)->xy ; rank2: (w,x)->wx where wx == 'x'? impossible.
    # Instead: rank1 (a,b)->ab, rank2 (c,a)->ca — word "cab":
    #   rank1 pass: c,a,b -> c,ab   (a,b merged first, leftmost scan)
    #   rank2 pass: (c,ab) no (c,a) adjacency -> stays [c, ab]
    # vs word "caab": rank1: c,a,ab? chars c,a,a,b -> rank1 merges the
    # (a,b) at positions 3-4 -> [c,a,ab]; rank2 merges (c,a) -> [ca,ab].
    merges = [(1, "a", "b", "ab", 0), (2, "c", "a", "ca", 0)]
    got = bpe.bpe_apply_batch(["cab", "caab"], merges)
    assert got[0] == bpe.bpe_apply_reference("cab", merges) == ["c", "ab"]
    assert got[1] == bpe.bpe_apply_reference("caab", merges) == ["ca", "ab"]


def test_encode_stats_large_merge_count_runs(spark):
    """Encode must be green at n_merges >= 1024 (production vocab
    sizes). Conservation: n_chars is merge-invariant and n_tokens is
    monotone non-increasing in merge count."""
    docs = _docs(spark, SF_SMOKE)
    big = {
        r["doc_id"]: (r["n_chars"], r["n_tokens"])
        for r in bpe.bpe_encode_stats(docs, n_merges=1024, min_count=1).collect()
    }
    small = {
        r["doc_id"]: (r["n_chars"], r["n_tokens"])
        for r in bpe.bpe_encode_stats(docs, n_merges=12).collect()
    }
    assert set(big) == set(small)
    for did in big:
        assert big[did][0] == small[did][0]  # chars conserved
        assert big[did][1] <= small[did][1]  # more merges, fewer tokens


def test_vocab_cap_prunes_tail_loudly(spark, caplog):
    """vocab_cap bounds the driver collect; the prune is logged and only
    the rare tail's counts are lost (top pair unaffected here)."""
    docs = spark.createDataFrame(
        [(0, "aa aa aa aa zz qq")], "doc_id bigint, text string"
    )
    import logging as _logging

    with caplog.at_level(_logging.WARNING, logger="bigdata_hwk_spark.operators.bpe"):
        rows = bpe.bpe_merge_table(
            docs, n_merges=1, min_count=1, vocab_cap=1
        ).collect()
    assert any("vocab_cap" in rec.message for rec in caplog.records)
    assert [tuple(r) for r in rows] == [(1, "a", "a", "aa", 4)]


@pytest.mark.parametrize(
    "fn,max_jobs",
    [(bpe.bpe_merge_table, 5), (bpe.bpe_encode_stats, 13)],
    ids=["merge_table", "encode_stats"],
)
def test_job_count_independent_of_merge_count(spark, fn, max_jobs):
    """The merge loop runs on the driver over the collected histogram,
    so training launches the same jobs at 1 merge as at 40 (one vocab
    count, one collect, plus the encode join) — no job per round."""
    docs = _docs(spark, SF_SMOKE)
    jobs = {
        k: jobs_in_group(
            spark,
            f"bpe-{fn.__name__}-{k}",
            lambda: fn(docs, n_merges=k, min_count=1).collect(),
        )[1]
        for k in (1, 40)
    }
    assert jobs[1] == jobs[40], jobs
    assert jobs[40] <= max_jobs, jobs
