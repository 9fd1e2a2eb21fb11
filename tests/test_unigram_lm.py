"""Unigram-LM tokenizer training (``operators/unigram_lm.py``): the
per-word E-step and Viterbi by hand, the distributed trainer bit-equal to
the sequential reference, the encode statistics, the single-char coverage
floor, and the per-round log of the one EM trainer."""

from __future__ import annotations

import logging

from bigdata_hwk_spark.operators import unigram_lm as UL


def test_unigram_estep_hand_posterior():
    from bigdata_hwk_spark.operators import unigram_lm as UL

    # word "ab", pieces {a: .25, b: .25, ab: .5}:
    # segs: [ab] p=.5, [a b] p=.0625, Z=.5625 -> E[ab]=8/9, E[a]=E[b]=1/9
    ec = UL.expected_counts_word("ab", {"a": 0.25, "b": 0.25, "ab": 0.5}, 6)
    assert abs(ec["ab"] - 8 / 9) < 1e-12
    assert abs(ec["a"] - 1 / 9) < 1e-12
    assert abs(ec["b"] - 1 / 9) < 1e-12
    # uncoverable word -> {}
    assert UL.expected_counts_word("xz", {"a": 1.0}, 6) == {}


def test_unigram_viterbi_hand_cases():
    from bigdata_hwk_spark.operators import unigram_lm as UL

    probs = {"a": 0.25, "b": 0.25, "c": 0.1, "ab": 0.4}
    assert UL.viterbi_segment("abc", probs, 6) == ["ab", "c"]
    # exact tie ([aa] vs [a,a] both .25): longer piece wins
    assert UL.viterbi_segment("aa", {"a": 0.5, "aa": 0.25}, 6) == ["aa"]
    assert UL.viterbi_segment("qq", {"a": 1.0}, 6) == []


def _uni_word_freqs(texts):
    from collections import Counter

    c = Counter()
    for t in texts:
        for w in t.split(" "):
            if w:
                c[w] += 1
    return dict(c)


def _uni_seed_ref(word_freqs, seed_size, max_len):
    from collections import Counter

    c = Counter()
    for w, f in word_freqs.items():
        for i in range(len(w)):
            for n in range(1, min(max_len, len(w) - i) + 1):
                c[w[i:i + n]] += f
    top = sorted(c.items(), key=lambda kv: (-kv[1], kv[0]))[:seed_size]
    kept = dict(top)
    for p, cnt in c.items():
        if len(p) == 1:
            kept[p] = cnt
    return sorted(kept.items(), key=lambda kv: (-kv[1], kv[0]))


def test_unigram_lm_distributed_equals_reference(spark):
    from bigdata_hwk_spark.operators import unigram_lm as UL

    texts = [
        "spark spark scan table scan",
        "sparkle table tablet scan",
        "spar spars sparkle spark",
    ]
    docs = spark.createDataFrame(
        list(enumerate(texts)), "doc_id bigint, text string"
    )
    wf = _uni_word_freqs(texts)
    seed_size, max_len, keep = 64, 4, 32
    # seed stage equality (distributed substring counts vs python)
    from bigdata_hwk_spark.operators.unigram_lm import _seed_pieces, _word_histogram

    seed_dist = _seed_pieces(_word_histogram(docs), seed_size, max_len)
    seed_ref = _uni_seed_ref(wf, seed_size, max_len)
    assert seed_dist == seed_ref
    # full train equality, bit-for-bit on quantized counts
    want = UL.unigram_train_reference(
        wf, seed_ref, n_iters=2, max_len=max_len, keep=keep
    )
    got = [
        (r.rnk, r.piece, r.prob, r.expected_q)
        for r in UL.unigram_lm_vocab(
            docs, seed_size=seed_size, n_iters=2, max_len=max_len, keep=keep
        ).orderBy("rnk").collect()
    ]
    assert got == [(r, p, round(pr, 12), q) for r, p, pr, q in want]
    # layout invariance
    got_rep = [
        (r.rnk, r.piece, r.prob, r.expected_q)
        for r in UL.unigram_lm_vocab(
            docs.repartition(7), seed_size=seed_size, n_iters=2,
            max_len=max_len, keep=keep,
        ).orderBy("rnk").collect()
    ]
    assert got_rep == got


def test_unigram_lm_encode_stats_matches_python(spark):
    from bigdata_hwk_spark.operators import unigram_lm as UL

    texts = ["spark scan spark", "sparkle scan table"]
    docs = spark.createDataFrame(
        list(enumerate(texts)), "doc_id bigint, text string"
    )
    r = UL.unigram_lm_encode_stats(
        docs, seed_size=64, n_iters=2, max_len=4, keep=32
    ).collect()[0]
    # python replay: same train (reference), same viterbi, weighted sums
    wf = _uni_word_freqs(texts)
    seed = _uni_seed_ref(wf, 64, 4)
    ranked = UL.unigram_train_reference(wf, seed, n_iters=2, max_len=4, keep=32)
    probs = {p: pr for _, p, pr, _ in ranked}
    n_words = sum(wf.values())
    n_pieces = sum(len(UL.viterbi_segment(w, probs, 4)) * f for w, f in wf.items())
    n_chars = sum(len(w) * f for w, f in wf.items())
    assert r.vocab_size == len(ranked)
    assert (r.n_words, r.n_pieces) == (n_words, n_pieces)
    assert r.avg_pieces_per_word == round(n_pieces / n_words, 6)
    assert r.compression_pct == round(100.0 * (1.0 - n_pieces / n_chars), 6)


def test_unigram_seed_char_coverage_floor():
    """A single char whose quantized expected count rounds to 0 must NOT
    vanish from the vocabulary: every seed single-char piece is carried
    through pruning with a floor count of 1, so every corpus word stays
    segmentable (char-by-char fallback always exists)."""
    from bigdata_hwk_spark.operators import unigram_lm as UL

    # planted: 'z' occurs once in a corpus dominated by a huge-count
    # word, and its seed count is adversarially tiny relative to _SCALE
    # quantization — the pre-fix path drops it when EM mass concentrates.
    qcounts = {"ab": 100, "a": 50, "b": 40}          # 'z' absent entirely
    seed_chars = {"a", "b", "z"}
    floored = UL._floor_seed_chars(dict(qcounts), seed_chars)
    assert floored["z"] == 1 and floored["a"] == 50

    # end-to-end: train on a corpus containing one 'z'; the trained
    # vocab must contain 'z' and Viterbi must segment 'za'.
    wf = {"aaaa": 1000, "aab": 500, "za": 1}
    seed = [("aa", 3000), ("a", 4500), ("b", 500), ("z", 1)]
    out = UL.unigram_train_reference(wf, seed, n_iters=3, max_len=4, keep=3)
    pieces = {p for _, p, _, _ in out}
    assert "z" in pieces and "a" in pieces and "b" in pieces
    probs = {p: pr for _, p, pr, _ in out}
    assert UL.viterbi_segment("za", probs, 4) != []


def test_unigram_train_logs_every_em_round(spark, caplog):
    """The one trainer behind ``unigram_lm_vocab`` and
    ``unigram_lm_encode_stats`` logs each EM round on the engine logger:
    name, round, pieces with expected mass, seconds. With ``keep`` above
    the piece count the last round's probe is the vocabulary size."""
    caplog.set_level(logging.INFO, logger="bigdata_hwk_spark")
    texts = ["spark spark scan table scan", "sparkle table tablet scan"]
    docs = spark.createDataFrame(
        list(enumerate(texts)), "doc_id bigint, text string"
    )
    vocab = UL.unigram_lm_vocab(
        docs, seed_size=64, n_iters=3, max_len=4, keep=10_000
    ).collect()
    rounds = [
        r.args
        for r in caplog.records
        if r.name == "bigdata_hwk_spark" and r.args and r.args[0] == "unigram_lm"
    ]
    assert [r[1] for r in rounds] == [1, 2, 3]
    assert all(r[2] > 0 and r[3] >= 0 for r in rounds)
    assert rounds[-1][2] == len(vocab)
