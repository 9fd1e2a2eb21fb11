"""Distributed Unigram-LM tokenizer training (the SentencePiece family).

Not in the reference (SURVEY.md §2.11 north-star extensions): the second
major subword-tokenizer family next to BPE (``operators/bpe.py``).
Unigram LM (Kudo 2018, "Subword Regularization", ACL) models a word as
a LATENT segmentation into vocabulary pieces, trains piece
probabilities by EM over all segmentations (forward-backward per word),
and prunes to a target vocabulary; encoding is the Viterbi segmentation.

Scale design — same spine as the BPE trainer:

* The corpus collapses to its WORD HISTOGRAM first (one map-side-
  combined corpus-scale groupBy; Heaps' law makes everything after
  vocabulary-sized).
* Seed-piece counting (all substrings ≤ ``max_len``, weighted by word
  frequency) is a codegen explode over the HISTOGRAM + one groupBy —
  top ``seed_size`` pieces by (count desc, piece asc), UNION all single
  characters (coverage guarantee: every word stays segmentable).
* Each EM iteration is ONE ``mapInPandas`` pass over the histogram
  (Arrow-batched; the piece table rides in the closure — it is
  ``seed_size``-bounded BY CONSTRUCTION, the DSIR broadcast discipline)
  emitting per-partition integer partials, one vocabulary-sized groupBy,
  and a ``seed_size``-row collect. Driver traffic per iteration:
  O(seed_size) rows — bounded metadata.

Bit-determinism (the ``kmeans_fit`` integer-partials device): each
(word, piece) expected count quantizes to an integer (× 2²⁴, round)
BEFORE any summation, so every fold is an exact integer sum — layout-
and batch-independent; M-step probabilities are single int64→double
divisions. The sequential reference (``unigram_train_reference``) folds
the same per-word integers in plain Python; the distributed trainer
must match it BIT-FOR-BIT (test-pinned), and the per-word E-step math
itself is pinned by a hand-computed posterior case.

Pruning keeps the top ``keep`` pieces by (expected-count desc, piece
asc) but NEVER drops a single character (coverage), then renormalizes
over the kept set.
"""

from __future__ import annotations

import time

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..session import local_df, log_round

UNI_SEED_SIZE = 2048
UNI_MAX_LEN = 6
UNI_EM_ITERS = 2
UNI_KEEP = 512
_SCALE = 1 << 24


def _word_histogram(documents: DataFrame) -> DataFrame:
    """(word, f): the one corpus-scale shuffle (the BPE `_word_vocab`
    shape, minus the separator filter Unigram LM doesn't need)."""
    return (
        documents.select(
            F.explode(F.split(F.col("text"), " ")).alias("word")
        )
        .filter(F.col("word") != "")
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("f"))
    )


def _seed_pieces(vocab: DataFrame, seed_size: int, max_len: int) -> list:
    """Top substrings (weighted by word frequency) plus every single
    character; returns [(piece, count)] sorted (count desc, piece asc).

    The substring explode runs over the HISTOGRAM in codegen:
    positions × lengths flattened per distinct word.
    """
    subs = vocab.select(
        "f",
        F.explode(
            F.expr(
                f"flatten(transform(sequence(1, length(word)), i -> "
                f"transform(sequence(1, least({max_len}, length(word) - i + 1)), "
                f"n -> substring(word, i, n))))"
            )
        ).alias("piece"),
    )
    counts = subs.groupBy("piece").agg(F.sum("f").alias("c"))
    top = counts.orderBy(F.col("c").desc(), F.col("piece").asc()).limit(
        seed_size
    )
    chars = counts.filter(F.length("piece") == 1)
    seed = (
        top.union(chars)
        .groupBy("piece")
        .agg(F.max("c").alias("c"))
        .orderBy(F.col("c").desc(), F.col("piece").asc())
        .collect()
    )
    return [(r.piece, int(r.c)) for r in seed]


def expected_counts_word(
    word: str, probs: dict, max_len: int
) -> dict:
    """Per-word E-step: expected piece counts under the current model,
    via linear-domain forward-backward over all segmentations. Returns
    {} for a word the vocabulary cannot cover (impossible while all
    single chars are kept)."""
    n = len(word)
    alpha = [0.0] * (n + 1)
    alpha[0] = 1.0
    for i in range(1, n + 1):
        a = 0.0
        for j in range(max(0, i - max_len), i):
            p = probs.get(word[j:i])
            if p:
                a += alpha[j] * p
        alpha[i] = a
    z = alpha[n]
    if z <= 0.0:
        return {}
    beta = [0.0] * (n + 1)
    beta[n] = 1.0
    for j in range(n - 1, -1, -1):
        b = 0.0
        for i in range(j + 1, min(n, j + max_len) + 1):
            p = probs.get(word[j:i])
            if p:
                b += p * beta[i]
        beta[j] = b
    out: dict = {}
    for j in range(n):
        for i in range(j + 1, min(n, j + max_len) + 1):
            p = probs.get(word[j:i])
            if p:
                ec = alpha[j] * p * beta[i] / z
                if ec > 0.0:
                    piece = word[j:i]
                    out[piece] = out.get(piece, 0.0) + ec
    return out


def viterbi_segment(word: str, probs: dict, max_len: int) -> list:
    """Best segmentation (max product of piece probs); ties prefer the
    LONGER last piece, then the lexicographically smaller one — an
    explicit total order so encodes are deterministic everywhere."""
    import math

    n = len(word)
    best = [(-math.inf, 0, "")] * (n + 1)
    best[0] = (0.0, 0, "")
    for i in range(1, n + 1):
        cand = None
        for j in range(max(0, i - max_len), i):
            p = probs.get(word[j:i])
            if p and best[j][0] > -math.inf:
                score = best[j][0] + math.log(p)
                key = (score, i - j, word[j:i])
                if cand is None or (
                    key[0] > cand[0]
                    or (
                        key[0] == cand[0]
                        and (key[1], [-ord(ch) for ch in key[2]])
                        > (cand[1], [-ord(ch) for ch in cand[2]])
                    )
                ):
                    cand = (key[0], key[1], key[2], j)
        if cand is not None:
            best[i] = (cand[0], cand[3], cand[2])
    if best[n][0] == -math.inf:
        return []
    pieces, i = [], n
    while i > 0:
        _, j, piece = best[i]
        pieces.append(piece)
        i = j
    return pieces[::-1]


def _quantized_estep_word(word: str, f: int, probs: dict, max_len: int) -> dict:
    """{(piece): int} — the per-word expected counts scaled by the word
    frequency and quantized to integers. Quantizing at the (word, piece)
    grain BEFORE any fold is what makes every downstream sum exact and
    order-free."""
    out = {}
    for piece, ec in expected_counts_word(word, probs, max_len).items():
        q = int(round(ec * f * _SCALE))
        if q:
            out[piece] = q
    return out


def _mstep(qcounts: dict) -> dict:
    total = sum(qcounts.values())
    return {p: q / total for p, q in qcounts.items() if q > 0}


def _floor_seed_chars(qcounts: dict, seed_chars: set) -> dict:
    """Carry every seed single-character piece through quantization with
    a floor count of 1. Without this, a rare char whose quantized
    expected count rounds to 0 vanishes from the model mid-EM, making
    every word containing it unsegmentable (viterbi returns []) — the
    coverage guarantee must hold for ALL corpus chars, not just the
    ones that survived rounding. Applied identically in the sequential
    reference and the distributed trainer (bit-equality preserved).
    """
    for ch in seed_chars:
        if qcounts.get(ch, 0) < 1:
            qcounts[ch] = 1
    return qcounts


def unigram_train_reference(
    word_freqs: dict,
    seed: list,
    n_iters: int = UNI_EM_ITERS,
    max_len: int = UNI_MAX_LEN,
    keep: int = UNI_KEEP,
) -> list:
    """Sequential reference trainer (the test oracle): identical seed,
    per-word quantization, integer folds, prune, and renormalize.
    Returns [(rank, piece, prob, q)]."""
    probs = _mstep({p: c for p, c in seed})
    seed_chars = {p for p, _ in seed if len(p) == 1}
    qcounts: dict = {}
    for _ in range(n_iters):
        qcounts = {}
        for word, f in word_freqs.items():
            for piece, q in _quantized_estep_word(
                word, int(f), probs, max_len
            ).items():
                qcounts[piece] = qcounts.get(piece, 0) + q
        probs = _mstep(_floor_seed_chars(qcounts, seed_chars))
    return _prune_rank(qcounts, keep)


def _prune_rank(qcounts: dict, keep: int) -> list:
    """Keep top ``keep`` by (q desc, piece asc), never dropping single
    chars; renormalize; return [(rank, piece, prob, q)]."""
    ranked = sorted(qcounts.items(), key=lambda kv: (-kv[1], kv[0]))
    kept = ranked[:keep] + [
        (p, q) for p, q in ranked[keep:] if len(p) == 1
    ]
    total = sum(q for _, q in kept)
    out = []
    for rank, (piece, q) in enumerate(
        sorted(kept, key=lambda kv: (-kv[1], kv[0])), start=1
    ):
        out.append((rank, piece, q / total, q))
    return out


def unigram_lm_vocab(
    documents: DataFrame,
    seed_size: int = UNI_SEED_SIZE,
    n_iters: int = UNI_EM_ITERS,
    max_len: int = UNI_MAX_LEN,
    keep: int = UNI_KEEP,
) -> DataFrame:
    """(rnk, piece, prob, expected_q): the trained Unigram-LM vocabulary
    — distributed EM over the word histogram, bit-equal to
    ``unigram_train_reference`` on the same corpus (test-pinned)."""
    from ..session import ensure_package_on_executors, persist_once

    spark = documents.sparkSession
    ensure_package_on_executors(spark)
    vocab = persist_once(_word_histogram(documents))
    rows = _train(vocab, seed_size, n_iters, max_len, keep)
    return local_df(
        spark, [(r, p, round(pr, 12), q) for r, p, pr, q in rows],
        "rnk int, piece string, prob double, expected_q bigint",
    )


def _train(
    vocab: DataFrame, seed_size: int, n_iters: int, max_len: int, keep: int
) -> list:
    """The distributed trainer of ``unigram_lm_vocab`` and
    ``unigram_lm_encode_stats`` over the persisted word histogram
    ``vocab``: seed, ``n_iters`` EM rounds, prune. Each round logs the
    number of pieces with expected mass and its seconds through
    ``session.log_round``. Returns [(rank, piece, prob, q)], bit-equal
    to ``unigram_train_reference``."""
    seed = _seed_pieces(vocab, seed_size, max_len)
    probs = _mstep({p: c for p, c in seed})
    seed_chars = {p for p, _ in seed if len(p) == 1}
    qcounts: dict = {}
    for rnd in range(1, n_iters + 1):
        t0 = time.perf_counter()
        qcounts = _distributed_estep(vocab, probs, max_len)
        probs = _mstep(_floor_seed_chars(qcounts, seed_chars))
        log_round("unigram_lm", rnd, len(qcounts), time.perf_counter() - t0)
    return _prune_rank(qcounts, keep)


def _distributed_estep(vocab: DataFrame, probs: dict, max_len: int) -> dict:
    """One EM E-step as a mapInPandas pass over the histogram: integer
    partials per batch, one vocabulary-bounded groupBy, one
    O(seed_size)-row collect."""
    import pandas as pd  # noqa: F401 (executor-side import)

    def run(batches):
        import pandas as pd

        for pdf in batches:
            acc: dict = {}
            for word, f in zip(pdf["word"], pdf["f"]):
                for piece, q in _quantized_estep_word(
                    str(word), int(f), probs, max_len
                ).items():
                    acc[piece] = acc.get(piece, 0) + q
            yield pd.DataFrame(
                {"piece": list(acc.keys()), "q": list(acc.values())}
            )

    partials = vocab.mapInPandas(run, "piece string, q bigint")
    agg = (
        partials.groupBy("piece").agg(F.sum("q").alias("q")).collect()
    )
    return {r.piece: int(r.q) for r in agg}


def unigram_lm_encode_stats(
    documents: DataFrame,
    seed_size: int = UNI_SEED_SIZE,
    n_iters: int = UNI_EM_ITERS,
    max_len: int = UNI_MAX_LEN,
    keep: int = UNI_KEEP,
) -> DataFrame:
    """One row (vocab_size, n_words, n_pieces, avg_pieces_per_word,
    compression_pct): corpus tokenization statistics under the trained
    model's VITERBI segmentation — the encode-side consumer that ties
    the vocabulary to a corpus number (the ``bpe_encode_stats`` twin).

    The corpus is never re-segmented row by row: Viterbi runs once per
    DISTINCT word (one more Arrow pass over the persisted histogram,
    trained-prob table in the closure — ``keep``-bounded), and the
    corpus totals are frequency-weighted integer sums. avg/compression
    are single divisions of exact BIGINTs, rounded to 6.
    """
    from ..session import ensure_package_on_executors, persist_once

    ensure_package_on_executors(documents.sparkSession)
    vocab = persist_once(_word_histogram(documents))
    ranked = _train(vocab, seed_size, n_iters, max_len, keep)
    final_probs = {p: pr for _, p, pr, _ in ranked}
    ml = max_len

    def run(batches):
        import pandas as pd

        for pdf in batches:
            n_words = 0
            n_pieces = 0
            n_chars = 0
            for word, f in zip(pdf["word"], pdf["f"]):
                w, f = str(word), int(f)
                segs = viterbi_segment(w, final_probs, ml)
                if not segs and w:
                    # coverage invariant: every corpus char is a seed
                    # single floored through pruning, so a non-empty
                    # word can always fall back to char-by-char — an
                    # empty segmentation means the model lost coverage
                    # and the stats would silently undercount n_pieces
                    raise RuntimeError(
                        f"unsegmentable word under trained vocab: {w!r}"
                        " — single-char coverage floor violated"
                    )
                n_words += f
                n_pieces += len(segs) * f
                n_chars += len(w) * f
            yield pd.DataFrame(
                {
                    "n_words": [n_words],
                    "n_pieces": [n_pieces],
                    "n_chars": [n_chars],
                }
            )

    partials = vocab.mapInPandas(
        run, "n_words bigint, n_pieces bigint, n_chars bigint"
    )
    return partials.agg(
        F.lit(len(ranked)).cast("bigint").alias("vocab_size"),
        F.sum("n_words").cast("bigint").alias("n_words"),
        F.sum("n_pieces").cast("bigint").alias("n_pieces"),
        F.round(
            F.sum("n_pieces") / F.sum("n_words").cast("double"), 6
        ).alias("avg_pieces_per_word"),
        F.round(
            F.lit(100.0)
            * (F.lit(1.0) - F.sum("n_pieces") / F.sum("n_chars").cast("double")),
            6,
        ).alias("compression_pct"),
    )
