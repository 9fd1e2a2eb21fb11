"""Distributed BPE tokenizer training — pair statistics + merge table.

Not in the reference (SURVEY.md §2.11 north-star extensions): before an
LLM pretraining run ever sees the corpus, a tokenizer is trained ON the
corpus, and at 100 TB that training is itself a distributed analytics
job. Byte-pair encoding (Sennrich, Haddow & Birch 2016, "Neural Machine
Translation of Rare Words with Subword Units", ACL) learns a merge
table: repeatedly find the most frequent ADJACENT symbol pair across
the corpus and fuse it into a new symbol.

The scale insight — the one every production BPE trainer uses — is that
the corpus collapses to its WORD HISTOGRAM first: pair counts only ever
depend on (distinct word, frequency), and by Heaps' law the vocabulary
grows ~n^0.7 while the corpus grows ~n. That groupBy is the ONLY
corpus-scale shuffle (it map-side combines — word counts are the
textbook combiner case); the histogram then collects to the driver,
where the inherently sequential merge loop runs with incrementally
maintained pair counts — the reference's MRFFT shape
(HWK_2/G029HW2.py:81-107: distributed compress, driver kernel on the
coreset). Ties break deterministically (count DESC, left ASC, right
ASC), making the whole merge table reproducible bit-for-bit across
engines and runs; ``tests/test_bpe.py`` pins it against a pure-Python
reference trainer.

``bpe_pair_stats`` (round 0 of the same computation: char-level pair
counts over the word histogram) is fully SQL-expressible and carries
the DuckDB oracle; it segments each word as a single string with every
character individually WRAPPED in an ASCII unit separator (``"\\x1f"``,
absent from the corpus by an enforced filter): ``"abc"`` →
``"␟a␟␟b␟␟c␟"``, so splitting on the doubled separator recovers the
symbols. The iterative merge loop is rows-only by design.
"""

from __future__ import annotations

import heapq
import logging
from collections import Counter

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..session import (
    bounded_window,
    ensure_package_on_executors,
    local_df,
    persist_scoped,
)

_LOG = logging.getLogger(__name__)

# ASCII unit separator: symbol delimiter inside segmentation strings.
# Words containing it are excluded (cannot be represented); the fixture
# corpus is plain ASCII text and contains none, and at production scale
# the excluded tail is noise bytes, not language.
BPE_SEP = "\x1f"
BPE_PAIR_TOPK = 64
BPE_MERGES = 12
BPE_MIN_PAIR_COUNT = 2
# Driver-sized vocab: the default ``vocab_cap`` on the histogram collect
# (larger vocabs train on their top words by frequency, logged loudly),
# and the bound under which the encode join broadcasts its (word ->
# n_tokens) side — a production-scale vocab (Heaps ~n^0.7 of a 100 TB
# corpus) degrades to a shuffle hash join on the same key instead of
# OOMing the broadcast.
BPE_DRIVER_MAX_VOCAB = 4_000_000


def _word_vocab(documents: DataFrame) -> DataFrame:
    """(word, f): the corpus word histogram — the one corpus-scale
    shuffle in BPE training (map-side combined word counts)."""
    return (
        documents.select(
            F.explode(F.split(F.col("text"), " ")).alias("word")
        )
        .filter(
            (F.col("word") != "") & ~F.col("word").contains(BPE_SEP)
        )
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("f"))
    )


def _adjacent_pairs(vocab: DataFrame, syms_col) -> DataFrame:
    """(left_sym, right_sym, f) — one row per adjacent symbol pair per
    vocab word, weighted later by the word's frequency ``f``.

    ``syms_col`` is a Column producing the wrapped segmentation string;
    trimming the outer separators and splitting on the doubled
    inter-symbol separator recovers [s1, .., sk], and the two
    off-by-one slices zip into the adjacent pairs — all JVM built-ins,
    no Python in the loop.
    """
    inner = F.split(
        F.btrim(syms_col, F.lit(BPE_SEP)), BPE_SEP + BPE_SEP
    )
    pairs = F.arrays_zip(
        F.slice(inner, 1, F.size(inner) - 1).alias("left_sym"),
        F.slice(inner, 2, F.size(inner) - 1).alias("right_sym"),
    )
    return (
        vocab.select("f", F.explode(pairs).alias("p"))
        .select("p.left_sym", "p.right_sym", "f")
    )


def _char_syms(word_col) -> F.Column:
    """word → per-char wrapped segmentation: "abc" → "␟a␟␟b␟␟c␟"."""
    return F.array_join(
        F.transform(
            F.split(word_col, ""),
            lambda c: F.concat(F.lit(BPE_SEP), c, F.lit(BPE_SEP)),
        ),
        "",
    )


def bpe_pair_stats(
    documents: DataFrame, k: int = BPE_PAIR_TOPK
) -> DataFrame:
    """(rank, left_sym, right_sym, pair_count): the top-k most frequent
    adjacent character pairs across the corpus, occurrence-weighted —
    BPE merge round 0 as one declarative plan (and the profiling query
    a tokenizer team runs before committing to a vocab size).

    Corpus → word histogram → per-word char pairs (weighted by word
    frequency, so the pair explode runs over the Heaps-compressed vocab,
    not the corpus) → global count → deterministic top-k (count DESC,
    then pair lexicographic; row_number, no ties left to the engine).
    """
    vocab = _word_vocab(documents)
    counts = (
        _adjacent_pairs(vocab, _char_syms(F.col("word")))
        .groupBy("left_sym", "right_sym")
        .agg(F.sum("f").alias("pair_count"))
    )
    w = bounded_window(
        F.desc("pair_count"), "left_sym", "right_sym"
    )
    return (
        counts.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            F.col("rank").cast("bigint").alias("rank"),
            "left_sym",
            "right_sym",
            F.col("pair_count").cast("bigint").alias("pair_count"),
        )
    )


def bpe_pair_stats_sql(k: int = BPE_PAIR_TOPK) -> str:
    """Oracle: identical word filter, identical per-character pair
    extraction (DuckDB ``range`` + ``substring`` — the corpus is ASCII,
    so Java code-unit and UTF-8 codepoint indexing agree), identical
    deterministic ranking."""
    return f"""
WITH w AS (SELECT unnest(string_split(text, ' ')) AS word FROM documents),
v AS (SELECT word, count(*) AS f FROM w
      WHERE word <> '' AND strpos(word, chr(31)) = 0 GROUP BY word),
idx AS (SELECT word, f, unnest(range(1, length(word))) AS i FROM v),
p AS (SELECT substring(word, CAST(i AS INT), 1) AS left_sym,
             substring(word, CAST(i AS INT) + 1, 1) AS right_sym, f
      FROM idx),
agg AS (SELECT left_sym, right_sym, sum(f) AS pair_count
        FROM p GROUP BY left_sym, right_sym),
ranked AS (SELECT row_number() OVER (ORDER BY pair_count DESC,
                                     left_sym, right_sym) AS rank,
                  left_sym, right_sym, pair_count
           FROM agg)
SELECT CAST(rank AS BIGINT) AS rank, left_sym, right_sym,
       CAST(pair_count AS BIGINT) AS pair_count
FROM ranked WHERE rank <= {k}
"""


def bpe_merge_table(
    documents: DataFrame,
    n_merges: int = BPE_MERGES,
    min_count: int = BPE_MIN_PAIR_COUNT,
    vocab_cap: int = BPE_DRIVER_MAX_VOCAB,
) -> DataFrame:
    """(merge_rank, left_sym, right_sym, merged, pair_count): the
    learned BPE merge table — ``n_merges`` greedy rounds, each fusing
    the currently most frequent adjacent symbol pair (ties broken
    count DESC, left ASC, right ASC; stop early when the best pair's
    count drops below ``min_count``).

    The ONE corpus-scale shuffle (word count) stays distributed, the
    Heaps-compressed histogram collects to the driver (``vocab_cap``
    bounds the collect) and ``bpe_train_incremental`` runs the merge
    loop there — per round it touches only words containing the merged
    pair, so total work tracks merge applications, not rounds × vocab,
    and no per-round Spark job is paid: the job count is the same at
    any ``n_merges``.

    Rows-only by design (an iterative argmax loop is not one SQL
    query).
    """
    vocab, release = persist_scoped(_word_vocab(documents))
    try:
        hist, _ = _collect_word_histogram(vocab, vocab_cap)
    finally:
        release()
    return local_df(
        documents.sparkSession,
        bpe_train_incremental(hist, n_merges, min_count),
        "merge_rank bigint, left_sym string, right_sym string, "
        "merged string, pair_count bigint",
    )


def bpe_encode_stats(
    documents: DataFrame,
    n_merges: int = BPE_MERGES,
    min_count: int = BPE_MIN_PAIR_COUNT,
    vocab_cap: int = BPE_DRIVER_MAX_VOCAB,
) -> DataFrame:
    """(doc_id, n_words, n_chars, n_tokens): the apply side — encode
    every document under the merge table just trained on the corpus and
    report per-doc token counts (n_chars/n_tokens is the compression
    ratio a tokenizer team reads off a candidate vocab; all-integer
    output so engines cannot disagree).

    Distributed shape: train as ``bpe_merge_table`` does, then compute
    tokens-per-word ONCE per distinct word on the Heaps-compressed vocab
    via the broadcast-merge-table ``bpe_apply_batch`` mapInPandas kernel
    (the corpus is never re-segmented row by row), then documents
    explode to words and equi-join that (word → n_tokens) table. The
    join broadcasts the vocab side while the vocab row count (counted
    once, for the collect bound) stays under ``BPE_DRIVER_MAX_VOCAB``;
    above it the hint is withheld so AQE picks a shuffle hash join on
    the same key. Docs with no encodable word (empty text, or every word
    carrying the separator byte) keep a row with zero counts via the
    left join — conservation (sum(n_chars) is merge-invariant) is
    property-tested.

    Rows-only by design (the merge table is data-dependent, so no
    static SQL can express train-then-encode); exactness is pinned
    against the pure-Python reference encoder in ``tests/test_bpe.py``.
    """
    vocab, release = persist_scoped(_word_vocab(documents))
    try:
        hist, n_vocab = _collect_word_histogram(vocab, vocab_cap)
    finally:
        # the returned (lazy) plan reads the deterministic histogram
        # exactly once — the cache only served the count and collect
        release()
    merges = bpe_train_incremental(hist, n_merges, min_count)
    word_tok = _word_tokens_mapinpandas(vocab, merges)
    tok_side = (
        F.broadcast(word_tok)
        if n_vocab <= BPE_DRIVER_MAX_VOCAB
        else word_tok
    )
    doc_words = documents.select(
        "doc_id",
        F.explode(F.split(F.col("text"), " ")).alias("word"),
    ).filter((F.col("word") != "") & ~F.col("word").contains(BPE_SEP))
    per_doc = (
        doc_words.join(tok_side, "word")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_words"),
            F.sum("w_chars").alias("n_chars"),
            F.sum("w_tokens").alias("n_tokens"),
        )
    )
    return (
        documents.select("doc_id")
        .join(per_doc, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_words", F.lit(0)).cast("bigint").alias("n_words"),
            F.coalesce("n_chars", F.lit(0)).cast("bigint").alias("n_chars"),
            F.coalesce("n_tokens", F.lit(0)).cast("bigint").alias("n_tokens"),
        )
    )


def bpe_apply_reference(
    word: str, merges: list[tuple[int, str, str, str, int]]
) -> list[str]:
    """Pure-Python reference encoder (test oracle for the encode side):
    apply the learned merges in rank order, each as the same leftmost
    non-overlapping greedy pass the trainer uses."""
    syms: list[str] = list(word)
    for _, l, r, _, _ in merges:
        out, i = [], 0
        while i < len(syms):
            if i + 1 < len(syms) and syms[i] == l and syms[i + 1] == r:
                out.append(l + r)
                i += 2
            else:
                out.append(syms[i])
                i += 1
        syms = out
    return syms


def bpe_train_reference(
    word_freqs: dict[str, int],
    n_merges: int = BPE_MERGES,
    min_count: int = BPE_MIN_PAIR_COUNT,
) -> list[tuple[int, str, str, str, int]]:
    """Pure-Python reference trainer (test oracle for the distributed
    loop): same greedy argmax, same deterministic tie-break, same
    leftmost non-overlapping merge application."""
    segs = {w: tuple(w) for w in word_freqs}
    out = []
    for rank in range(1, n_merges + 1):
        counts: dict[tuple[str, str], int] = {}
        for w, syms in segs.items():
            f = word_freqs[w]
            for a, b in zip(syms, syms[1:]):
                counts[(a, b)] = counts.get((a, b), 0) + f
        if not counts:
            break
        (l, r), c = min(
            counts.items(), key=lambda kv: (-kv[1], kv[0][0], kv[0][1])
        )
        if c < min_count:
            break
        out.append((rank, l, r, l + r, c))
        for w, syms in segs.items():
            merged, i = [], 0
            while i < len(syms):
                if (
                    i + 1 < len(syms)
                    and syms[i] == l
                    and syms[i + 1] == r
                ):
                    merged.append(l + r)
                    i += 2
                else:
                    merged.append(syms[i])
                    i += 1
            segs[w] = tuple(merged)
    return out


def _merge_pass(syms: list, l: str, r: str) -> list:
    """One greedy leftmost non-overlapping pass merging (l, r) — the
    exact application semantics of ``bpe_apply_reference``."""
    merged, i, n = [], 0, len(syms)
    while i < n:
        if i + 1 < n and syms[i] == l and syms[i + 1] == r:
            merged.append(l + r)
            i += 2
        else:
            merged.append(syms[i])
            i += 1
    return merged


def bpe_train_incremental(
    word_freqs: dict[str, int],
    n_merges: int = BPE_MERGES,
    min_count: int = BPE_MIN_PAIR_COUNT,
) -> list[tuple[int, str, str, str, int]]:
    """Merge-count-safe trainer over a word histogram: bit-identical
    output to ``bpe_train_reference`` (same greedy argmax, same
    (count DESC, left ASC, right ASC) tie-break, same leftmost
    non-overlapping application), but with the pair statistics
    maintained INCREMENTALLY — each round touches only the words that
    actually contain the merged pair (tracked by an inverted
    pair → word-set index), and the argmax comes from a lazy max-heap
    instead of a full rescan.

    This is the production BPE shape (what single-node trainers run on
    the word histogram after the corpus-scale count): total work is
    proportional to the number of merge APPLICATIONS plus index churn,
    not rounds × vocabulary. The reference trainer re-derives all pair
    counts from scratch every round (O(k·V) — fine as a test oracle,
    a scale-killer at k = 32k merges).

    Heap discipline: every count CHANGE pushes a fresh (−count, l, r)
    entry; stale entries are discarded on pop by checking against the
    live count dict, so the surviving top is the true maximum under the
    exact tie order (tuple comparison on (−count, l, r) is the
    reference's ``min(..., key=(-cnt, l, r))``).
    """
    words = list(word_freqs.keys())
    freqs = [word_freqs[w] for w in words]
    segs: list[list[str]] = [list(w) for w in words]
    counts: dict[tuple[str, str], int] = {}
    occ: dict[tuple[str, str], set[int]] = {}
    for wi, syms in enumerate(segs):
        f = freqs[wi]
        for p in zip(syms, syms[1:]):
            counts[p] = counts.get(p, 0) + f
            occ.setdefault(p, set()).add(wi)
    heap = [(-c, p[0], p[1]) for p, c in counts.items()]
    heapq.heapify(heap)
    out: list[tuple[int, str, str, str, int]] = []
    for rank in range(1, n_merges + 1):
        while heap:
            negc, l, r = heap[0]
            if counts.get((l, r), 0) == -negc and -negc > 0:
                break
            heapq.heappop(heap)
        if not heap:
            break
        c = -heap[0][0]
        l, r = heap[0][1], heap[0][2]
        if c < min_count:
            break
        out.append((rank, l, r, l + r, c))
        for wi in occ.get((l, r), set()).copy():
            syms = segs[wi]
            f = freqs[wi]
            merged = _merge_pass(syms, l, r)
            segs[wi] = merged
            old_pairs = list(zip(syms, syms[1:]))
            new_pairs = list(zip(merged, merged[1:]))
            delta = Counter(new_pairs)
            delta.subtract(old_pairs)
            for p, d in delta.items():
                if d == 0:
                    continue
                nc = counts.get(p, 0) + d * f
                if nc > 0:
                    counts[p] = nc
                    heapq.heappush(heap, (-nc, p[0], p[1]))
                else:
                    counts.pop(p, None)
            old_set, new_set = set(old_pairs), set(new_pairs)
            for p in old_set - new_set:
                s = occ.get(p)
                if s is not None:
                    s.discard(wi)
            for p in new_set - old_set:
                occ.setdefault(p, set()).add(wi)
    return out


def bpe_apply_batch(
    words: list[str], merges: list[tuple[int, str, str, str, int]]
) -> list[list[str]]:
    """Batch encoder: segment every word under the merge table, applying
    merges in RANK ORDER with one greedy leftmost non-overlapping pass
    each — per-word output identical to ``bpe_apply_reference``, but a
    shared inverted pair → word-set index makes a rank that touches no
    word in the batch O(1) instead of O(batch): total work is
    proportional to actual merge applications, not k × batch (the
    property that makes a 32k-merge vocab encodable at all).

    Rank-order (not lowest-rank-first looping, which HF-style word
    encoders use) is load-bearing for train/encode consistency here: a
    later merge can re-CREATE an earlier rank's pair (merge m > k
    producing symbol ``a`` adjacent to ``b`` where (a, b) has rank k),
    and the trainer's one-greedy-pass-per-rank semantics leave that pair
    unmerged — so must the encoder.
    """
    segs: list[list[str]] = [list(w) for w in words]
    occ: dict[tuple[str, str], set[int]] = {}
    for wi, syms in enumerate(segs):
        for p in zip(syms, syms[1:]):
            occ.setdefault(p, set()).add(wi)
    for _, l, r, _, _ in merges:
        affected = occ.get((l, r))
        if not affected:
            continue
        for wi in affected.copy():
            syms = segs[wi]
            merged = _merge_pass(syms, l, r)
            segs[wi] = merged
            old_set = set(zip(syms, syms[1:]))
            new_set = set(zip(merged, merged[1:]))
            for p in old_set - new_set:
                s = occ.get(p)
                if s is not None:
                    s.discard(wi)
            for p in new_set - old_set:
                occ.setdefault(p, set()).add(wi)
    return segs


def _collect_word_histogram(
    vocab: DataFrame, vocab_cap: int
) -> tuple[dict[str, int], int]:
    """Collect the (word, f) histogram for the driver-side merge loop;
    returns it with the full vocab row count (the call's one count).

    The histogram is the Heaps-compressed coreset of the corpus — the
    same R1-compress / R2-driver-kernel shape as MRFFT (reference
    HWK_2/G029HW2.py:81-107, per-partition FFT → driver FFT on the
    L·K coreset): the corpus-scale shuffle (word count) stays
    distributed, the inherently-sequential merge loop runs where
    per-round latency is nanoseconds, not a Spark job. ``vocab_cap``
    bounds the driver working set at open-web scale (top-cap words by
    frequency, ties word ASC — the standard rare-word prune every
    production tokenizer trainer applies); capping changes counts only
    in the pruned tail and is logged loudly.
    """
    n_vocab = vocab.count()
    if n_vocab > vocab_cap:
        _LOG.warning(
            "bpe: word histogram has %d rows > vocab_cap=%d; "
            "training on the top-%d by frequency (standard "
            "rare-word prune — pair counts lose only the tail)",
            n_vocab,
            vocab_cap,
            vocab_cap,
        )
        vocab = vocab.orderBy(F.desc("f"), "word").limit(vocab_cap)
    hist = {r["word"]: r["f"] for r in vocab.select("word", "f").collect()}
    return hist, n_vocab


def _word_tokens_mapinpandas(
    vocab: DataFrame, merges: list[tuple[int, str, str, str, int]]
) -> DataFrame:
    """(word, w_chars, w_tokens) over the vocab via the Arrow-batched
    ``bpe_apply_batch`` kernel with the merge table broadcast (constant
    plan depth at any k; the merge table is rank-ordered driver
    metadata, k rows, broadcast once per executor)."""
    import pandas as pd

    spark = vocab.sparkSession
    ensure_package_on_executors(spark)  # the kernel calls bpe_apply_batch
    bc = spark.sparkContext.broadcast(merges)

    def encode(batches):
        mt = bc.value
        for pdf in batches:
            if len(pdf) == 0:
                continue
            words = pdf["word"].tolist()
            segs = bpe_apply_batch(words, mt)
            yield pd.DataFrame(
                {
                    "word": words,
                    "w_chars": [len(w) for w in words],
                    "w_tokens": [len(s) for s in segs],
                }
            )

    return vocab.select("word").mapInPandas(
        encode, schema="word string, w_chars int, w_tokens int"
    )
