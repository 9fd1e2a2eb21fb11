"""Greedy submodular coverage selection (diverse-subset picking).

Extension surface (no reference counterpart): the data-SELECTION leg of
the LLM pipeline — given a budget of k documents, pick the subset whose
union of n-gram shingles covers the most corpus vocabulary. Maximum
coverage is the canonical monotone-submodular objective; the greedy
algorithm is (1 − 1/e)-optimal (Nemhauser, Wolsey & Fisher 1978 —
public) and is how "diverse subset" selection is actually run
(facility-location / coverage variants of submodular data selection).

The algorithm is Minoux's (1978) lazy greedy, batch-distributed.
Marginal gains only SHRINK as the covered set grows (submodularity), so
each document's last-known gain is a sound upper bound on its current
one. A round probes the top-B stale bounds, recomputes true gains for
those candidates only, and accepts the best iff it STRICTLY beats the
best un-recomputed bound, doubling B until it does. Strict dominance
makes the doc_id tie-break exact, so the trace is the exact greedy
trace, not merely a (1 − 1/e)-equivalent one.

Why this path and not a full gain aggregate per round: the full-index
groupBy runs once (bound seeding), and every later round shuffles only
the candidates' postings. SCALE_STRESS ``coverage_bytes_axis`` (64×
fixture, Spark task metrics, traces asserted equal) measured the
per-round work of the two shapes: a full-aggregate round is exactly
corpus-linear (2.80 GB input + 3.21 MB shuffle), while a lazy round
with ``index_dir`` reads 116.9 MB (24× less, the pushed-down
``In(doc_id)`` row-group pruning) and shuffles 14.9 KB (215× less),
under the tie-adversarial worst case.

The covered set is never held on the driver. Only the winner ids
(≤ k) are; each round the covered relation is the plan
``index[doc_id IN winners].h``, broadcast into the recompute
anti-join, so its bound is the postings of the k winners.

Determinism: gains are exact integer counts; ties break by doc_id; the
greedy trace is therefore bit-identical under any layout — pinned by an
exact Python-mirror test.
"""

from __future__ import annotations

import heapq

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..session import local_df

COVERAGE_K = 10
COVERAGE_SHINGLE_W = 3
LAZY_PROBE_BATCH = 64
# touched-set spelling gate for the lazy bounds view: up to this many
# ids the NOT-IN stays a literal In-list (cheapest to plan and execute);
# past it — large k · probe_batch runs — the list becomes a broadcast
# Arrow table + left_anti join, so the Catalyst expression tree stops
# growing with the selection budget (r13 ADVICE: an unbounded In-list
# grows per-round analysis cost and can hit plan-size limits)
COVERAGE_TOUCHED_INLIST_MAX = 1024
# range partitions for the doc-sorted parquet index (index_dir mode):
# enough files that a candidate IN-filter skips most of them via
# row-group doc_id stats, few enough that the build's range shuffle
# stays one healthy stage
INDEX_RANGE_PARTITIONS = 64


def greedy_coverage_select(
    documents: DataFrame,
    k: int = COVERAGE_K,
    w: int = COVERAGE_SHINGLE_W,
    probe_batch: int = LAZY_PROBE_BATCH,
    stats: dict | None = None,
    index_dir: str | None = None,
) -> DataFrame:
    """(rnk, doc_id, marginal_gain, covered_total): the greedy
    max-coverage trace — round i picks the document adding the most
    not-yet-covered distinct word-``w``-gram hashes (ties by doc_id);
    stops early when the best marginal gain hits 0.

    Invariant: a ``bounds(doc_id, g)`` table holds each unselected
    document's LAST RECOMPUTED marginal gain. Submodularity makes every
    entry a sound upper bound on the doc's current true gain (gains
    only shrink as coverage grows). Per round:

    1. probe the top ``B+1`` stale bounds (one bounded collect —
       ``B+1`` rows of driver traffic, never the table);
    2. recompute TRUE gains for the top ``B`` candidates in one
       collect — an ``isin``-pruned scan of the index, anti-joined
       against the broadcast covered set (the winners' postings),
       aggregated over candidate postings only;
    3. accept the best recomputed (g desc, doc_id asc) iff its gain
       STRICTLY exceeds the (B+1)-th stale bound: every non-candidate's
       true gain ≤ its stale bound ≤ that threshold < g*, so the
       accepted doc is exactly what exact greedy would pick, doc_id
       tie-break included (a tie AT the threshold escalates instead of
       guessing — that's what keeps the trace bit-identical rather
       than merely (1−1/e)-equivalent). Otherwise double ``B`` and
       re-probe; at ``B ≥ |bounds|`` the threshold is −1 and the round
       degenerates to an exact-greedy round (sound fallback, hit only
       when gains are near-flat).
    4. fold the recomputed gains back into ``bounds`` (zero-gain docs
       drop — they can never win a future round) and append the winner to
       the trace, whose doc ids define the covered set.

    Scale shape: the full-index groupBy runs ONCE (bound seeding, the
    round-1 gains); every later round shuffles only candidate postings.
    With the default in-memory index the per-round SCAN remains (the
    ``isin`` prunes post-scan); pass ``index_dir`` to persist the index
    as a doc_id-RANGE-SORTED parquet artifact instead — then every
    candidate recompute (and the covered-set read) is a pushed-down
    ``doc_id IN (...)`` parquet read whose row-group min/max stats SKIP
    the non-candidate ranges, so per-round I/O is candidate-sized too
    (the production posture; SCALE_STRESS ``coverage_bytes_axis``).
    Driver traffic: (B+1) probe rows + ≤B recomputed gains per round;
    neither the bounds table nor the covered set ever collects.

    ``stats`` (optional) receives {"recomputes": int, "probes": int,
    "rounds": int, "escalations": int} — the laziness evidence the
    planted test pins.
    """
    from ..functions.hashing import md5_hash64
    from .dedup import doc_shingles

    spark = documents.sparkSession
    sh_plan = doc_shingles(documents, w=w).select(
        "doc_id", md5_hash64(F.col("sh")).alias("h")
    )
    if index_dir is not None:
        # build-once doc-pruned index: range-partitioned and sorted by
        # doc_id so every file/row-group carries tight doc_id min/max
        # stats — a candidate IN-filter then reads only candidate
        # row groups (ParquetScan PushedFilters: In(doc_id, ...)).
        (
            sh_plan.repartitionByRange(INDEX_RANGE_PARTITIONS, "doc_id")
            .sortWithinPartitions("doc_id")
            .write.mode("overwrite")
            .parquet(index_dir)
        )
        sh = spark.read.parquet(index_dir)
    else:
        sh = sh_plan.localCheckpoint()
    # round-1 bound seeding: the one full-index gain aggregate.
    # The SEEDED table (corpus-sized) stays distributed and is
    # checkpointed exactly once; every later round's mutations — drop
    # the winner/zero-gain docs, overwrite ≤B recomputed bounds — are
    # tiny by construction (each entry came off a bounded probe/
    # recompute collect), so they live on the DRIVER as a drop-set +
    # override-dict. A probe takes the top of base.filter(NOT IN
    # touched) in Spark and merges it with the overrides on the driver
    # (the top-n of a union is the top-n of the two sides' top-n), so
    # the bounds are never rebuilt and the overrides never re-shipped;
    # the touched set grows by ≤B per round, bounded by the total
    # recompute count the `stats` contract already reports.
    bounds_base = (
        sh.groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("g"))
        .localCheckpoint()
    )
    dropped: set[int] = set()
    overrides: dict[int, int] = {}

    def probe(n):
        """The top ``n`` (doc_id, bound) pairs, g desc then doc_id asc."""
        touched = list(dropped) + list(overrides)
        if not touched:
            view = bounds_base
        elif len(touched) <= COVERAGE_TOUCHED_INLIST_MAX:
            view = bounds_base.filter(~F.col("doc_id").isin(touched))
        else:
            # ship the touched ids as ONE broadcast Arrow batch and
            # anti-join: O(1) expression-tree size at any k
            t = local_df(
                spark,
                [(int(d),) for d in sorted(touched)],
                "doc_id bigint",
            )
            view = bounds_base.join(F.broadcast(t), "doc_id", "left_anti")
        top = view.orderBy(F.col("g").desc(), F.col("doc_id").asc()).limit(n)
        rows = [(int(r.doc_id), int(r.g)) for r in top.collect()]
        return heapq.nsmallest(
            n, rows + list(overrides.items()), key=lambda dg: (-dg[1], dg[0])
        )

    trace: list[tuple[int, int, int, int]] = []
    total = 0
    n_recomputes = n_probes = n_escalations = 0
    fresh_round = 1  # bounds are TRUE gains while covered is empty
    for i in range(1, k + 1):
        b = probe_batch
        # the covered set stays a plan: the winners' postings, re-read
        # from the index each round and broadcast into the recompute
        # anti-join (postings shared by two winners are harmless
        # duplicates under left-anti), so only the ≤k winner ids of the
        # trace live on the driver
        winners = [d for _, d, _, _ in trace]
        covered = sh.filter(F.col("doc_id").isin(winners)).select("h")
        # this round's recomputed TRUE gains, carried ACROSS escalations:
        # the probe ordering is deterministic, so each doubling's top-b
        # is a superset of the last — without the carry every escalation
        # re-recomputed the already-known candidates, doubling wasted
        # work precisely in the tie-heavy regime where escalations
        # happen (r11 ADVICE)
        truth: dict[int, int] = {}
        while True:
            n_probes += 1
            top = probe(b + 1)
            if not top:
                winner = None
                break
            cands = [d for d, _ in top[:b]]
            threshold = top[b][1] if len(top) > b else -1
            if fresh_round:
                # seeding round: bounds ARE true gains; top-1 is exact
                winner = top[0]
                break
            new_cands = [d for d in cands if d not in truth]
            if new_cands:
                truth_rows = (
                    sh.filter(F.col("doc_id").isin(new_cands))
                    .join(F.broadcast(covered), "h", "left_anti")
                    .groupBy("doc_id")
                    .agg(F.count(F.lit(1)).alias("g"))
                    .collect()
                )
                n_recomputes += len(new_cands)
                for r in truth_rows:
                    truth[int(r.doc_id)] = int(r.g)
                # candidates with zero uncovered postings vanish from
                # the aggregate — their true gain is 0
                for d in new_cands:
                    truth.setdefault(d, 0)
            d_star, g_star = min(
                truth.items(), key=lambda kv: (-kv[1], kv[0])
            )
            if g_star > threshold:
                winner = (d_star, g_star)
                break
            n_escalations += 1
            b *= 2
        if winner is None or winner[1] == 0:
            break
        doc, g = winner
        total += g
        trace.append((i, doc, g, total))
        # fold recomputed truths back as the new stale bounds (none in the
        # seeding round, whose bounds were already true gains). The
        # winner's own gain is now 0: it leaves the pool with every other
        # zero-gain doc, none of which can ever win
        truth[doc] = 0
        for d, g2 in truth.items():
            if g2 == 0:
                dropped.add(d)
                overrides.pop(d, None)
            else:
                overrides[d] = g2
        fresh_round = 0
    if stats is not None:
        stats.update(
            {
                "recomputes": n_recomputes,
                "probes": n_probes,
                "rounds": len(trace),
                "escalations": n_escalations,
            }
        )
    return local_df(
        spark, trace,
        "rnk int, doc_id bigint, marginal_gain bigint, covered_total bigint",
    )
