#!/usr/bin/env python3
"""Self-scaled stress run: measure how EVERY registry query actually scales.

Every "survives 100x" claim in the docstrings is a plan-shape argument;
this script converts it into data (round-6 VERDICT #1, extended to the
full registry per round-6 item 2). It union-replicates the sf0.1
fixtures N times with shifted ids and decorrelated content, times every
registered query at 1x and Nx (warm pass then timed pass, noop sink —
the bench.py methodology; construction time is included, so eager
queries like mrfft_radius are measured honestly), and records the
wall-time ratio and scaling exponent log(tN/t1)/log(N) into
SCALE_STRESS.json at the repo root.

Replication preserves workload character instead of planting adversarial
duplicates:

* documents: doc_id shifted by a stride divisible by every registry
  filter modulus (so each replica reproduces the original eval/batch
  splits); text passed through a per-replica alphabet permutation — token
  lengths, shingle counts, and duplicate structure are preserved WITHIN
  a replica, while shingles never collide ACROSS replicas (an exact N-way
  text copy would quadratically inflate every inverted-index bucket and
  measure an artifact, not scaling).
* embeddings: vec_id shifted; the vector cyclically rotated AND
  sign-flipped by a per-replica Rademacher pattern (both norm-preserving;
  rotation alone left cross-replica cosines at tau-level for structured
  vectors — measured 66× pair growth at 8×, a quadratic replication
  artifact, where the sign flips drive cross-replica dots toward zero so
  pair volume grows ~linearly like a real corpus).
* events: event_id/user_id shifted — horizontal growth (N× users at
  constant per-user density), the shape a bigger cluster actually sees
  for the interval-join/window family.
* TPC-H: fact and big-dim keys shifted consistently (custkey/orderkey/
  partkey/suppkey), foreign keys preserved; region/nation stay fixed —
  at 100 TB the facts grow, the 25-row dims don't. Lineitem-derived
  points therefore replicate at the SAME coordinates (N× density in the
  same spatial domain — the grid operators' vertical-growth regime).

Some queries read constant input BY DESIGN and are annotated as such in
the output (flat ratios there are a pushdown property, not a linearity
measurement): the exact-outlier family keeps the reference's size-guard
subset (pushed-down l_orderkey range prunes every replica), and
csv_exact_outliers reads a fixed CSV path. The stream-sketch family is
prefix-limited by contract (A10 first-n limiter; n is fixed for non-sf
workdirs), annotated likewise.

ann_lsh_pairs is measured twice: at fixture bits (expected to go
superlinear — with 2^bits buckets fixed, per-bucket occupancy grows with
n and the candidate join is quadratic per bucket) and at the documented
scale knob bits + ceil(log2(N)) (constant occupancy — the configuration
a 100 TB deployment runs). Recording both makes the knob's necessity
measurable rather than asserted.

Usage: python scripts/scale_stress.py   (env: SPARK_GRAFT_SF_DIR,
SPARK_GRAFT_CPUS, SCALE_STRESS_N, SCALE_STRESS_WORKDIR)
"""

from __future__ import annotations

import json
import math
import os
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import DataFrame, Observation, SparkSession  # noqa: E402
from pyspark.sql import functions as F  # noqa: E402

# divisible by 4, 5, 7, 8 (registry filter moduli and the point_id*8
# packing) and far above any fixture id
ID_STRIDE = 14_000_000
LOWER = "abcdefghijklmnopqrstuvwxyz"
UPPER = LOWER.upper()

LINEAR_BUDGET = 1.3  # tN <= LINEAR_BUDGET * N * t1 counts as "scales linearly"

# queries whose INPUT does not grow with the replicated dir — their flat
# ratio measures filter pushdown / a fixed contract, not linearity
CONSTANT_INPUT = {
    "exact_outliers": "reference size-guard subset: pushed-down "
    "l_orderkey range (okey < 15000) prunes every replica by design",
    "exact_outliers_topk": "same size-guard subset as exact_outliers",
    "csv_exact_outliers": "fixed CSV path, independent of sf_dir",
}
PREFIX_LIMITED = {
    "stream_true_frequent": "A10 first-n limiter: prefix n fixed by "
    "contract (non-sf workdir → sf0.01 defaults); only the pruned scan "
    "of the persisted sorted layout grows",
    "stream_reservoir_sample": "same prefix contract",
    "stream_reservoir_distributed": "same prefix contract",
    "stream_sticky_sampling": "same prefix contract",
    "stream_sticky_distributed": "same prefix contract",
}
# queries whose COMPUTE is quadratic by design below their hard gate —
# their measured superlinearity is the documented exact-path regime, and
# the deployment path above the gate is the LSH plan (measured within
# budget as ann_lsh_pairs_bits_scaled)
QUADRATIC_BY_DESIGN = {
    "embedding_similar_pairs": "gated-exact all-pairs: O(N²) BLAS flops "
    "below the 1M-row/512MB gate by design; above it the call degrades "
    "to LSH (the measured-within-budget path)",
    "embedding_dedup_clusters": "built on the gated-exact pair table at "
    "fixture scale — same O(N²) exact regime below the gate",
    "embedding_incremental_ingest": "replication grows batch AND corpus "
    "together (flops ∝ batch×corpus ∝ N²); a deployment ingest holds "
    "batch size constant — linear in the corpus",
    "concurrent_view_purchase_windows": "overlap-join OUTPUT grows with "
    "density² × span when replication raises per-day event density "
    "(user-shifted replicas share the timeline); a deployment's density "
    "is fixed per day and growth is horizontal (more days → linear)",
}
# queries whose 1×→N× window provably crosses a planner strategy
# boundary: each regime is near-linear, the transition is Spark picking
# the right join for the size (verified by explain() at both points)
PLAN_TRANSITION = {
    "orders_with_heavy_items": "BroadcastHashJoin at 1× → SortMergeJoin "
    "at 8× (heavy-lineitem build side outgrew the broadcast threshold; "
    "probed via executedPlan at both dirs) — each regime is ~linear, "
    "the window catches the correct-plan transition",
}


def _mix64(x: int) -> int:
    """splitmix64 finalizer — full-avalanche 64-bit mix (public domain,
    Steele et al. / xorshift family). The replication transforms need
    REAL hash quality: the first cut used bit 7 of a linear mix for the
    Rademacher signs, and replicas 14 apart agreed in ~63/64 positions
    (55·14 ≡ 2 mod 256) — invisible at 8 replicas, a cross-replica
    near-dup factory at 64 (measured: 692k pairs where ~55k are real)."""
    x &= 0xFFFFFFFFFFFFFFFF
    x ^= x >> 30
    x = (x * 0xBF58476D1CE4E5B9) & 0xFFFFFFFFFFFFFFFF
    x ^= x >> 27
    x = (x * 0x94D049BB133111EB) & 0xFFFFFFFFFFFFFFFF
    x ^= x >> 31
    return x


def _permute(s: str, r: int) -> str:
    """Per-replica alphabet PERMUTATION (seeded Fisher–Yates over _mix64).

    A caesar rotation repeats every 26 replicas, so at 64 replicas r and
    r+26 produced byte-identical text — exact cross-replica duplicates
    (measured: dedup_incremental emitted 14583 pairs at 64× where linear
    replication predicts 89·64 = 5696). Distinct random permutations per
    replica share no structure and cannot collide in 64 draws (64²/26!).
    Replica 0 stays the identity so the 1× dir is the original corpus.
    """
    if r == 0:
        return s
    chars = list(s)
    for i in range(len(chars) - 1, 0, -1):
        j = _mix64(r * 0x9E3779B97F4A7C15 + i) % (i + 1)
        chars[i], chars[j] = chars[j], chars[i]
    return "".join(chars)


DIGITS = "0123456789"


def _replica_codes(n: int, length: int = 4, min_dist: int = 3) -> list[str]:
    """``n`` deterministic lowercase codes with pairwise Hamming
    distance ≥ ``min_dist`` (greedy accept over a _mix64 stream). Used
    as per-replica name suffixes: two replicas' names then differ in ≥3
    positions no matter what their digit bodies do, so NO cross-replica
    pair can verify at ed ≤ 2."""
    codes: list[str] = []
    i = 0
    while len(codes) < n:
        cand = "".join(
            LOWER[_mix64((i << 8) | p) % 26] for p in range(length)
        )
        i += 1
        if all(
            sum(a != b for a, b in zip(cand, c)) >= min_dist for c in codes
        ):
            codes.append(cand)
    return codes


def decorrelate_customer_names(cust: DataFrame, max_replicas: int = 64) -> DataFrame:
    """Per-replica name decorrelation (replica = c_custkey div
    ID_STRIDE) — the documents tables' permuted-alphabet treatment
    applied to customer names (r11 VERDICT item 3): a per-replica DIGIT
    permutation (replica 0 = identity) plus a per-replica 4-letter
    suffix from a pairwise-Hamming-≥3 code set. Within a replica every
    pairwise edit distance is preserved EXACTLY (an injective character
    map moves no Levenshtein cost; a constant suffix shared by all of a
    replica's names adds none), so the per-replica match structure —
    the engine's real work — is the original's; ACROSS replicas the
    suffix alone guarantees distance ≥ 3 > 2, so verified match volume
    is exactly linear in replicas, and the digit permutation scatters
    the key space so cross-replica deletion-key candidates stay
    second-order. (Digit permutation alone is NOT enough: TPC-H names
    are mostly leading zeros, so any two replicas agreeing on σ(0) —
    pigeonhole-forced at 64 replicas over 10 digits — still matched in
    the 2-3 significant tail digits; measured as a 2× probe whose
    histogram did not double.) A plan-time 64-branch CASE over constant
    translate()+concat() — pure codegen, no UDF, no join."""
    codes = _replica_codes(max_replicas)
    rep = F.expr(f"c_custkey div {ID_STRIDE}").cast("int")
    name = None
    for r in range(max_replicas):
        t = F.concat(
            F.translate(F.col("c_name"), DIGITS, _permute(DIGITS, r)),
            F.lit("-" + codes[r]),
        )
        name = F.when(rep == r, t) if name is None else name.when(rep == r, t)
    return cust.withColumn("c_name", name.otherwise(F.col("c_name")))


def _shift(df: DataFrame, cols: set[str], r: int) -> DataFrame:
    """Shift the named key columns by r*ID_STRIDE, keep the rest."""
    exprs = []
    for f_ in df.schema.fields:
        if f_.name in cols:
            exprs.append(
                (F.col(f_.name) + r * ID_STRIDE).cast(f_.dataType).alias(f_.name)
            )
        else:
            exprs.append(F.col(f_.name))
    return df.select(*exprs)


def build_scaled_dir(
    spark: SparkSession, src_dir: str, out_dir: str, n_replicas: int
) -> None:
    """Write ALL fixture tables replicated ``n_replicas`` times (replica 0
    is the identity transform, so n_replicas=1 re-writes the original
    through the same path — both measurement points read parquet of
    identical layout/compression). region/nation copy through unchanged.

    A marker file records (src_dir, n_replicas); when SCALE_STRESS_REUSE
    is set and the marker matches, the existing dir is reused — the 64×
    build is minutes of pure write amplification on a re-measure."""
    marker = os.path.join(out_dir, "_BUILT.json")
    # transform_version invalidates reuse when the replication transform
    # itself changes (v2: permutation text + splitmix64 signs)
    spec = {
        "src_dir": os.path.abspath(src_dir),
        "n_replicas": n_replicas,
        "transform_version": 2,
    }
    if os.environ.get("SCALE_STRESS_REUSE") and os.path.isfile(marker):
        try:
            with open(marker) as f:
                if json.load(f) == spec:
                    return
        except (OSError, ValueError):
            pass
    if os.path.isdir(out_dir):
        shutil.rmtree(out_dir)
    os.makedirs(out_dir)

    for tiny in ("region", "nation"):
        spark.read.parquet(f"{src_dir}/{tiny}.parquet").write.parquet(
            f"{out_dir}/{tiny}.parquet"
        )

    docs = spark.read.parquet(f"{src_dir}/documents.parquet")
    embs = spark.read.parquet(f"{src_dir}/embeddings.parquet")
    shifted_tables: dict[str, tuple[DataFrame, dict[str, int]]] = {
        "customer": (spark.read.parquet(f"{src_dir}/customer.parquet"), {"c_custkey"}),
        "supplier": (spark.read.parquet(f"{src_dir}/supplier.parquet"), {"s_suppkey"}),
        "part": (spark.read.parquet(f"{src_dir}/part.parquet"), {"p_partkey"}),
        "orders": (
            spark.read.parquet(f"{src_dir}/orders.parquet"),
            {"o_orderkey", "o_custkey"},
        ),
        "lineitem": (
            spark.read.parquet(f"{src_dir}/lineitem.parquet"),
            {"l_orderkey", "l_partkey", "l_suppkey"},
        ),
        "events": (
            spark.read.parquet(f"{src_dir}/events.parquet"),
            {"event_id", "user_id"},
        ),
    }

    doc_parts, emb_parts = [], []
    table_parts: dict[str, list[DataFrame]] = {t: [] for t in shifted_tables}
    for r in range(n_replicas):
        doc_parts.append(
            docs.select(
                (F.col("doc_id") + r * ID_STRIDE).alias("doc_id"),
                F.translate(
                    F.col("text"), LOWER + UPPER, _permute(LOWER, r) + _permute(UPPER, r)
                ).alias("text"),
                "lang",
                "source",
                "n_chars",
            )
        )
        rot = r % 64
        emb = F.col("embedding")
        if rot:
            emb = F.concat(
                F.slice("embedding", rot + 1, 64 - rot), F.slice("embedding", 1, rot)
            )
        if r:
            # deterministic per-replica Rademacher signs via the full
            # splitmix64 avalanche — iid-quality bits, so the expected
            # cross-replica sign agreement is 32/64 for EVERY pair of
            # replicas, not just the ones the old linear mix got right
            signs = [
                1.0 if _mix64((r << 16) | k) & 1 else -1.0 for k in range(64)
            ]
            emb = F.zip_with(
                emb,
                F.array(*[F.lit(s) for s in signs]),
                lambda x, s: (x * s).cast("float"),
            )
        emb_parts.append(
            embs.select(
                (F.col("vec_id") + r * ID_STRIDE).alias("vec_id"),
                emb.alias("embedding"),
                "label",
            )
        )
        for t, (df, keys) in shifted_tables.items():
            table_parts[t].append(_shift(df, keys, r))

    def union_all(parts: list[DataFrame]) -> DataFrame:
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        return out

    union_all(doc_parts).write.parquet(f"{out_dir}/documents.parquet")
    union_all(emb_parts).write.parquet(f"{out_dir}/embeddings.parquet")
    for t in shifted_tables:
        union_all(table_parts[t]).write.parquet(f"{out_dir}/{t}.parquet")
    with open(marker, "w") as f:
        json.dump(spec, f)


CANARY_QUERY = "tpch_q1"  # cheap, stable, scan-bound — a box-health probe
# drift_ratio above this marks the sweep host-drift-contaminated: the
# symmetric (cleared↔cleared, min-of-3) canary pair on an idle healthy
# box repeats within the bench variance band (~±15%); 1.5 leaves room
# for JVM code-cache/GC aging across a long sweep while still catching
# the >2× thermal/co-tenant degradations observed in practice.
CANARY_DRIFT_MAX = 1.5

# The five most expensive registry queries (round-7 bench tail) — the
# second-decade sweep re-measures exactly these at a deeper N so a knee
# hiding between 8× and 64× becomes visible (two-point exponents can't
# distinguish n·log n from n, or a constant term from a slope).
HEAVY_QUERIES = [
    "decontamination_check",
    "bloom_pruned_revenue",
    "dedup_incremental_ingest",
    "ann_lsh_pairs_bits_scaled",
    "ann_lsh_pairs_bits_scaled_tau07",
    "hw2_pipeline",
    # pair-producing LLM-pipeline op added in round 8 — the heaviest op
    # not yet re-measured at 64× (round-8 VERDICT missing #3)
    "tfidf_doc_similarity",
    # exact prefix-filter similarity join (round 9): pair-producing like
    # tfidf, and its df-ascending prefix is the fan-out claim to test —
    # at 64× the hot-shingle posting lists are 64× longer, but prefixes
    # should keep probing only the rare end
    "dedup_prefix_filter",
    # ExactSubstr shared spans (round 9): pair-producing via the gram
    # self-join; the posting-count cut is the fan-out bound to test —
    # per-replica alphabet permutations keep match volume ∝ replicas,
    # so the engine-scaling exponent is the honest signal here
    "crossdoc_shared_spans",
    # BPE train-then-encode (round 9): the heaviest new r9 op — the
    # claim under test is the Heaps collapse (per-replica alphabet
    # permutations grow the vocab ~linearly in replicas, the WORST case
    # for the word-histogram compression, while the driver-side merge
    # loop stays vocab-sized) plus the encode join's broadcast posture
    "bpe_encode_stats",
    # k-core peeling (round 10, session 3): the session's highest 8x
    # ratio (3.63 — denser graph, deeper peel); the 64x point pins
    # whether the round count ever becomes the knee
    "copurchase_kcore",
    # staged release recipe (round 10, session 3): exact-dedup md5
    # window + quality gate + 8-gram decontamination composed — the
    # claim under test is that the funnel's wall tracks its heaviest
    # single stage (the content window / contamination index join), not
    # the stage count
    "release_funnel_report",
    # reconciliation family representative (round 9): per-month split
    # checksums — the claim is one map-side-combined pass per side at
    # ANY scale (the petabyte-reconciliation shape), so the 64× wall
    # should track the scan, not the group count
    "lineitem_month_checksums",
    # linear-regime linkage twin (round 12): per-replica digit-permuted
    # customer names remove the verbatim-name 64² candidate blow-up, so
    # this entry measures the SymSpell plan's engine exponent on
    # ~linear candidate volume (the verbatim entry stays as the
    # annotated adversarial record)
    "fuzzy_link_summary_ed2_decorrelated",
    # row-level replica diff (round 10, r9 verdict item 6): ships the
    # distinct-row shuffle — the stated information lower bound for a
    # row diff — so the 64× claim under test is wall ∝ shuffled rows
    # with no superlinear knee (at scale it runs AFTER
    # partition_checksums narrows to the drifted partitions)
    "lineitem_replica_diff",
    # BM25 retrieval (round 10): the claim is that cost tracks the
    # postings/df build (linear in corpus) while the scoring side stays
    # bound to the docs matching the tiny fixed query set — per-replica
    # alphabet permutations keep the match set constant, so a
    # superlinear exponent here would indict the inverted-index build
    "bm25_doc_topk",
    # asymmetric containment (round 10): same inverted-index candidate
    # join as the Jaccard family but with DIRECTED emission — the 64×
    # point tests that the shared-shingle pair fan-out stays bounded by
    # the per-replica shingle decorrelation like ngram_jaccard's does
    "dedup_containment",
    # co-purchase PageRank (round 10): fixed-iteration loop — the claim
    # is wall ∝ edge volume with the ~6s fixed cost (walk build + 10
    # scheduled jobs) amortizing away, i.e. exponent well below 1 at 8×
    # should RISE toward the linear per-edge cost at 64×, not past it
    "part_copurchase_pagerank",
    # SymSpell ed≤1 linkage (round 10b): the heaviest new query of the
    # batch (8× exponent 0.84) — the claim under test is candidate
    # volume ∝ records (deletion-key buckets stay ~20-bounded as
    # custkeys grow), so the 64× exponent should hold near the 8× fit,
    # not knee past 1
    "fuzzy_link_summary",
    # d-D skyline (round 10b): replication multiplies all-coordinate
    # TIES (each replica repeats the same frontier), growing both the
    # local-survivor union and the single-partition global prune's
    # kept-list — the worst benign case for the O(n·s) kernel; the 64×
    # point tests that the coalesce(1) stage stays off the critical
    # path for real (tie-heavy) frontiers
    "customer_value_skyline",
    # --- round-11 additions (round-10 VERDICT item 3): the heaviest
    # r10 families that had 8× entries but no 64× point ---
    # hashed-BoW ridge classifier train+eval: the claim is one Arrow
    # pass for the Gram aggregates (≤(dim+1)² cells) + a fixed d³
    # driver solve, so wall ∝ corpus with the solve amortizing away
    "doc_classifier_eval",
    # LPA communities: fixed-iteration label joins over the persisted
    # co-purchase edge table — the claim is wall ∝ edge volume like
    # PageRank's (same walk table), with the per-round argmax-by-label
    # aggregate staying frontier-proportional
    "copurchase_communities",
    # degree-ordered triangle counting: the oriented wedge join is the
    # quadratic-risk stage — per-replica alphabet permutations keep
    # co-purchase degree distributions constant, so wedge volume should
    # scale ∝ edges and the 64× exponent should hold near the 8× fit
    "copurchase_triangle_stats",
    # greedy coverage selection (lazy greedy): one full-index gain
    # aggregate to seed the bounds, then k rounds that each shuffle only
    # the probed candidates' postings — the claim is that per-round work
    # tracks the candidates, not the corpus. The replication transform
    # is lazy greedy's adversarial case (every gain becomes a >=64-way
    # tie across replica twins, so strict dominance recomputes whole tie
    # classes) — the 64x exponent is that worst case, not the typical one
    "coverage_select_topk",
    # Unigram-LM EM training: the corpus-scale work is the word
    # histogram collapse; EM itself is Arrow passes over the DISTINCT-
    # word table, so the Heaps-law vocab compression is the claim —
    # same shape bpe_encode_stats already validates at 64×
    "unigram_lm_vocab",
    # SymSpell ed≤2 linkage: the r10 8× sweep's worst in-budget ratio
    # (0.73 of budget) — deletion-key bucket fan-out grows quadratically
    # in bucket occupancy, so the 64× point is exactly where a knee
    # would show; subset-guard conventions per the ed2 oracle notes
    "fuzzy_link_summary_ed2",
    # --- round-13 additions (round-12 VERDICT item 6): the r12
    # operators that had 8× entries but no 64× point ---
    # k-anonymity enforcement: the claim is that every stage after the
    # one corpus fold is CELL-sized (three level censuses, the |types|
    # broadcast, the regroup, the suppression semi-join), so the 64×
    # wall tracks the fold scan; the calendar×bucket×user cell table
    # grows with users, not events
    "k_anonymity_enforce",
    # RRF hybrid retrieval: 8× ratio 6.36 needs the ANN-style
    # decomposition — the lexical leg (bm25_doc_topk, postings build ∝
    # corpus, already above) and the semantic leg (dense_retrieval_topk,
    # broadcast-queries corpus scan + topk window) are SIBLING entries,
    # so the fused wall decomposes into measured parts instead of one
    # opaque number
    "rrf_hybrid_topk",
    "dense_retrieval_topk",
    # blocking-quality metrics: reduction ratio/pair completeness over
    # the deletion-key blocker — candidate volume is the quadratic
    # risk (bucket occupancy products); the fixture's verbatim names
    # make occupancy grow with replicas, so this entry documents the
    # same replication physics as fuzzy_link_summary_ed2 if it breaks
    # budget, and the engine exponent if it doesn't
    "linkage_blocking_metrics",
    # per-source percentile gate: group-parallel running-count windows
    # per source — the claim is the per-source histogram stays
    # vocab-of-scores-sized and the window shuffle ∝ corpus, no
    # single-task stage anywhere (the global gate's weakness it fixed)
    "quality_gate_by_source",
]

# Inline justifications for the second-decade entries whose exponents
# need interpretation (same discipline as the full sweep's annotations).
SECOND_DECADE_ANNOTATIONS = {
    "rrf_hybrid_topk": (
        "decomposed (r12 VERDICT item 6) via same-run sibling legs: "
        "lexical bm25_doc_topk 2.23 -> 7.41 s (ratio 3.32), semantic "
        "dense_retrieval_topk 0.79 -> 1.16 s (ratio 1.48); the fusion "
        "itself joins two 60-row tables. The 64x wall is carried by "
        "the lexical postings/scoring leg plus the shared corpus "
        "scans, not the semantic side. Measurement note: a second "
        "same-session run of the fused query read t1=10.97 s (3.8x "
        "its sibling measurement and 3.7x the sum of its legs) from "
        "cross-query 64x-memo cache pressure; the entry keeps the "
        "leg-consistent pair (t1 2.90 ~= bm25 2.23 + dense 0.79 + "
        "fusion)."
    ),
    "linkage_blocking_metrics": (
        "replication physics, not an engine knee (the "
        "fuzzy_link_summary_ed2 adjudication applies): customer names "
        "are copied VERBATIM per replica, so deletion-key bucket "
        "occupancy grows with replicas and the candidate-pair count "
        "the metric aggregates is QUADRATIC in replicas by fixture "
        "construction (64^2 = 4096x the real counting work at 64x). "
        "The 79.7x wall ratio against 4096x candidate volume is ~51x "
        "SUBLINEAR in the real work; still within the 1.3N budget "
        "even uncorrected."
    ),
    "fuzzy_link_summary_ed2": (
        "match-volume physics of the replication transform, not an "
        "engine knee: customer names are copied VERBATIM per replica "
        "(only c_custkey shifts), so every canonical name exists 64 "
        "times and every dirty record's ed<=2 neighborhood spans ALL "
        "replicas — candidate volume is QUADRATIC in replicas by "
        "construction. MEASURED via the deletion-key histogram join: "
        "9.06M candidate pairs at 1x -> 37.12B at 64x = 4096x = 64^2 "
        "exactly (TPC-H's Customer#NNNNNNNNN format is also inherently "
        "ed2-dense: 15k records yield 3.32M distinct verified pairs at "
        "1x — any two ids differing in <=2 digit positions match). The "
        "wall ratio 135 against 4096x candidate volume means the engine "
        "is ~30x SUBLINEAR in the real work; the over-budget flag "
        "indicts the fixture construction, same adjudication as the "
        "fixed-bits ANN entries. A production corpus with decorrelated "
        "per-replica names (the documents tables' permuted-alphabet "
        "treatment) keeps candidate volume linear — as the ed1 twin's "
        "in-budget 64x entry shows on the shared-name part it CAN "
        "prune (length bands + 1-deletion keys collide far less)."
    ),
    "fuzzy_link_summary_ed2_decorrelated": (
        "the linear-regime twin of fuzzy_link_summary_ed2: identical "
        "subset and SymSpell depth-2 plan, but customer names pass "
        "through a per-replica digit permutation (the documents tables' "
        "alphabet treatment), so canonical names are unique per replica "
        "and candidate volume stays ~linear in replicas — this entry is "
        "the engine exponent; the verbatim-name entry above remains the "
        "annotated quadratic-by-construction adversarial record."
    ),
    "ann_lsh_pairs_bits_scaled": (
        "output-volume regime, not an engine knee: in 64-dim space "
        "P(cos≥0.4) ≈ 5e-4 for UNRELATED vectors (measured on the fixture "
        "corpus with ideal iid sign decorrelation), so at 512k vectors ANY "
        "corpus has ~n²·5e-4 pairs above tau=0.4 and the operator's OUTPUT "
        "is inherently superlinear — 810× the rows for 64× the input here. "
        "Wall is SUBLINEAR in emitted volume (272× wall / 810× rows). "
        "Real deployments embed in ≥768 dims where the random tail is "
        "~1e-27 and output is the linear true-duplicate signal — measured "
        "as the tau07 twin below, which removes the 64-dim tail while "
        "keeping the identical plan."
    ),
    "ann_lsh_pairs_bits_scaled_tau07": (
        "tau=0.7 removes the 64-dim random-pair output tail (output 0 "
        "rows at both scales), so the wall is pure candidate-generation "
        "+ re-scoring. The engine-scaling quantity — candidate-join "
        "volume — is MEASURED near-linear at constant occupancy "
        "(similarity.ann_candidate_counts on the same dirs/configs: "
        "3.08M candidates at 1x -> 253.5M at 64x = 82.3x for 64x "
        "input, exponent 1.06; ~1540 -> ~1980 candidates/vector). The "
        "wall ratio ~195 therefore decomposes as 82x candidate volume "
        "x ~2.4x wall-per-candidate — the latter is dedup/re-score "
        "spill pressure of 253M pairs on ONE 32-thread box, not a plan "
        "knee; at 1000 executors that is ~250k candidates/executor. "
        "NOTE: round-8's committed exponent 0.898 for this entry was "
        "an artifact of a 4.5x-inflated t1 (cross-query cache "
        "pressure); the symmetric per-query isolation added in round 9 "
        "exposed it — the honest single-box wall is superlinear and "
        "annotated as such, with the candidate measurement isolating "
        "engine scaling from host saturation."
    ),
}

# The grid-operator family for the domain-growth regime (round-7 VERDICT
# item 4): N× cells at constant density, vs the main sweep's N× density
# in a fixed domain.
GRID_QUERIES = [
    "mr_approx_cell_stats",
    "mr_approx_outliers_summary",
    "mr_approx_smallest_cells",
    "exact_outliers",
    "exact_outliers_topk",
    "hw2_pipeline",
]
# x-shift per replica: the point cloud spans x ∈ ~[1, 51), so 60 units
# tile replicas into disjoint spatial bands (no cross-replica neighbors)
DOMAIN_X_SHIFT = 60.0

# Same regime for the real-CSV scan path (round-8 VERDICT item 8): the
# uber-shaped fixture spans x ∈ [40.53, 40.96) with D = 0.02, so a 1.0
# shift tiles replicas into disjoint bands (gap ≥ 0.57 ≫ D).
CSV_DOMAIN_X_SHIFT = 1.0


def build_domain_growth_dir(
    spark: SparkSession, src_dir: str, out_dir: str, n_replicas: int
) -> None:
    """lineitem-only replication with SHIFTED x coordinates: replica r's
    points land ``r*DOMAIN_X_SHIFT`` to the right (x = l_quantity +
    l_discount, so the shift rides on l_quantity — exact in doubles), so
    the grid gains N× CELLS at constant per-cell density — the
    reference's own growth regime (BASELINE.md TEST 1,
    Artificial100M_9_100.csv: fixed cluster structure, growing N).

    Unlike the main sweep, key ids are NOT shifted: the exact-outlier
    size-guard subset (l_orderkey % 101 = 0, < 15000) admits EVERY
    replica, so the exact path's input grows N× here instead of being
    pruned — both grid pipelines are measured on growing input.
    point_id collisions across replicas are harmless (tie-break only).
    """
    if os.path.isdir(out_dir):
        shutil.rmtree(out_dir)
    os.makedirs(out_dir)
    li = spark.read.parquet(f"{src_dir}/lineitem.parquet")
    parts = [
        li.withColumn(
            "l_quantity", F.col("l_quantity") + F.lit(r * DOMAIN_X_SHIFT)
        )
        for r in range(n_replicas)
    ]
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    out.write.parquet(f"{out_dir}/lineitem.parquet")
    # CSV leg: the SAME growth shape through the real schema-first CSV
    # scan (csv_exact_outliers' source), so the text-scan path gets the
    # constant-density evidence too, not just the parquet path.
    from bigdata_hwk_spark.registry import CSV_POINTS_PATH
    from bigdata_hwk_spark.sources.points_csv import POINTS_SCHEMA

    pts = spark.read.schema(POINTS_SCHEMA).csv(CSV_POINTS_PATH)
    csv_parts = [
        pts.withColumn("x", F.col("x") + F.lit(r * CSV_DOMAIN_X_SHIFT))
        for r in range(n_replicas)
    ]
    csv_out = csv_parts[0]
    for p in csv_parts[1:]:
        csv_out = csv_out.unionByName(p)
    csv_out.write.option("header", "false").csv(f"{out_dir}/points.csv")


def _merge_into_artifact(section: str, payload: dict) -> str:
    """Read-modify-write SCALE_STRESS.json: the main full-registry sweep
    stays intact; deeper sweeps land as named sections."""
    path = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "SCALE_STRESS.json",
    )
    data = {}
    if os.path.exists(path):
        with open(path) as f:
            data = json.load(f)
    data[section] = payload
    with open(path, "w") as f:
        json.dump(data, f, indent=1, sort_keys=True)
    return path


def run_pair_sweep(
    spark: SparkSession,
    names: list[str],
    dir1: str,
    dirn: str,
    n: int,
    scaled_bits: int,
) -> dict:
    """Per-query-isolated 1×/N× timing of ``names``.

    Unlike the full sweep (which warms EVERY query on both dirs up
    front), the pair sweep clears the cache and re-warms per query:
    at 64× the bulk warm-up leaves the heap full of every heavy query's
    persisted N× state, and the r8 first cut measured a 4.3× inflated
    t1 for dedup_incremental_ingest (9.16s vs the full sweep's 2.11s on
    identical data) purely from that cross-query cache pressure — which
    flatters ratios. Isolation keeps both sides of each pair honest:
    warm 1× → time 1× → warm N× → time N×, nothing else resident.
    """
    from bigdata_hwk_spark.operators.similarity import ANN_BITS

    # Per-SIDE bits for the bits-scaled ANN twin: the deployment knob
    # grows with the corpus, so constant occupancy means BASE bits at 1×
    # and base + log2(N) at N× (8000/2^4 = 512000/2^10 = 500 vectors per
    # bucket). Running both sides at the scaled bits — the r8 first cut —
    # over-partitions the 1× side (occupancy 8), making t1 artificially
    # cheap and the fitted exponent superlinear by construction (measured
    # 1.414 on a comparison whose two ends were different configs).
    b1 = _builder(spark, dir1, ANN_BITS)
    bn = _builder(spark, dirn, scaled_bits)
    if CANARY_QUERY not in names:  # warm the canary too, else its first
        b1(CANARY_QUERY).write.format("noop").mode("overwrite").save()
        # timing measures warm-up, not drift
    # BOTH canary variants at the start: the warm one shows what the box
    # does with the warm-up caches resident, the cleared one is the
    # symmetric twin of the END canary (which always runs post-clearCache)
    # — drift_ratio compares cleared↔cleared so it measures HOST drift,
    # not the sweep's own cache state (round-8 ADVICE: the asymmetric
    # pairing committed a 2.87 "drift" that was mostly methodology).
    canary_start_warm = (
        _canary_timed(spark, b1, clear_cache=False)
        if CANARY_QUERY not in names
        else None
    )
    canary_start = (
        _canary_timed(spark, b1) if CANARY_QUERY not in names else None
    )
    entries = {}
    for name in names:
        spark.catalog.clearCache()
        b1(name).write.format("noop").mode("overwrite").save()
        s1, rows1 = _timed(b1, name)
        bn(name).write.format("noop").mode("overwrite").save()
        sn, rowsn = _timed(bn, name)
        ratio = round(sn / max(s1, 1e-3), 2)
        entries[name] = {
            "t1_sec": s1,
            "tN_sec": sn,
            "ratio": ratio,
            "exponent": round(math.log(max(ratio, 1e-9)) / math.log(n), 3),
            "rows_1": rows1,
            "rows_N": rowsn,
            "within_linear_budget": ratio <= LINEAR_BUDGET * n,
        }
        print(
            f"# {name}: t1={s1:.3f}s rows={rows1} | t{n}={sn:.3f}s rows={rowsn} "
            f"ratio={ratio} exp={entries[name]['exponent']}",
            file=sys.stderr,
        )
    canary_end = _canary_timed(spark, b1) if CANARY_QUERY not in names else None
    out = {"n_replicas": n, "queries": entries}
    if canary_start is not None:
        drift = round(canary_end / max(canary_start, 1e-3), 2)
        out["canary"] = {
            "query": CANARY_QUERY,
            "runs": 3,
            "start_warm_sec": canary_start_warm,
            "start_sec": canary_start,
            "end_sec": canary_end,
            "cache_conditions": "start_sec and end_sec both post-clearCache "
            "min-of-3 (symmetric); start_warm_sec keeps warm-up caches",
            "drift_ratio": drift,
            "drift_threshold": CANARY_DRIFT_MAX,
            "host_drift_flagged": drift > CANARY_DRIFT_MAX,
        }
        if drift > CANARY_DRIFT_MAX:
            out["canary"]["annotation"] = (
                "drift_ratio exceeds threshold: the box degraded during "
                "the sweep (thermal/co-tenant) — treat per-query ratios "
                "as upper bounds and re-run before drawing conclusions"
            )
            print(
                f"# WARNING: canary drift {drift} > {CANARY_DRIFT_MAX} — "
                "sweep flagged as host-drift-contaminated",
                file=sys.stderr,
            )
    return out


def _canary_timed(spark: SparkSession, build, clear_cache: bool = True) -> float:
    """Min-of-3 canary timing, optionally after a cache clear.

    The canary certifies HOST health (thermal/co-tenant drift), so it
    must be insulated from transient JVM state the sweep itself creates:
    right after a multi-minute N× query the executor heap is full of
    persisted shingle/signature blocks and a single run can eat a GC
    pause or a cache eviction storm (measured: 0.28s → 3.24s on the same
    plan after the 64× LSH query in the r8 second-decade sweep). For the
    END canary, clearCache drops sweep-owned persisted data first — the
    canary query itself caches nothing, and nothing runs after it — and
    min-of-3 discards one-off pauses, which is the right estimator for
    "what can this box do now". The START canary must NOT clear: the
    warm-pass caches it would drop are part of the timed methodology
    (warm pass then timed pass), so it gets min-of-3 only.
    """
    if clear_cache:
        spark.catalog.clearCache()
    return min(_timed(build, CANARY_QUERY)[0] for _ in range(3))


def _builder(spark: SparkSession, sf_dir: str, scaled_bits: int):
    from bigdata_hwk_spark import registry
    from bigdata_hwk_spark.operators import similarity as SIM
    from bigdata_hwk_spark.sources.tables import fan_out

    def build(name: str) -> DataFrame:
        if name == "ann_lsh_pairs_bits_scaled":
            embs = fan_out(spark.read.parquet(f"{sf_dir}/embeddings.parquet"))
            return SIM.ann_lsh_pairs(embs, bits=scaled_bits)
        if name == "ann_lsh_pairs_bits_scaled_tau07":
            embs = fan_out(spark.read.parquet(f"{sf_dir}/embeddings.parquet"))
            return SIM.ann_lsh_pairs(embs, bits=scaled_bits, tau=0.7)
        if name == "fuzzy_link_summary_ed2_decorrelated":
            # the linear-regime twin of fuzzy_link_summary_ed2 (r11
            # VERDICT item 3): same subset, same operator, but customer
            # names decorrelated per replica so candidate volume is
            # ~N, not N² — the engine exponent without the verbatim-name
            # physics (that entry stays as the adversarial record)
            from bigdata_hwk_spark.operators import linkage as LK
            from bigdata_hwk_spark.registry import FUZZY_ED2_SUBSET_MOD

            cust = spark.read.parquet(f"{sf_dir}/customer.parquet").filter(
                F.col("c_custkey") % FUZZY_ED2_SUBSET_MOD == 0
            )
            return LK.fuzzy_link_summary(
                decorrelate_customer_names(cust), max_ed=2
            )
        if name == "csv_exact_outliers_scaled":
            # the registry query reads a FIXED fixture path; this twin
            # reads the domain-growth dir's replicated CSV through the
            # same schema-first source + ExactOutliers pipeline
            from bigdata_hwk_spark.operators import outliers as O
            from bigdata_hwk_spark.registry import CSV_D, CSV_M
            from bigdata_hwk_spark.sources.points_csv import read_points_csv

            return O.exact_outliers(
                read_points_csv(spark, f"{sf_dir}/points.csv"), CSV_D, CSV_M
            )
        return registry.QUERIES[name](spark, sf_dir)

    return build


def _timed(build, name: str) -> tuple[float, int]:
    # construction INSIDE the timing: eager queries (mrfft_radius,
    # hw2_pipeline, the stream replays, bloom's dim job) do their real
    # work before the noop write
    t0 = time.perf_counter()
    obs = Observation()
    out = build(name).observe(obs, F.count(F.lit(1)).alias("n"))
    out.write.format("noop").mode("overwrite").save()
    return round(time.perf_counter() - t0, 3), int(obs.get["n"])


def run_interleaved(
    spark: SparkSession, dir1: str, dirn: str, scaled_bits: int
) -> tuple[dict, dict, dict]:
    """Warm everything, then time each query's 1× and N× points
    BACK-TO-BACK. A per-query interleave means monotonic box drift (page
    cache loss, thermal throttling, a neighbor stealing cores — observed
    once corrupting an x8-last sweep by >10×) lands on BOTH points of a
    ratio instead of only tN. A canary query timed at the start and end
    of the sweep additionally measures any residual drift and is
    recorded in the artifact so a polluted run is detectable, not
    silently wrong."""
    from bigdata_hwk_spark import registry

    from bigdata_hwk_spark.operators.similarity import ANN_BITS

    names = list(registry.QUERIES) + ["ann_lsh_pairs_bits_scaled"]
    # SCALE_STRESS_QUERIES=a,b,c restricts the sweep — newly registered
    # queries get measured into the committed artifact without re-timing
    # the other ~90 (the merge path in main() keeps their entries).
    only = os.environ.get("SCALE_STRESS_QUERIES")
    if only:
        want = [q.strip() for q in only.split(",") if q.strip()]
        unknown = sorted(set(want) - set(names))
        if unknown:
            raise SystemExit(f"unknown SCALE_STRESS_QUERIES: {unknown}")
        names = want
    # Per-side bits for the bits-scaled twin (see run_pair_sweep): base
    # bits at 1×, base + log2(N) at N× — equal occupancy at both ends.
    b1 = _builder(spark, dir1, ANN_BITS)
    bn = _builder(spark, dirn, scaled_bits)
    for name in names:  # warm: JIT, page cache, shared persisted indexes
        b1(name).write.format("noop").mode("overwrite").save()
        bn(name).write.format("noop").mode("overwrite").save()

    canary_start, _ = _timed(b1, CANARY_QUERY)
    r1, rn = {}, {}
    for name in names:
        s1, rows1 = _timed(b1, name)
        sn, rowsn = _timed(bn, name)
        r1[name] = {"sec": s1, "rows": rows1}
        rn[name] = {"sec": sn, "rows": rowsn}
        print(
            f"# {name}: t1={s1:.3f}s rows={rows1} | tN={sn:.3f}s rows={rowsn}",
            file=sys.stderr,
        )
    canary_end, _ = _timed(b1, CANARY_QUERY)
    drift = round(canary_end / max(canary_start, 1e-3), 2)
    canary = {
        "query": CANARY_QUERY,
        "start_sec": canary_start,
        "end_sec": canary_end,
        "cache_conditions": "both warm, single-shot (symmetric)",
        "drift_ratio": drift,
        "drift_threshold": CANARY_DRIFT_MAX,
        "host_drift_flagged": drift > CANARY_DRIFT_MAX,
    }
    print(f"# canary: {canary}", file=sys.stderr)
    return r1, rn, canary


def main() -> None:
    from bigdata_hwk_spark.operators.similarity import ANN_BITS
    from bigdata_hwk_spark.session import get_spark

    mode = sys.argv[1] if len(sys.argv) > 1 else "full"
    src = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    default_n = {"heavy": "64", "domain": "8"}.get(mode, "8")
    n = int(os.environ.get("SCALE_STRESS_N", default_n))
    work = os.environ.get("SCALE_STRESS_WORKDIR", "/tmp/scale_stress")
    scaled_bits = ANN_BITS + max(1, math.ceil(math.log2(n)))

    # N× fixtures + persisted signature/shingle caches for two dirs blow
    # past the 1g default local-mode heap; this box has plenty.
    mem = os.environ.get("SCALE_STRESS_MEM", "24g")
    spark = get_spark(
        app_name="bigdata_hwk_spark-scale-stress",
        master=f"local[{cpus}]",
        shuffle_partitions=cpus,
        extra_conf={"spark.driver.memory": mem},
    )

    if mode == "heavy":
        # Second-decade sweep (round-7 VERDICT item 3): the heaviest
        # queries at 1× vs 64× — a second octave-decade past the full
        # sweep's 8×, exposing any knee the two-point fit hides.
        # SCALE_STRESS_QUERIES=a,b restricts to a subset; the subset's
        # entries merge into the committed second_decade section so a
        # newly added heavy query can be measured without re-running the
        # whole 64× sweep.
        heavy = HEAVY_QUERIES
        only = os.environ.get("SCALE_STRESS_QUERIES")
        if only:
            want = [q.strip() for q in only.split(",") if q.strip()]
            unknown = sorted(set(want) - set(HEAVY_QUERIES))
            if unknown:
                raise SystemExit(f"not in HEAVY_QUERIES: {unknown}")
            heavy = want
        dir1 = os.path.join(work, "x1")
        dirn = os.path.join(work, f"x{n}")
        build_scaled_dir(spark, src, dir1, 1)
        build_scaled_dir(spark, src, dirn, n)
        payload = run_pair_sweep(spark, heavy, dir1, dirn, n, scaled_bits)
        if only:
            artifact_path = os.path.join(
                os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                "SCALE_STRESS.json",
            )
            if os.path.exists(artifact_path):
                with open(artifact_path) as f:
                    prev_sd = json.load(f).get("second_decade", {})
                if prev_sd.get("n_replicas") == n:
                    merged = dict(prev_sd.get("queries", {}))
                    merged.update(payload["queries"])
                    payload["queries"] = merged
                    payload["subset_canary_note"] = (
                        "canary reflects the latest subset run; other "
                        "entries keep the run that produced them"
                    )
        payload["base_sf_dir"] = src
        payload["ann_bits_scaled_to"] = scaled_bits
        # Embed the full sweep's 1x->8x exponent next to each 1x->Nx fit
        # so the no-knee comparison is one field away, not a cross-file
        # join. Exponents DRIFTING TOWARD 1.0 at the larger N is the
        # expected shape (fixed costs amortize; linear is perfect
        # scaling for per-row work) — a knee would show as >1.
        artifact_path = os.path.join(
            os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
            "SCALE_STRESS.json",
        )
        if os.path.exists(artifact_path):
            with open(artifact_path) as f:
                full = json.load(f).get("queries", {})
            for q, entry in payload["queries"].items():
                base = q.removesuffix("_tau07")
                if base in full:
                    entry["octave_exponent_1x_8x"] = full[base].get("exponent")
        for q, note in SECOND_DECADE_ANNOTATIONS.items():
            if q in payload["queries"]:
                payload["queries"][q]["annotation"] = note
        payload["notes"] = (
            "Second-decade check of the five heaviest queries: exponents "
            "fitted on 1x->{n}x to compare against the full sweep's "
            "1x->8x fit (octave_exponent_1x_8x per query) — agreement "
            "means no knee between the decades. Same replication "
            "transform; per-query cache-isolated warm/time pairs (see "
            "run_pair_sweep)."
        ).replace("{n}", str(n))
        path = _merge_into_artifact("second_decade", payload)
        spark.stop()
        print(json.dumps({"mode": mode, "n": n, "written": path,
                          "queries": {q: e["exponent"] for q, e in payload["queries"].items()}}))
        return

    if mode == "domain":
        # Domain-growth regime for the grid family (round-7 VERDICT item
        # 4): N× cells at constant density via x-shifted replicas.
        dir1 = os.path.join(work, "domain_x1")
        dirn = os.path.join(work, f"domain_x{n}")
        build_domain_growth_dir(spark, src, dir1, 1)
        build_domain_growth_dir(spark, src, dirn, n)
        payload = run_pair_sweep(
            spark,
            GRID_QUERIES + ["csv_exact_outliers_scaled"],
            dir1,
            dirn,
            n,
            scaled_bits,
        )
        payload["base_sf_dir"] = src
        payload["notes"] = (
            "Grid operators in the DOMAIN-GROWTH regime: replicas are "
            "x-shifted into disjoint spatial bands (N× cells, constant "
            "per-cell density — the reference's Artificial100M growth "
            "shape), complementing the main sweep's vertical regime "
            "(identical coordinates, N× density). Ids are unshifted, so "
            "the exact-outlier size-guard subset grows N× here too "
            "instead of being pruned. csv_exact_outliers_scaled runs the "
            "SAME pipeline through the real schema-first CSV scan on a "
            "replicated copy of the uber-shaped fixture (x-shifted 1.0 "
            "per replica), so the text-scan source has its own "
            "constant-density growth evidence."
        )
        path = _merge_into_artifact("domain_growth", payload)
        spark.stop()
        print(json.dumps({"mode": mode, "n": n, "written": path,
                          "queries": {q: e["exponent"] for q, e in payload["queries"].items()}}))
        return

    dir1 = os.path.join(work, "x1")
    dirn = os.path.join(work, f"x{n}")
    build_scaled_dir(spark, src, dir1, 1)
    build_scaled_dir(spark, src, dirn, n)

    r1, rn, canary = run_interleaved(spark, dir1, dirn, scaled_bits)

    queries = {}
    worst = ("", 0.0)
    budget_breaks = []
    for name in r1:
        t1, tn = max(r1[name]["sec"], 1e-3), rn[name]["sec"]
        ratio = round(tn / t1, 2)
        entry = {
            "t1_sec": r1[name]["sec"],
            "tN_sec": tn,
            "ratio": ratio,
            "exponent": round(math.log(max(ratio, 1e-9)) / math.log(n), 3),
            "rows_1": r1[name]["rows"],
            "rows_N": rn[name]["rows"],
            "within_linear_budget": ratio <= LINEAR_BUDGET * n,
        }
        if name in CONSTANT_INPUT:
            entry["annotation"] = "constant-input: " + CONSTANT_INPUT[name]
        elif name in PREFIX_LIMITED:
            entry["annotation"] = "prefix-limited: " + PREFIX_LIMITED[name]
        elif name in QUADRATIC_BY_DESIGN:
            entry["annotation"] = (
                "quadratic-by-design: " + QUADRATIC_BY_DESIGN[name]
            )
        elif name in PLAN_TRANSITION:
            entry["annotation"] = "plan-transition: " + PLAN_TRANSITION[name]
        queries[name] = entry
        measures_scaling = (
            name != "ann_lsh_pairs"  # fixed-bits config, documented excursion
            and name not in CONSTANT_INPUT
            and name not in PREFIX_LIMITED
            and name not in QUADRATIC_BY_DESIGN
            and name not in PLAN_TRANSITION
        )
        if measures_scaling:
            if ratio > worst[1]:
                worst = (name, ratio)
            if not entry["within_linear_budget"]:
                budget_breaks.append(name)

    artifact = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "SCALE_STRESS.json",
    )
    if os.environ.get("SCALE_STRESS_QUERIES") and os.path.exists(artifact):
        # Subset run: merge the new entries into the committed sweep and
        # recompute the cross-query summary fields over the union. The
        # canary field reflects the latest (subset) run; per-entry
        # timings keep whichever run produced them.
        with open(artifact) as f:
            prev = json.load(f)
        prev["queries"].update(queries)
        prev["n_queries"] = len(prev["queries"])
        prev["canary"] = canary
        worst = ("", 0.0)
        budget_breaks = []
        for name, entry in prev["queries"].items():
            if name == "ann_lsh_pairs" or "annotation" in entry:
                continue
            if entry["ratio"] > worst[1]:
                worst = (name, entry["ratio"])
            if not entry["within_linear_budget"]:
                budget_breaks.append(name)
        prev["worst_scaled_query"] = worst[0]
        prev["worst_ratio_over_n"] = round(worst[1] / n, 2)
        prev["budget_breaks"] = budget_breaks
        with open(artifact, "w") as f:
            json.dump(prev, f, indent=1, sort_keys=True)
        spark.stop()
        print(json.dumps({
            "mode": "full-subset", "n": n, "written": artifact,
            "queries": {q: e["ratio"] for q, e in queries.items()},
        }))
        return

    out = {
        "n_replicas": n,
        "base_sf_dir": src,
        "cpus": cpus,
        "linear_budget": LINEAR_BUDGET,
        "ann_bits_scaled_to": scaled_bits,
        "n_queries": len(queries),
        "canary": canary,
        "queries": queries,
        "worst_scaled_query": worst[0],
        "worst_ratio_over_n": round(worst[1] / n, 2),
        "budget_breaks": budget_breaks,
        "notes": (
            "Full-registry sweep; timing includes DataFrame construction. "
            "ann_lsh_pairs at fixture bits is EXPECTED to break the linear "
            "budget: 2^bits buckets are fixed, so per-bucket occupancy grows "
            "with n and the candidate join is quadratic per bucket. The "
            "deployment config scales bits with log2(n) — measured here as "
            "ann_lsh_pairs_bits_scaled, which must stay within budget. "
            "worst_scaled_query and budget_breaks exclude the fixed-bits ann "
            "entry and every annotated query (constant-input, "
            "prefix-limited, quadratic-by-design below a hard gate, and "
            "verified planner-strategy transitions) — each annotation "
            "carries its measured or probed justification inline — and "
            "cover every query as it would actually be deployed. "
            "Lineitem-derived points replicate at identical coordinates "
            "(N× per-cell density, same spatial domain), so the grid "
            "operators are measured in their vertical-growth regime."
        ),
    }
    path = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "SCALE_STRESS.json",
    )
    # preserve the deeper-sweep sections a full re-run doesn't refresh
    if os.path.exists(path):
        with open(path) as f:
            prev = json.load(f)
        for section in ("second_decade", "domain_growth"):
            if section in prev:
                out[section] = prev[section]
    with open(path, "w") as f:
        json.dump(out, f, indent=1, sort_keys=True)
    spark.stop()
    print(json.dumps({"worst": worst[0], "worst_ratio_over_n": out["worst_ratio_over_n"],
                      "budget_breaks": budget_breaks, "n": n, "written": path}))


if __name__ == "__main__":
    main()
