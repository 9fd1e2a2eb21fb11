"""Greedy max-coverage selection (``operators/select.py``).

Every trace is checked against one pure-Python replay, ``_mirror_trace``:
the same word-``w``-gram shingles (``split(" ")``, docs shorter than one
shingle drop out), distinct per doc, the largest uncovered gain wins and
ties go to the smaller doc_id. The lazy-greedy bookkeeping (recomputes,
probes, escalations) and the parquet-index pushdown are pinned beside it,
and so is the per-round job cost.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from bigdata_hwk_spark.operators import select as SEL
from bigdata_hwk_spark.sources.tables import load_table

from .conftest import SF_CORRECT, SF_SMOKE, jobs_in_group

# planted tie-at-threshold corpus: doc 2 wins round 1 outright, docs 3
# and 7 tie at 3 grams (3 must come first), doc 9 has one gram
TIE_TEXTS = {
    2: "z1 z2 z3 z4 z5 z6 z7 z8",
    7: "a1 a2 a3 a4 a5",
    3: "b1 b2 b3 b4 b5",
    9: "c1 c2 c3",
}


def _mirror_trace(texts: dict[int, str], k: int, w: int):
    """[(rnk, doc_id, marginal_gain, covered_total)] of exact greedy
    max coverage, replayed in Python."""
    sets = {}
    for d, t in texts.items():
        ws = t.split(" ")
        if len(ws) >= w:
            sets[d] = {" ".join(ws[i:i + w]) for i in range(len(ws) - w + 1)}
    covered: set = set()
    trace = []
    for i in range(1, k + 1):
        best = min(sets, key=lambda d: (-len(sets[d] - covered), d), default=None)
        if best is None:
            break
        g = len(sets[best] - covered)
        if g == 0:
            break
        covered |= sets.pop(best)
        trace.append((i, best, g, len(covered)))
    return trace


def _coverage_trace(df):
    return [
        (r.rnk, r.doc_id, r.marginal_gain, r.covered_total)
        for r in df.orderBy("rnk").collect()
    ]


def _docs(spark, texts):
    return spark.createDataFrame(
        list(texts.items()), "doc_id bigint, text string"
    )


def _fixture(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    texts = {int(r.doc_id): r.text for r in docs.select("doc_id", "text").collect()}
    return docs, texts


def test_greedy_coverage_python_mirror(spark):
    """The greedy max-coverage trace must equal the exact Python replay
    (same shingles, same tie-break), and be layout-invariant."""
    texts = {
        1: "a b c d e f",        # 4 3-grams
        2: "a b c d e f",        # exact dup of 1: gain 0 after 1 picked
        3: "x y z w",            # 2 fresh 3-grams
        4: "a b c q r s t",      # overlaps 1 on "a b c"
        5: "m n",                # too short for a 3-gram: never selected
    }
    docs = _docs(spark, texts)
    want = _mirror_trace(texts, k=10, w=3)
    assert want == [(1, 4, 5, 5), (2, 1, 3, 8), (3, 3, 2, 10)]
    assert _coverage_trace(SEL.greedy_coverage_select(docs, k=10, w=3)) == want
    # layout invariance
    got_rep = _coverage_trace(
        SEL.greedy_coverage_select(docs.repartition(7), k=10, w=3)
    )
    assert got_rep == want


def test_lazy_greedy_coverage_bit_identical_and_lazy(spark):
    """Lazy greedy must produce the exact greedy trace BIT-IDENTICALLY
    (strict-dominance acceptance) while recomputing far fewer gains
    than rounds×docs — the laziness evidence."""
    # 20 docs with well-separated vocabularies: doc i contributes i
    # unique 3-grams, so gains are distinct and lazy probing settles
    # each round in one top-B probe.
    texts = {
        i: " ".join(f"w{i}_{j}" for j in range(i + 2)) for i in range(1, 21)
    }
    stats: dict = {}
    got = _coverage_trace(
        SEL.greedy_coverage_select(
            _docs(spark, texts), k=8, w=3, probe_batch=2, stats=stats
        )
    )
    assert got == _mirror_trace(texts, k=8, w=3) and len(got) == 8
    # disjoint vocabularies: stale bounds are exact, so after the
    # seeding round every round recomputes at most probe_batch docs
    assert stats["rounds"] == 8
    assert stats["recomputes"] <= 2 * 8
    assert stats["escalations"] == 0


def test_lazy_greedy_tie_at_threshold_escalates_not_guesses(spark):
    """Two equal-gain docs with probe_batch=1: the first probe's best
    recomputed gain TIES the excluded stale bound — the lazy path must
    escalate (recompute both) and keep the doc_id tie-break, never
    accept on a tie."""
    stats: dict = {}
    got = _coverage_trace(
        SEL.greedy_coverage_select(
            _docs(spark, TIE_TEXTS), k=5, w=3, probe_batch=1, stats=stats
        )
    )
    assert got == _mirror_trace(TIE_TEXTS, k=5, w=3)
    # round 2: probe sees only doc 3, its gain TIES doc 7's stale bound
    # → must escalate and resolve the tie by doc_id, picking 3 before 7
    assert got[1][1] == 3 and got[2][1] == 7
    assert stats["escalations"] >= 1


def test_lazy_greedy_escalation_carries_truth(spark):
    """Escalation (b *= 2) must not re-recompute candidates already
    recomputed earlier in the same round. On the planted
    tie-at-threshold fixture the escalating round recomputes doc 3 once
    (b=1) then ONLY doc 7 at b=2 — total 4 recomputes across all
    rounds, not the 5 an un-carried escalation pays."""
    stats: dict = {}
    got = _coverage_trace(
        SEL.greedy_coverage_select(
            _docs(spark, TIE_TEXTS), k=5, w=3, probe_batch=1, stats=stats
        )
    )
    assert got == _mirror_trace(TIE_TEXTS, k=5, w=3)
    assert stats["escalations"] == 1
    # seeding round free; round 2 = {3} then {7 only}; rounds 3,4 = 1 each
    assert stats["recomputes"] == 4


def test_lazy_greedy_fixture_trace_matches_mirror(spark):
    """On the real sf0.001 and sf0.01 documents tables the registry
    row's k=10 trace must equal the Python replay."""
    for sf_dir in (SF_SMOKE, SF_CORRECT):
        docs, texts = _fixture(spark, sf_dir)
        got = _coverage_trace(SEL.greedy_coverage_select(docs, k=10, w=3))
        assert got == _mirror_trace(texts, k=10, w=3) and len(got) == 10, sf_dir


def test_lazy_greedy_pruned_index_trace_and_pushdown(spark, tmp_path):
    """index_dir mode: the doc-sorted parquet index must (a) leave the
    trace bit-identical, and (b) push the candidate doc_id IN-filter
    into the parquet scan so row-group stats can prune I/O."""
    docs, texts = _fixture(spark, SF_SMOKE)
    idx = str(tmp_path / "cov_index")
    got = _coverage_trace(
        SEL.greedy_coverage_select(docs, k=6, w=3, index_dir=idx)
    )
    assert got == _mirror_trace(texts, k=6, w=3) and len(got) == 6
    # the pruned-read shape: an IN(doc_id ...) filter must reach the scan
    plan = (
        spark.read.parquet(idx)
        .filter(F.col("doc_id").isin([1, 2, 3]))
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "PushedFilters: [In(doc_id" in plan, plan


def test_lazy_greedy_anti_join_touched_path_matches_mirror(spark, monkeypatch):
    """Force the touched-set size over the In-list threshold so every
    round after the first runs the broadcast-anti-join branch; the trace
    must stay the exact greedy trace."""
    monkeypatch.setattr(SEL, "COVERAGE_TOUCHED_INLIST_MAX", 1)
    docs, texts = _fixture(spark, SF_SMOKE)
    got = _coverage_trace(SEL.greedy_coverage_select(docs, k=5))
    assert got == _mirror_trace(texts, k=5, w=SEL.COVERAGE_SHINGLE_W)
    assert len(got) == 5


def test_rounds_cost_four_jobs(spark):
    """Each round after seeding costs at most 4 Spark jobs (the probe
    collect and the recompute's broadcast, shuffle and result); the
    covered set is a plan, never a per-round driver fetch."""
    docs = load_table(spark, SF_SMOKE, "documents")
    _, j5 = jobs_in_group(
        spark, "coverage-k5", lambda: SEL.greedy_coverage_select(docs, k=5)
    )
    _, j10 = jobs_in_group(
        spark, "coverage-k10", lambda: SEL.greedy_coverage_select(docs, k=10)
    )
    assert j10 <= 40, (j5, j10)
    assert j10 - j5 <= 20, (j5, j10)
