"""Registry-wide physical-plan lint: the scale smells that must never
appear in ANY query's plan, asserted in one sweep so a future operator
can't quietly regress to a quadratic join.

* ``CartesianProduct`` — always wrong here: every pairwise operator in
  the engine is banded/bucketed/broadcast by design.
* ``BroadcastNestedLoopJoin`` — allowed only where a tiny side is
  deliberately broadcast against a non-equi predicate (the brute-force
  cosine top-k probe: Q query vectors against the corpus, the documented
  correctness baseline). Everything else must plan hash or sort-merge
  joins on equi-keys.
"""

from __future__ import annotations

import pytest

from bigdata_hwk_spark import registry

SF = "/root/testdata/sf0.001"

# name -> reason a BroadcastNestedLoopJoin is the intended plan
BNLJ_ALLOWED = {
    "knn_cosine_topk": "Q fixed query vectors broadcast against the corpus "
                       "(correctness baseline; scale path is ann_*)",
    "hard_negative_topk": "same shape as knn_cosine_topk: Q fixed anchor "
                          "vectors broadcast against the corpus (band "
                          "filter below the rank window; all-anchors "
                          "mining composes over ann_lsh_pairs instead)",
    "rrf_hybrid_topk": "the knn_cosine_topk shape (Q fixed query vectors "
                       "broadcast against the corpus) on the semantic "
                       "leg plus bm25's ONE-ROW (n, avgdl) scalar side "
                       "on the lexical leg; the fusion itself joins two "
                       "|queries|*topk tables hash-wise",
    "dense_retrieval_topk": "the rrf semantic leg standalone (r13): the "
                            "same Q fixed query vectors broadcast "
                            "against the corpus as knn_cosine_topk",
    "ks_source_length_drift": "sources x sources pair table built from "
                              "the per-source TOTALS sliver — source "
                              "catalogs are nation-like bounded "
                              "dimensions, both cross sides tiny at "
                              "any SF; the corpus itself folds once "
                              "to the persisted value histogram",
    "neyman_allocation": "two ONE-ROW scalar sides (total weight, total "
                         "base allocation) broadcast against the "
                         "|strata|-row table — the scalar-subquery "
                         "shape; both build sides are a single row by "
                         "construction",
    "windowed_counts_gapfilled": "generated hour spine × 5-row type "
                                 "dictionary — two tiny generated sides, "
                                 "no fact data in the cross join",
    "quality_gated_docs": "two ONE-ROW scalar sides (corpus count, "
                          "order-statistic threshold) broadcast against "
                          "the histogram/corpus — the scalar-subquery "
                          "shape; build side is a single row by "
                          "construction",
    "unigram_surprise_scores": "ONE-ROW corpus-total side broadcast "
                               "against the per-doc aggregate — the "
                               "same scalar-subquery shape",
    "curriculum_tiers": "two ONE-ROW scalar sides (corpus count, the "
                        "folded quantile-threshold row) broadcast "
                        "against the histogram/corpus — the same "
                        "scalar-subquery shape as quality_gated_docs",
    "copurchase_degree_mixing": "two ONE-ROW aggregate sides (six-sum "
                                "correlation row × degree-totals row) "
                                "cross-joined — the zipf_head_fit "
                                "scalar-subquery shape; both sides "
                                "single rows by construction",
    "value_drift_psi": "ONE-ROW split-day scalar side broadcast against "
                       "the event scan — the same scalar-subquery shape "
                       "as unigram_surprise_scores",
    "trigram_backoff_scores": "ONE-ROW (N, V) train-totals side broadcast "
                              "against the position table — the same "
                              "scalar-subquery shape as "
                              "unigram_surprise_scores",
    "dsir_importance_weights": "ONE-ROW (Nr, Nt) scalar side broadcast "
                               "against the per-doc aggregate — the "
                               "same scalar-subquery shape as "
                               "unigram_surprise_scores",
    "dsir_resample_counts": "the DSIR scalar side plus the gate's "
                            "ONE-ROW corpus-count/threshold sides — "
                            "the quality_gated_docs scalar-subquery "
                            "shape applied to DSIR scores",
    "zipf_head_fit": "two ONE-ROW aggregate sides (six-sum OLS row × "
                     "vocab-totals row) cross-joined — the same "
                     "scalar-subquery shape; both sides single rows "
                     "by construction",
    "heaps_law_fit": "ONE-ROW max(doc_id) side broadcast against the "
                     "token/first-appearance aggregates, then two "
                     "one-row aggregate sides cross-joined — the same "
                     "scalar-subquery shape",
    "pmi_top_bigrams": "ONE-ROW (Nt, Nb) totals side broadcast against "
                       "the support-cut bigram join — the same "
                       "scalar-subquery shape",
    "important_part_values": "ONE-ROW global-total side (Q11's scalar "
                             "subquery) broadcast against the per-part "
                             "aggregate — single row by construction",
    "bm25_doc_topk": "ONE-ROW (N, avgdl) corpus-stats side broadcast "
                     "against the query⋈posting join — the same "
                     "scalar-subquery shape as unigram_surprise_scores",
    "cms_view_purchase_joinsize": "four ONE-ROW aggregate sides (sketch "
                                  "min-fold, exact twin, two input "
                                  "counts) cross-joined into the single "
                                  "output row — every side is one row "
                                  "by construction",
    "assoc_triples_topk": "ONE-ROW basket-total side broadcast against "
                          "the triple aggregate — the same scalar-"
                          "subquery shape as assoc_rules_topk",
    "assoc_rules_topk": "ONE-ROW basket-total side broadcast against "
                        "the support-cut pair aggregate — the same "
                        "scalar-subquery shape as pmi_top_bigrams",
}


@pytest.mark.parametrize("name", sorted(registry.QUERIES))
def test_no_quadratic_join_shapes(spark, name):
    plan = (
        registry.QUERIES[name](spark, SF)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "CartesianProduct" not in plan, f"{name} plans a cartesian product"
    if name not in BNLJ_ALLOWED:
        assert "BroadcastNestedLoopJoin" not in plan, (
            f"{name} plans a nested-loop join"
        )


# Representative filtered queries: the filter must reach the parquet scan
# (PushedFilters) and the scan must not read a column the query never
# touches (ReadSchema pruning). name -> (pushed-filter fragment, a column
# that must be pruned out of the whole plan)
PUSHDOWN_EXPECTED = {
    "tpch_q1": ("LessThanOrEqual(l_shipdate", "l_partkey"),
    "conversion_funnel": ("LessThan(ts", "props"),
    "orders_with_heavy_items": ("GreaterThan(l_quantity", "l_extendedprice"),
    "customers_without_orders": ("EqualTo(o_orderstatus", "o_totalprice"),
}


@pytest.mark.parametrize("name", sorted(PUSHDOWN_EXPECTED))
def test_filters_reach_the_scan_and_columns_prune(spark, name):
    frag, pruned_col = PUSHDOWN_EXPECTED[name]
    plan = (
        registry.QUERIES[name](spark, SF)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert frag in plan, f"{name}: filter not pushed to the scan"
    assert pruned_col not in plan, f"{name}: scan reads unused column {pruned_col}"


def _package_lines_matching(pattern: str) -> list[str]:
    """``rel:lineno: line`` for every package line matching ``pattern``,
    outside ``session.py`` (home of the sanctioned helpers)."""
    import os
    import re

    pkg = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "bigdata_hwk_spark",
    )
    hits = []
    for root, _, files in os.walk(pkg):
        for fname in files:
            if not fname.endswith(".py"):
                continue
            path = os.path.join(root, fname)
            rel = os.path.relpath(path, pkg)
            if rel == "session.py":
                continue
            with open(path, encoding="utf-8") as fh:
                for lineno, line in enumerate(fh, start=1):
                    if re.search(pattern, line):
                        hits.append(f"{rel}:{lineno}: {line.strip()}")
    return hits


def test_global_windows_only_via_bounded_window():
    """Every unpartitioned ``Window.orderBy`` must route through
    ``session.bounded_window`` — the single annotated origin for
    WindowExec's move-all-data-to-one-partition warning, whose contract
    is a bounded (post-limit / histogram-sized) input. A raw global
    window anywhere else is either an unaudited scale bug or an
    unannotated bounded site; both fail here."""
    offenders = _package_lines_matching(r"\bWindow\.orderBy\(")
    assert offenders == [], (
        "raw global Window.orderBy outside session.bounded_window:\n"
        + "\n".join(offenders)
    )


def test_dataframe_memos_only_via_session_shared():
    """A module-level dict of DataFrames is a hand-rolled memo: its hit
    check cannot see ``spark.catalog.clearCache()`` (it hands out
    unpersisted handles afterwards) and its eviction rule is one more
    copy. Intermediates shared across calls go through
    ``session.shared``, whose one lifetime contract covers both."""
    offenders = _package_lines_matching(r"^\w+\s*:\s*dict\[.*\bDataFrame\b")
    assert offenders == [], (
        "module-level DataFrame memo outside session.shared:\n"
        + "\n".join(offenders)
    )


def test_file_replay_only_via_streaming_sources():
    """One micro-batch is one flat parquet file, replayed in mtime order:
    ``streaming/sources.py`` owns that contract (``file_item_stream``,
    ``drain_file_stream``). A runner that opens its own file stream or
    drains its own query re-types it, and a copy can drift (one copy
    stopped its query only on success, leaving an active query behind
    after a failing batch)."""
    import os

    home = os.path.join("streaming", "sources.py") + ":"
    offenders = [
        hit
        for hit in _package_lines_matching(
            r"\breadStream\b|processAllAvailable\(|maxFilesPerTrigger"
        )
        if not hit.startswith(home)
    ]
    assert offenders == [], (
        "file-replay stream outside streaming/sources.py:\n"
        + "\n".join(offenders)
    )


# Loops in operators/ that keep their own localCheckpoint, and why.
HAND_WRITTEN_CHECKPOINT_LOOPS = {
    "hop_distances": "max_hops is part of its output contract, not a "
    "failure, and an empty frontier ends it early",
    "mg_tree_fold": "it stops at one chunk; an 'unchanged' probe would "
    "cost one more fold round",
}


def _checkpoint_loops(pkg: str) -> dict[str, str]:
    """``{"file:line": function}`` for every ``for``/``while`` loop under
    ``pkg/operators`` whose body calls ``.localCheckpoint()``, named by
    the innermost function holding it."""
    import ast
    import os

    ops = os.path.join(pkg, "operators")
    found = {}
    for fname in sorted(os.listdir(ops)):
        if not fname.endswith(".py"):
            continue
        with open(os.path.join(ops, fname), encoding="utf-8") as fh:
            tree = ast.parse(fh.read())
        # ast.walk is breadth-first: an inner function overwrites the
        # entry its enclosing function made for the same loop
        for fn in ast.walk(tree):
            if not isinstance(fn, (ast.FunctionDef, ast.AsyncFunctionDef)):
                continue
            for loop in ast.walk(fn):
                if isinstance(loop, (ast.For, ast.While)) and any(
                    isinstance(node, ast.Call)
                    and isinstance(node.func, ast.Attribute)
                    and node.func.attr == "localCheckpoint"
                    for stmt in loop.body
                    for node in ast.walk(stmt)
                ):
                    found[f"{fname}:{loop.lineno}"] = fn.name
    return found


def test_checkpoint_loops_only_via_session_fixpoint():
    """An operator loop that checkpoints its own state picks its own
    stride, convergence probe and failure rule, and logs no rounds:
    iterate through ``session.fixpoint`` instead. The allowlisted loops
    say why they stay hand-written."""
    import os

    pkg = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "bigdata_hwk_spark",
    )
    offenders = [
        f"{where} in {fn}"
        for where, fn in _checkpoint_loops(pkg).items()
        if fn not in HAND_WRITTEN_CHECKPOINT_LOOPS
    ]
    assert offenders == [], (
        "checkpointing loop outside session.fixpoint:\n" + "\n".join(offenders)
    )


# The functions of similarity.py that may seed with sequential_fft.
FFT_SEED_SITES = {
    "_spherical_kmeans": "the one seed + spherical Lloyd kernel of IVF, "
    "IVFPQ, kmeans_fit and SemDeDup's giant-cluster split",
    "pq_train_books": "per-subspace L2 codebooks: a different metric "
    "and no normalization",
}


def test_quantizers_seed_only_via_the_shared_kernel():
    """Every quantizer in ``operators/similarity.py`` seeds through
    ``_spherical_kmeans`` (or trains PQ codebooks in ``pq_train_books``):
    a private seed + Lloyd copy drifts, as the IVF copy that kept
    zero-norm vectors did."""
    import ast
    import os

    path = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "bigdata_hwk_spark",
        "operators",
        "similarity.py",
    )
    with open(path, encoding="utf-8") as fh:
        tree = ast.parse(fh.read())
    callers = {}
    # ast.walk is breadth-first: an inner function overwrites the entry
    # its enclosing function made for the same call
    for fn in ast.walk(tree):
        if isinstance(fn, (ast.FunctionDef, ast.AsyncFunctionDef)):
            for node in ast.walk(fn):
                if isinstance(node, ast.Call) and "sequential_fft" in {
                    getattr(node.func, "id", None),
                    getattr(node.func, "attr", None),
                }:
                    callers[node.lineno] = fn.name
    assert set(callers.values()) == set(FFT_SEED_SITES), (
        "sequential_fft called outside the shared kernel:\n"
        + "\n".join(f"similarity.py:{ln} in {fn}" for ln, fn in callers.items())
    )


# The functions of frequent_items.py that may draw a sampler's random step.
SAMPLER_STEP_SITES = {
    "ReservoirSample.add_batch": "the reservoir's one per-item step",
    "StickySampling.add_batch": "the sticky sampler's one per-item step",
    "_merge_two_reservoirs": "the hypergeometric merge of two reservoirs",
}


def _sampler_steps(path: str) -> dict[int, str]:
    """``{line: qualified function}`` for every ``randrange`` call and every
    comparison whose left side calls ``.random()`` in the module at
    ``path``, named by the enclosing classes and functions."""
    import ast

    with open(path, encoding="utf-8") as fh:
        tree = ast.parse(fh.read())
    found = {}

    def visit(node, scope):
        for child in ast.iter_child_nodes(node):
            inner = scope
            if isinstance(child, (ast.ClassDef, ast.FunctionDef, ast.AsyncFunctionDef)):
                inner = scope + [child.name]
            elif (
                isinstance(child, ast.Call)
                and getattr(child.func, "attr", None) == "randrange"
            ) or (
                isinstance(child, ast.Compare)
                and any(
                    isinstance(n, ast.Call) and getattr(n.func, "attr", None) == "random"
                    for n in ast.walk(child.left)
                )
            ):
                found[child.lineno] = ".".join(scope)
            visit(child, inner)

    visit(tree, [])
    return found


def test_sampler_steps_only_in_the_sampler_classes():
    """Each HW3 sampler's per-item step lives once, in its class: the
    driver sketch, the ``mapInPandas`` batch twin and the cogrouped stream
    twin all feed ``ReservoirSample`` / ``StickySampling``. A private copy
    of the step in a twin can drift from the sketch it must equal bit for
    bit. An allowlisted site that no longer draws fails too."""
    import os

    path = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "bigdata_hwk_spark",
        "streaming",
        "frequent_items.py",
    )
    found = _sampler_steps(path)
    offenders = [
        f"frequent_items.py:{ln} in {fn}"
        for ln, fn in sorted(found.items())
        if fn not in SAMPLER_STEP_SITES
    ]
    assert offenders == [], (
        "sampler step outside the sampler classes:\n" + "\n".join(offenders)
    )
    assert set(found.values()) == set(SAMPLER_STEP_SITES)


# Functions that compare two aliases of one frame ("a.<c>" against
# "b.<c>") to build pairs outside operators/pairs.py, and why.
PAIR_BUILDERS_OUTSIDE_THE_KERNEL = {
    "prefix_filter_pairs": "its length filter reads both sides' nsh",
    "simhash_pairs": "the pair carries both fingerprints",
    "image_phash_pairs": "the pair carries both dHash fingerprints",
    "crossdoc_shared_spans": "the pair carries both span positions",
    "_basket_triples": "the 3-way Apriori stage: a triple, not a pair",
    "ann_lsh_pairs": "probe and base sides differ",
    "ann_candidate_counts": "counts the join volume by definition",
}


def _aliased_pair_comparisons(pkg: str) -> dict[str, str]:
    """``{"file:line": function}`` for every ``F.col("a.<c>") < / !=
    F.col("b.<c>")`` comparison in the package, outside
    ``operators/pairs.py``, named by the innermost function holding it."""
    import ast
    import os

    def alias_col(node):
        if (
            isinstance(node, ast.Call)
            and getattr(node.func, "attr", getattr(node.func, "id", None)) == "col"
            and len(node.args) == 1
            and isinstance(node.args[0], ast.Constant)
            and isinstance(node.args[0].value, str)
        ):
            return tuple(node.args[0].value.split(".", 1))
        return None

    found = {}
    for root, _, files in os.walk(pkg):
        for fname in sorted(files):
            rel = os.path.relpath(os.path.join(root, fname), pkg)
            if not fname.endswith(".py") or rel == os.path.join(
                "operators", "pairs.py"
            ):
                continue
            with open(os.path.join(root, fname), encoding="utf-8") as fh:
                tree = ast.parse(fh.read())
            # ast.walk is breadth-first: an inner function overwrites the
            # entry its enclosing function made for the same comparison
            for fn in ast.walk(tree):
                if not isinstance(fn, (ast.FunctionDef, ast.AsyncFunctionDef)):
                    continue
                for node in ast.walk(fn):
                    if not (
                        isinstance(node, ast.Compare)
                        and len(node.ops) == 1
                        and isinstance(node.ops[0], (ast.Lt, ast.Gt, ast.NotEq))
                    ):
                        continue
                    sides = {alias_col(node.left), alias_col(node.comparators[0])}
                    cols = {s[1] for s in sides if s and len(s) == 2}
                    if {s[0] for s in sides if s} == {"a", "b"} and len(cols) == 1:
                        found[f"{rel}:{node.lineno}"] = fn.name
    return found


def test_pairs_only_via_the_kernel():
    """Pairs of items that share a key come from
    ``operators.pairs.cooccurring_pairs``, which declares its fan-out
    bound and raises past it: an aliased self-join copy picks its own
    fan-out rule (or none). The allowlisted functions say why they stay
    outside; an entry that no longer builds such pairs fails too."""
    import os

    pkg = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "bigdata_hwk_spark",
    )
    found = _aliased_pair_comparisons(pkg)
    offenders = [
        f"{where} in {fn}"
        for where, fn in found.items()
        if fn not in PAIR_BUILDERS_OUTSIDE_THE_KERNEL
    ]
    assert offenders == [], (
        "aliased self-join pair builder outside operators/pairs.py:\n"
        + "\n".join(offenders)
    )
    assert set(found.values()) == set(PAIR_BUILDERS_OUTSIDE_THE_KERNEL)
