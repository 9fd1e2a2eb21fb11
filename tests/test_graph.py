"""Co-purchase graph operators (``operators/graph.py``) and the round
driver their iterative loops share (``session.fixpoint``): PageRank,
triangles, label propagation, BFS hop distances, degree mixing, k-core,
the documented per-order basket limit (which the association-rule
operators share), and the fixpoint's loud failure,
per-round record and job counts. The two ``connected_components`` pins
stay in test_pipeline_ops.py."""

from __future__ import annotations

import logging
import random

import numpy as np
import pytest
from py4j.protocol import Py4JJavaError
from pyspark.errors import SparkRuntimeException
from pyspark.sql import functions as F

from bigdata_hwk_spark import registry
from bigdata_hwk_spark.operators import assoc as ARL
from bigdata_hwk_spark.operators import dedup as D
from bigdata_hwk_spark.operators import graph as G
from bigdata_hwk_spark.sources.tables import load_table

from .conftest import SF_CORRECT, SF_SMOKE, assert_matches_oracle, jobs_in_group


@pytest.mark.parametrize(
    "fn",
    [
        G.copurchase_edges,
        G.copurchase_triangles,
        ARL.association_rules_topk,
        ARL.frequent_triples_topk,
    ],
    ids=lambda f: f.__name__,
)
def test_basket_over_limit_raises(spark, fn):
    """The raise surfaces as Spark's ``SparkRuntimeException``, or as
    the raw JVM error when several stage materializations fail at once
    under AQE; either way it carries the documented message."""
    lineitem = spark.range(G.COPURCHASE_MAX_BASKET + 1).select(
        F.lit(1).cast("long").alias("l_orderkey"),
        F.col("id").alias("l_partkey"),
    )
    with pytest.raises(
        (SparkRuntimeException, Py4JJavaError),
        match="copurchase basket exceeds 2048 parts",
    ):
        fn(lineitem).collect()


# ------------------------------------------------------------ pagerank
def test_pagerank_matches_numpy_power_iteration(spark):
    """The distributed fixed-iteration loop equals an independent dense
    NumPy power iteration on the same edges to 1e-9, and total rank
    mass is 1 (no dangling nodes in the symmetric co-purchase graph)."""
    li = load_table(spark, SF_SMOKE, "lineitem")
    edges = G.copurchase_edges(li)
    rows = edges.collect()
    got = {r["node"]: r["rank"] for r in G.pagerank(edges).collect()}

    nodes = sorted({r["src"] for r in rows})
    idx = {n: i for i, n in enumerate(nodes)}
    n = len(nodes)
    w = np.zeros((n, n))
    for r in rows:
        w[idx[r["src"]], idx[r["dst"]]] = r["weight"]
    p = w / w.sum(axis=1, keepdims=True)
    rank = np.full(n, 1.0 / n)
    for _ in range(G.PR_ITERS):
        rank = (1 - G.PR_DAMPING) / n + G.PR_DAMPING * (p.T @ rank)

    assert set(got) == set(nodes)
    assert max(abs(got[v] - rank[idx[v]]) for v in nodes) < 1e-9
    assert abs(sum(got.values()) - 1.0) < 1e-9


def test_copurchase_edges_symmetric(spark):
    """Edge construction emits both directions with equal weight and no
    self-loops — the no-dangling-node precondition pagerank() states."""
    li = load_table(spark, SF_SMOKE, "lineitem")
    rows = G.copurchase_edges(li).collect()
    w = {(r.src, r.dst): r.weight for r in rows}
    assert all(src != dst for src, dst in w)
    assert all(w[(b, a)] == c for (a, b), c in w.items())


def test_pagerank_topk_deterministic(spark):
    """Two independent runs return the identical top-k listing (round-
    before-rank makes the ordering insensitive to partial-sum order)."""
    li = load_table(spark, SF_SMOKE, "lineitem")
    a = [tuple(r) for r in G.part_pagerank_topk(li).collect()]
    b = [tuple(r) for r in G.part_pagerank_topk(li).collect()]
    assert a == b
    assert len(a) == G.PR_TOPK
    assert [r[1] for r in a] == list(range(1, G.PR_TOPK + 1))


# ----------------------------------------------------------- triangles
def test_triangles_match_oracle_smoke(spark):
    assert_matches_oracle(
        registry.QUERIES["copurchase_triangle_stats"](spark, SF_SMOKE),
        registry.ORACLES["copurchase_triangle_stats"],
        SF_SMOKE,
    )


def test_triangles_match_oracle_gate_sf(spark):
    assert_matches_oracle(
        registry.QUERIES["copurchase_triangle_stats"](spark, SF_CORRECT),
        registry.ORACLES["copurchase_triangle_stats"],
        SF_CORRECT,
    )


def test_triangles_hand_cases(spark):
    """K4 (one 4-item order): C(4,3)=4 triangles, transitivity 1. A
    star (hub order pairs each spoke with the hub only... not
    expressible per-order) — instead: two disjoint 3-item orders give
    exactly 2 triangles; adding a 2-item bridge order adds an edge but
    no triangle and no new wedge closure."""
    k4 = spark.createDataFrame(
        [(1, p) for p in (10, 11, 12, 13)], "l_orderkey long, l_partkey long"
    )
    r = G.copurchase_triangles(k4).collect()[0]
    assert (r.n_nodes, r.n_edges, r.n_triangles) == (4, 6, 4)
    assert r.global_clustering == 1.0

    two_tris = spark.createDataFrame(
        [(1, p) for p in (10, 11, 12)]
        + [(2, p) for p in (20, 21, 22)]
        + [(3, p) for p in (12, 20)],  # bridge edge, closes nothing
        "l_orderkey long, l_partkey long",
    )
    r2 = G.copurchase_triangles(two_tris).collect()[0]
    assert r2.n_triangles == 2
    assert r2.n_edges == 7


# ------------------------------------------------ label propagation
def _planted_edges(spark, bridge_weight=1):
    """Two triangles {1,2,3} and {4,5,6} with heavy intra edges, joined by
    one light bridge 3–4; symmetric rows."""
    intra = [(1, 2), (1, 3), (2, 3), (4, 5), (4, 6), (5, 6)]
    rows = []
    for u, v in intra:
        rows += [(u, v, 3), (v, u, 3)]
    rows += [(3, 4, bridge_weight), (4, 3, bridge_weight)]
    return spark.createDataFrame(
        rows, "src bigint, dst bigint, weight bigint"
    )


def test_lpa_separates_planted_communities(spark):
    from bigdata_hwk_spark.operators.graph import label_propagation

    labels = {
        r.node: r.label
        for r in label_propagation(_planted_edges(spark), iters=4).collect()
    }
    assert len(labels) == 6
    left = {labels[n] for n in (1, 2, 3)}
    right = {labels[n] for n in (4, 5, 6)}
    assert len(left) == 1 and len(right) == 1
    assert left != right  # the light bridge must not merge the cliques
    assert left == {1} and right == {4}  # min-label tie-break


def test_lpa_partitioning_invariant(spark):
    from bigdata_hwk_spark.operators.graph import label_propagation

    e = _planted_edges(spark)
    a = sorted(map(tuple, label_propagation(e, iters=4).collect()))
    b = sorted(
        map(tuple, label_propagation(e.repartition(7), iters=4).collect())
    )
    assert a == b


def test_copurchase_communities_registry_shape(spark):
    from bigdata_hwk_spark import registry

    out = registry.QUERIES["copurchase_communities"](
        spark, SF_SMOKE
    ).collect()
    assert len(out) >= 1
    assert [r.rnk for r in out] == list(range(1, len(out) + 1))
    sizes = [r.n_members for r in out]
    assert sizes == sorted(sizes, reverse=True)


# ------------------------------------------- BFS and degree mixing
def test_bfs_hop_distances_hand_case(spark):
    from bigdata_hwk_spark.operators import graph as GR

    # chain 0 - 5 - 7 - 9 - 11 - 13 plus a disconnected pair {3, 4};
    # seeds (pk % 5 == 0): {0, 5}
    orders = [(1, 0), (1, 5), (2, 5), (2, 7), (3, 7), (3, 9),
              (4, 9), (4, 11), (5, 11), (5, 13), (6, 3), (6, 4),
              (2, 7)]  # duplicate line: must not affect distances
    li = spark.createDataFrame(orders, "l_orderkey bigint, l_partkey bigint")
    got = {
        r.part_id: r.hops
        for r in GR.copurchase_hop_distances(li, seed_mod=5, max_hops=4).collect()
    }
    assert got == {0: 0, 5: 0, 7: 1, 9: 2, 11: 3, 13: 4}
    # early exit: raising max_hops adds nothing once the frontier drains
    got10 = {
        r.part_id: r.hops
        for r in GR.copurchase_hop_distances(li, seed_mod=5, max_hops=10).collect()
    }
    assert got10 == got
    # tighter budget drops the far tail
    got2 = {
        r.part_id: r.hops
        for r in GR.copurchase_hop_distances(li, seed_mod=5, max_hops=2).collect()
    }
    assert got2 == {0: 0, 5: 0, 7: 1, 9: 2}


def test_degree_mixing_star_graph(spark):
    from bigdata_hwk_spark.operators import graph as GR

    # star K1,3: center 0 paired with leaves 1..3 (one order per edge)
    li = spark.createDataFrame(
        [(1, 0), (1, 1), (2, 0), (2, 2), (3, 0), (3, 3)],
        "l_orderkey bigint, l_partkey bigint",
    )
    r = GR.copurchase_degree_mixing(li).collect()[0]
    assert (r.n_nodes, r.n_edges, r.max_degree) == (4, 3, 3)
    assert r.mean_degree == 1.5
    assert r.assortativity == -1.0  # a star is perfectly disassortative


def test_degree_mixing_regular_graph_degenerate(spark):
    from bigdata_hwk_spark.operators import graph as GR

    # triangle: every degree 2 -> zero variance -> pinned 0.0
    li = spark.createDataFrame(
        [(1, 0), (1, 1), (2, 1), (2, 2), (3, 2), (3, 0)],
        "l_orderkey bigint, l_partkey bigint",
    )
    r = GR.copurchase_degree_mixing(li).collect()[0]
    assert (r.n_nodes, r.n_edges, r.max_degree) == (3, 3, 2)
    assert r.assortativity == 0.0


# -------------------------------------------------------------- k-core
def _cascading_peel(spark):
    """Triangle 1-2-3 with a tail 3-4-5: k=2 peels 5, then 4."""
    return spark.createDataFrame(
        [(1, 1), (1, 2), (2, 2), (2, 3), (3, 3), (3, 1),
         (4, 3), (4, 4), (5, 4), (5, 5)],
        "l_orderkey bigint, l_partkey bigint",
    )


def test_kcore_clique_and_pendant(spark):
    from bigdata_hwk_spark.operators import graph as GR

    # K4 clique (order 1 holds parts 1..4) + pendant path 4-5-6
    li = spark.createDataFrame(
        [(1, 1), (1, 2), (1, 3), (1, 4), (2, 4), (2, 5), (3, 5), (3, 6)],
        "l_orderkey bigint, l_partkey bigint",
    )
    got = {
        r.part_id: r.core_degree
        for r in GR.copurchase_kcore(li, k=3).collect()
    }
    assert got == {1: 3, 2: 3, 3: 3, 4: 3}


def test_kcore_cascading_peel(spark):
    from bigdata_hwk_spark.operators import graph as GR

    li = _cascading_peel(spark)
    got = {
        r.part_id: r.core_degree
        for r in GR.copurchase_kcore(li, k=2).collect()
    }
    assert got == {1: 2, 2: 2, 3: 2}
    # empty core when k exceeds the densest region
    assert GR.copurchase_kcore(li, k=3).count() == 0


def test_kcore_fixture_invariant(spark):
    from pyspark.sql import functions as F

    from bigdata_hwk_spark.operators import graph as GR
    from bigdata_hwk_spark.sources.tables import load_table

    li = load_table(spark, SF_SMOKE, "lineitem").filter(
        F.col("l_orderkey") % 7 == 0
    )
    k = 4
    core = GR.copurchase_kcore(li, k=k)
    rows = core.collect()
    assert len(rows) > 0
    # invariant: every member's degree WITHIN the core is >= k
    assert all(r.core_degree >= k for r in rows)
    # layout invariance
    rows_rep = GR.copurchase_kcore(li.repartition(9), k=k).collect()
    assert sorted(map(tuple, rows)) == sorted(map(tuple, rows_rep))


# ------------------------------------------------ session.fixpoint
def _permuted_chain(spark, n):
    """An ``n``-node path whose ids are shuffled, as a pair list."""
    perm = list(range(n))
    random.Random(3).shuffle(perm)
    pairs = [
        (min(perm[i], perm[i + 1]), max(perm[i], perm[i + 1]))
        for i in range(n - 1)
    ]
    return spark.createDataFrame(pairs, "doc_a long, doc_b long")


def test_kcore_raises_when_peeling_does_not_converge(spark):
    """One round cannot show a fixpoint (it needs two equal edge counts):
    a partial core is never returned as the answer."""
    edges = G.copurchase_edges(_cascading_peel(spark))
    with pytest.raises(RuntimeError, match="kcore_members"):
        G.kcore_members(edges, k=2, max_iter=1)


def test_connected_components_raises_when_stars_do_not_converge(spark):
    """Partial parent pointers are wrong labels: the star alternation
    raises instead of returning them."""
    with pytest.raises(RuntimeError, match="connected_components"):
        D.connected_components(
            _permuted_chain(spark, 40), driver_max_edges=0, max_iter=1
        )


def _rounds(caplog, name):
    """``(name, round, probe, seconds)`` of each logged fixpoint round of
    ``name``."""
    return [
        r.args
        for r in caplog.records
        if r.name == "bigdata_hwk_spark" and r.args and r.args[0] == name
    ]


def test_fixpoint_logs_every_round(spark, caplog):
    """Each round logs name, round, probe value and seconds on the engine
    logger: PageRank's fixed rounds carry no probe, and k-core's edge
    counts shrink to two equal values."""
    caplog.set_level(logging.INFO, logger="bigdata_hwk_spark")
    G.pagerank(_planted_edges(spark), iters=3).collect()
    rounds = _rounds(caplog, "pagerank")
    assert [(r[1], r[2]) for r in rounds] == [(1, None), (2, None), (3, None)]
    assert all(r[3] >= 0 for r in rounds)

    G.kcore_members(G.copurchase_edges(_cascading_peel(spark)), k=2)
    probes = [r[2] for r in _rounds(caplog, "kcore_members")]
    assert probes == [8, 6, 6]
    assert probes == sorted(probes, reverse=True)


# Jobs at sf0.001 under the test session (local[4], 8 shuffle partitions).
# PageRank and LPA keep their counts; a k-core round is one checkpoint
# plus its count probe (30 jobs with the old separate survivor checkpoint).
FIXPOINT_QUERY_MAX_JOBS = {
    "part_copurchase_pagerank": 35,
    "copurchase_communities": 21,
    "copurchase_kcore": 27,
}


@pytest.mark.parametrize("query", sorted(FIXPOINT_QUERY_MAX_JOBS))
def test_fixpoint_query_job_count(spark, query):
    _, jobs = jobs_in_group(
        spark,
        f"fixpoint-{query}",
        lambda: registry.QUERIES[query](spark, SF_SMOKE).collect(),
    )
    assert jobs <= FIXPOINT_QUERY_MAX_JOBS[query], jobs


def test_connected_components_star_rounds_job_count(spark):
    """The 800-node permuted chain through the star alternation: one
    checkpoint plus one signature probe per round."""
    pairs = _permuted_chain(spark, 800)
    _, jobs = jobs_in_group(
        spark,
        "fixpoint-cc-chain",
        lambda: D.connected_components(pairs, driver_max_edges=0).collect(),
    )
    assert jobs <= 97, jobs
