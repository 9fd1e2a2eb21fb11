"""Weighted PageRank over the part co-purchase graph.

Extension surface (no reference counterpart): alongside connected
components (``dedup.py`` — cluster MEMBERSHIP) a pipeline needs a node
IMPORTANCE measure — seed selection for crawls, popularity priors for
retrieval, influence weighting for sampling. PageRank (Brin & Page
1998, public) is the canonical one; this is the standard weighted
formulation ``r' = (1−d)/N + d · Wᵀ_norm r`` run as a fixed number of
DataFrame iterations.

Graph construction: parts are linked when they appear in the same order
(market-basket co-occurrence). Per-order fan-out is quadratic in the
order's item count, but TPC-H orders carry ≤ 7 lineitems — a bounded
constant, so edge volume is O(|lineitem|) with a small factor; the
per-order ``collect_set`` of ``operators.pairs.bounded_item_sets``
folds duplicate (orderkey, partkey) lines so they can't square into the
pair count. Co-occurrence counts become symmetric edge weights;
row-normalizing by each source's out-weight makes the walk matrix
column-stochastic over the co-purchased part set. Isolated parts
(never co-purchased) have no random-walk semantics here and are
excluded by construction — documented contract, not an accident.

Scale shape: the edge table is built once, persisted, and partitioned
by ``src``; each iteration is ONE equi-join of the (|parts|-row) rank
table against the persisted edges — AQE broadcasts the rank side when
it fits (parts ≪ edges at every SF) — plus one map-side-combined
groupBy on ``dst``. The rounds run through ``session.fixpoint``, whose
checkpoints truncate what would otherwise become a T-deep join
lineage. Driver traffic per iteration: zero (no collect; checkpoint
materializes on executors). With no dangling nodes (symmetric edges ⇒
every node has out-weight), total rank stays at 1 up to float addition
error.

Determinism: iteration count is FIXED (no float convergence test), the
emitted rank is rounded to 9 before the top-k ordering (partial-sum
order varies run to run in the last ulp; round-before-rank is the
BM25/TF-IDF device), ties break by part key.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window

from ..session import bounded_window, fixpoint, local_df
from .pairs import bounded_item_sets, cooccurring_pairs
from pyspark.sql import functions as F

PR_DAMPING = 0.85
PR_ITERS = 10

COPURCHASE_MAX_BASKET = 2048
COPURCHASE_LIMIT = (
    f"copurchase basket exceeds {COPURCHASE_MAX_BASKET} parts — the local "
    "pair explosion assumes bounded per-order fan-out"
)
PR_TOPK = 20


def copurchase_edges(lineitem: DataFrame) -> DataFrame:
    """(src, dst, weight): co-occurrence-weighted symmetric edges over
    parts sharing an order. Both directions come out of one explosion
    (src ≠ dst), so no mirroring pass, and the one aggregate leaves the
    edges clustered by (src, dst) — the key the k-core, BFS and
    degree-mixing consumers take their distinct on.

    Shape: the per-order sets of ``operators.pairs.bounded_item_sets``
    (one sorted ``collect_set`` per order, which subsumes the
    per-(order, part) DISTINCT) and a local pair explosion, streamed row
    by row, instead of a distinct → self-join chain. Sound because
    per-order fan-out is a bounded constant (TPC-H orders carry ≤ 7
    lineitems; the module docstring's edge-volume argument already leans
    on that bound).

    Limit: an order with more than ``COPURCHASE_MAX_BASKET`` (2048)
    distinct parts fails the query when it runs (Spark ``raise_error``)
    with "copurchase basket exceeds 2048 parts — the local pair
    explosion assumes bounded per-order fan-out"."""
    sets = bounded_item_sets(
        lineitem, "l_orderkey", "l_partkey", COPURCHASE_MAX_BASKET,
        COPURCHASE_LIMIT,
    )
    return (
        sets.select("xs", F.explode("xs").alias("src"))
        .select("src", F.explode("xs").alias("dst"))
        .filter(F.col("src") != F.col("dst"))
        .groupBy("src", "dst")
        .agg(F.count(F.lit(1)).cast("double").alias("weight"))
    )


def pagerank(
    edges: DataFrame,
    damping: float = PR_DAMPING,
    iters: int = PR_ITERS,
) -> DataFrame:
    """(node, rank) after ``iters`` weighted PageRank iterations, run
    through ``session.fixpoint``.

    ``edges`` must be symmetric (every node reachable as both src and
    dst) — true for ``copurchase_edges`` by construction — so there are
    no dangling nodes and no residual redistribution term.
    """
    from ..session import persist_scoped

    # Row-normalize with a WINDOW over src, not a self-referencing
    # norm join: the upstream pair generation then executes
    # exactly once inside walk's single materialization (the join form
    # re-ran it per consumer — measured as the dominant fixed cost),
    # and the window's shuffle already leaves the table hash-partitioned
    # by src — the key every iteration's join probes.
    wsrc = Window.partitionBy("src")
    walk, release_walk = persist_scoped(
        edges.select(
            "src",
            "dst",
            (F.col("weight") / F.sum("weight").over(wsrc)).alias("p"),
        )
    )
    try:
        # symmetric edges ⇒ every node occurs as src; one distinct off
        # the persisted walk
        nodes = walk.select(F.col("src").alias("node")).distinct()
        n_nodes = nodes.count()
        base = (1.0 - damping) / n_nodes
        ranks = nodes.select(
            "node", F.lit(1.0 / n_nodes).alias("rank")
        ).localCheckpoint()

        def step(ranks):
            # symmetric edges ⇒ every node also occurs as dst, so the
            # inflow aggregate already covers the full node set — no
            # node-table left join needed to re-complete it
            return (
                walk.join(ranks, walk["src"] == ranks["node"])
                .groupBy(F.col("dst").alias("node"))
                .agg(
                    (
                        F.lit(base)
                        + F.lit(damping)
                        * F.sum(F.col("p") * F.col("rank"))
                    ).alias("rank")
                )
            )

        # the last round is checkpointed, so the result never reads the
        # scoped walk cache released below
        return fixpoint("pagerank", ranks, step, max_iter=iters)
    finally:
        release_walk()


def part_pagerank_topk(
    lineitem: DataFrame,
    damping: float = PR_DAMPING,
    iters: int = PR_ITERS,
    topk: int = PR_TOPK,
) -> DataFrame:
    """Top-``topk`` parts by co-purchase PageRank: (part, rnk, rank_x_n).

    ``rank_x_n`` is the rank scaled by the node count (1.0 = the
    uniform-walk baseline), rounded to 6 — scale-free across SFs and
    stable under partial-sum reordering.
    """
    edges = copurchase_edges(lineitem)
    ranks = pagerank(edges, damping=damping, iters=iters)
    n_nodes = ranks.count()
    scored = ranks.select(
        F.col("node").alias("part"),
        F.round(F.col("rank") * F.lit(float(n_nodes)), 6).alias("rank_x_n"),
    )
    # orderBy().limit(k) plans TakeOrderedAndProject (per-partition
    # heaps, no global sort, no all-rows-to-one-partition window — the
    # A-ES sampler's shape at splits.py); the rank position is then a
    # window over the k SURVIVING rows only.
    top = scored.orderBy(
        F.col("rank_x_n").desc(), F.col("part").asc()
    ).limit(topk)
    w = bounded_window(F.col("rank_x_n").desc(), F.col("part").asc())
    return top.withColumn("rnk", F.row_number().over(w)).select(
        "part", "rnk", "rank_x_n"
    )


# ---------------------------------------------------------------------------
# Exact triangle count + global clustering coefficient
# ---------------------------------------------------------------------------

def copurchase_triangles(lineitem: DataFrame) -> DataFrame:
    """One row: (n_nodes, n_edges, n_wedges, n_triangles,
    global_clustering) over the undirected co-purchase graph.

    The MapReduce-classic degree-ordered orientation (Cohen 2009; Suri &
    Vassilvitskii's MR triangle counting — public): orient every
    undirected edge from its lower (degree, id) endpoint to the higher,
    which (a) makes each triangle {x<y<z} countable EXACTLY once — as
    the wedge at x closed by the oriented edge y→z — and (b) bounds
    every out-degree by O(√E) on any graph, so the wedge self-join's
    fan-out is capped no matter how skewed the raw degrees are (the hub
    that breaks the naive neighbor join is exactly the node the
    orientation demotes to mostly-incoming).

    Plan: the undirected pairs of ``cooccurring_pairs``, one
    degree aggregate joined back to both endpoints, the wedge self-join
    on the shared LOW endpoint, and one closure equi-join against the
    oriented edge set. All joins keyed; (degree, id) ordering is
    integer-exact struct comparison, identical row-comparison logic in
    the DuckDB oracle. ``n_wedges`` is Σ C(d,2) (open+closed paths of
    length 2) so ``global_clustering = 3·triangles / wedges`` is the
    standard transitivity ratio, rounded to 6.

    Limit: same per-order pair explosion as ``copurchase_edges``, so an
    order with more than ``COPURCHASE_MAX_BASKET`` (2048) distinct parts
    fails the query with "copurchase basket exceeds 2048 parts — the
    local pair explosion assumes bounded per-order fan-out".
    """
    pairs = cooccurring_pairs(
        lineitem, "l_orderkey", "l_partkey", COPURCHASE_MAX_BASKET,
        COPURCHASE_LIMIT,
    ).select("u", "v")
    deg = (
        pairs.select(F.col("u").alias("node"))
        .union(pairs.select(F.col("v").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("d"))
    )
    du = deg.select(F.col("node").alias("u"), F.col("d").alias("du"))
    dv = deg.select(F.col("node").alias("v"), F.col("d").alias("dv"))
    ku = F.struct(F.col("du").alias("d"), F.col("u").alias("i"))
    kv = F.struct(F.col("dv").alias("d"), F.col("v").alias("i"))
    oriented = (
        pairs.join(du, "u")
        .join(dv, "v")
        .select(
            F.when(ku < kv, F.col("u")).otherwise(F.col("v")).alias("src"),
            F.when(ku < kv, F.col("v")).otherwise(F.col("u")).alias("dst"),
            F.when(ku < kv, kv).otherwise(ku).alias("kdst"),
        )
    )
    from ..session import persist_scoped
    from pyspark.storagelevel import StorageLevel

    oriented, release = persist_scoped(oriented, StorageLevel.MEMORY_AND_DISK)
    try:
        e1 = oriented.alias("e1")
        e2 = oriented.alias("e2")
        wedges_at_low = (
            e1.join(e2, "src")
            .filter(F.col("e1.kdst") < F.col("e2.kdst"))
            .select(
                F.col("e1.dst").alias("u"), F.col("e2.dst").alias("v")
            )
        )
        closure = oriented.select("src", "dst")
        n_tri = (
            wedges_at_low.join(
                closure,
                (wedges_at_low["u"] == closure["src"])
                & (wedges_at_low["v"] == closure["dst"]),
                "inner",
            ).count()
        )
        # degree stats off the PERSISTED oriented table (each undirected
        # edge appears exactly once): recomputing `deg` from `pairs`
        # would replay the upstream pair generation a second time
        deg_p = (
            oriented.select(F.col("src").alias("node"))
            .union(oriented.select(F.col("dst").alias("node")))
            .groupBy("node")
            .agg(F.count(F.lit(1)).alias("d"))
        )
        stats = deg_p.agg(
            F.count(F.lit(1)).alias("n_nodes"),
            (F.sum(F.col("d") * (F.col("d") - 1)) / 2)
            .cast("bigint")
            .alias("n_wedges"),
            (F.sum("d") / 2).cast("bigint").alias("n_edges"),
        ).collect()[0]
        spark = lineitem.sparkSession
        clustering = (
            round(3.0 * n_tri / stats.n_wedges, 6) if stats.n_wedges else 0.0
        )
        return local_df(
            spark,
            [
                (
                    stats.n_nodes,
                    stats.n_edges,
                    stats.n_wedges,
                    n_tri,
                    clustering,
                )
            ],
            "n_nodes bigint, n_edges bigint, n_wedges bigint, "
            "n_triangles bigint, global_clustering double",
        )
    finally:
        release()


def copurchase_triangles_sql(mod: int | None = None) -> str:
    """DuckDB twin; ``mod`` mirrors the registry's orderkey-modulus
    subset guard (triangle counting is quadratic in graph DENSITY by
    physics — the guard is the exact-outlier family's size-guard
    pattern applied to density)."""
    where = f" WHERE l_orderkey % {mod} = 0" if mod else ""
    return f"""
WITH li AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk
            FROM lineitem{where}),
pairs AS (
  SELECT DISTINCT a.pk AS u, b.pk AS v
  FROM li a JOIN li b ON a.ok = b.ok AND a.pk < b.pk),
deg AS (
  SELECT node, count(*) AS d FROM (
    SELECT u AS node FROM pairs UNION ALL SELECT v FROM pairs)
  GROUP BY node),
o AS (
  SELECT CASE WHEN (du.d, p.u) < (dv.d, p.v) THEN p.u ELSE p.v END AS src,
         CASE WHEN (du.d, p.u) < (dv.d, p.v) THEN p.v ELSE p.u END AS dst,
         CASE WHEN (du.d, p.u) < (dv.d, p.v) THEN dv.d ELSE du.d END AS kd,
         CASE WHEN (du.d, p.u) < (dv.d, p.v) THEN p.v ELSE p.u END AS ki
  FROM pairs p
  JOIN deg du ON du.node = p.u
  JOIN deg dv ON dv.node = p.v),
w AS (
  SELECT e1.dst AS u, e2.dst AS v
  FROM o e1 JOIN o e2
    ON e1.src = e2.src AND (e1.kd, e1.ki) < (e2.kd, e2.ki)),
tri AS (
  SELECT count(*) AS n_triangles
  FROM w JOIN o ON o.src = w.u AND o.dst = w.v),
s AS (
  SELECT count(*) AS n_nodes,
         CAST(sum(d * (d - 1)) / 2 AS BIGINT) AS n_wedges,
         CAST(sum(d) / 2 AS BIGINT) AS n_edges
  FROM deg)
SELECT s.n_nodes, s.n_edges, s.n_wedges,
       CAST(tri.n_triangles AS BIGINT) AS n_triangles,
       round(3.0 * tri.n_triangles / s.n_wedges, 6) AS global_clustering
FROM s, tri
"""


# ---------------------------------------------------------------------------
# Label-propagation community detection
# ---------------------------------------------------------------------------

LPA_ITERS = 4
LPA_TOPK = 15


def label_propagation(edges: DataFrame, iters: int = LPA_ITERS) -> DataFrame:
    """(node, label) after ``iters`` synchronous label-propagation rounds
    (Raghavan, Albert & Kumara 2007, public): every node adopts the label
    carrying the highest incident edge WEIGHT among its neighbors, ties
    broken by the smallest label. Communities = nodes sharing a label.

    Where connected components (dedup.py) answer REACHABILITY and
    PageRank answers IMPORTANCE, LPA answers cohesion — densely
    intra-linked groups — the graph face of topic clustering.

    Determinism: weights must be INTEGER (the caller casts the
    co-occurrence counts; float partial-sum order must never reach a
    tie-break), updates are synchronous (no visit-order dependence), the
    argmax is a row_number over (weight DESC, label ASC), and the
    iteration count is fixed — so the labeling is a pure function of the
    edge set, invariant under partitioning (pinned in tests).

    Scale shape per round: ONE equi-join of the |V|-row label table
    against the edge table (AQE broadcasts the label side when it fits)
    + one map-side-combined (node, label) tally + one per-node window —
    two keyed shuffles, no driver traffic. The rounds run through
    ``session.fixpoint``.
    """
    from ..session import persist_scoped

    # persist the edge table for the loop: every round's tally joins it,
    # and each checkpoint would otherwise re-run the caller's whole
    # edge-construction pipeline
    edges, release_edges = persist_scoped(edges)
    try:
        labels = (
            edges.select(F.col("src").alias("node"))
            .distinct()
            .withColumn("label", F.col("node"))
            .localCheckpoint()
        )
        win = Window.partitionBy("src").orderBy(
            F.col("w").desc(), F.col("label").asc()
        )

        def step(labels):
            tally = (
                edges.join(labels, edges["dst"] == labels["node"])
                .groupBy("src", "label")
                .agg(F.sum("weight").alias("w"))
            )
            return (
                tally.withColumn("rn", F.row_number().over(win))
                .filter(F.col("rn") == 1)
                .select(F.col("src").alias("node"), "label")
            )

        return fixpoint("label_propagation", labels, step, max_iter=iters)
    finally:
        release_edges()


def copurchase_communities(
    lineitem: DataFrame, iters: int = LPA_ITERS, topk: int = LPA_TOPK
) -> DataFrame:
    """Top-``topk`` co-purchase communities by size: (rnk, community,
    n_members). ``community`` is the shared label (a part key — stable,
    not positional); ties in size break by label."""
    edges = copurchase_edges(lineitem).select(
        "src", "dst", F.col("weight").cast("bigint").alias("weight")
    )
    labels = label_propagation(edges, iters=iters)
    sizes = labels.groupBy(F.col("label").alias("community")).agg(
        F.count(F.lit(1)).alias("n_members")
    )
    top = sizes.orderBy(
        F.col("n_members").desc(), F.col("community").asc()
    ).limit(topk)
    w = bounded_window(F.col("n_members").desc(), F.col("community").asc())
    return top.withColumn("rnk", F.row_number().over(w)).select(
        "rnk", "community", "n_members"
    )


# ---------------------------------------------------------------------------
# Multi-source BFS hop distance
# ---------------------------------------------------------------------------

BFS_SEED_MOD = 101   # seeds: graph nodes with part key % mod == 0
BFS_MAX_HOPS = 4     # bounded frontier expansion


def assert_symmetric_sample(edges: DataFrame, sample_n: int = 64) -> None:
    """Enforce-not-assume probe of the SYMMETRIC-edge-list precondition
    (r11 ADVICE): take ``sample_n`` edges and require every swapped pair
    to exist, failing LOUDLY instead of letting a one-direction
    undirected list silently undercount degrees or miss seeds. Sound
    (never trips on a truly symmetric list) but sampled, not complete —
    it catches the systematic mistake (a whole list built one-direction),
    which is the only way real callers get this wrong. Cost: one scan of
    the edge table semi-joined against the BROADCAST swapped sample —
    the broadcast must be the small side: a left-anti with the full
    edge table on the build side would shuffle/sort every edge to check
    64 pairs (measured as most of hop_distances' +0.85s r12 wall)."""
    sample = edges.select("src", "dst").limit(sample_n).collect()
    # dedupe driver-side: a multigraph edge list may repeat pairs, and a
    # repeated sample row must not read as a missing reverse
    swapped_pairs = {(r.dst, r.src) for r in sample}
    if not swapped_pairs:
        return
    spark = edges.sparkSession
    swapped = local_df(
        spark, sorted(swapped_pairs), edges.select("src", "dst").schema
    )
    found = (
        edges.select("src", "dst")
        .join(F.broadcast(swapped), ["src", "dst"], "semi")
        .distinct()
        .collect()
    )
    if len(found) < len(swapped_pairs):
        found_set = {(r.src, r.dst) for r in found}
        missing = next(
            p for p in sorted(swapped_pairs) if p not in found_set
        )
        raise ValueError(
            f"edge list is not symmetric: ({missing[1]}, {missing[0]}) is "
            f"present but its reverse ({missing[0]}, {missing[1]}) is "
            "missing — union the swapped edges and distinct first (see "
            "copurchase_edges)"
        )


def hop_distances(
    edges: DataFrame,
    seed_mod: int = BFS_SEED_MOD,
    max_hops: int = BFS_MAX_HOPS,
    validate: bool = True,
) -> DataFrame:
    """(part_id, hops): minimum hop count from ANY seed node (part key
    ≡ 0 mod ``seed_mod``) to every node reachable within ``max_hops`` —
    multi-source BFS, the graph family's distance leg next to
    importance (PageRank), membership (components/LPA) and structure
    (triangles). The standard big-graph formulation (Pregel-style
    frontier expansion, public): level-synchronous rounds, each round
    joining the CURRENT FRONTIER — not the whole graph — against the
    edge table.

    Unreachable nodes and nodes beyond ``max_hops`` are excluded by
    construction (documented contract; emitting every node with a NULL
    distance would make the output |V| regardless of seed placement).

    Scale shape: edges are persisted once and every round is one
    frontier-keyed equi-join plus one anti-join against the settled set
    (both shuffle FRONTIER-sized tables, never the corpus); round count
    is the fixed ``max_hops`` (diameter-bounded work, the device that
    makes BFS tractable where per-pair shortest-path is not);
    ``localCheckpoint`` truncates the per-round lineage. The early-exit
    probe is a one-row ``isEmpty`` per round — bounded driver traffic.

    Determinism: purely set-algebraic (min-hop level is unique), no
    floats, no partition-order dependence.

    Precondition: ``edges`` is a SYMMETRIC edge list — both directions
    of every undirected edge present (``copurchase_edges`` emits this
    by construction). Seeds and frontier expansion read the ``src``
    column only, so a single-direction undirected list would silently
    miss seeds that occur only as ``dst`` and skip reverse traversals;
    callers with one-direction lists must union the swap + distinct
    first. Same contract as ``degree_mixing_profile``/``kcore_members``
    — ENFORCED by a sampled probe (``assert_symmetric_sample``) unless
    ``validate=False``.
    """
    from ..session import persist_once

    e = persist_once(edges.select("src", "dst"))
    if validate:
        assert_symmetric_sample(e)
    seeds = (
        e.select(F.col("src").alias("part_id"))
        .filter(F.col("part_id") % seed_mod == 0)
        .distinct()
    )
    dist = seeds.withColumn("hops", F.lit(0).cast("int")).localCheckpoint()
    frontier = dist.select("part_id")
    for h in range(1, max_hops + 1):
        nxt = (
            frontier.join(e, frontier.part_id == e.src)
            .select(F.col("dst").alias("part_id"))
            .distinct()
        )
        new = (
            nxt.join(dist.select("part_id"), "part_id", "left_anti")
            .withColumn("hops", F.lit(h).cast("int"))
            .localCheckpoint()
        )
        if new.isEmpty():
            break
        dist = dist.union(new).localCheckpoint()
        frontier = new.select("part_id")
    return dist


def copurchase_hop_distances(
    lineitem: DataFrame,
    seed_mod: int = BFS_SEED_MOD,
    max_hops: int = BFS_MAX_HOPS,
) -> DataFrame:
    """BFS hop distances over the part co-purchase graph."""
    edges = copurchase_edges(lineitem)
    return hop_distances(edges, seed_mod=seed_mod, max_hops=max_hops)


def copurchase_hop_distances_sql(
    mod: int | None = None,
    seed_mod: int = BFS_SEED_MOD,
    max_hops: int = BFS_MAX_HOPS,
) -> str:
    """Oracle: identical edge/seed construction; BFS as a recursive CTE
    whose UNION dedups (pk, hops) rows — accumulation bounded by
    |V|·max_hops, with min(hops) folding levels to the BFS distance."""
    subset = f"WHERE l_orderkey % {mod} = 0" if mod else ""
    return f"""
WITH RECURSIVE li AS (
  SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk
  FROM lineitem {subset}),
e AS (
  SELECT DISTINCT a.pk AS src, b.pk AS dst
  FROM li a JOIN li b ON a.ok = b.ok AND a.pk <> b.pk),
seeds AS (
  SELECT DISTINCT src AS pk FROM e WHERE src % {seed_mod} = 0),
bfs(pk, hops) AS (
  SELECT pk, 0 FROM seeds
  UNION
  SELECT e.dst, b.hops + 1
  FROM bfs b JOIN e ON e.src = b.pk
  WHERE b.hops < {max_hops})
SELECT pk AS part_id, CAST(min(hops) AS INT) AS hops
FROM bfs GROUP BY pk
"""


def degree_mixing_profile(edges: DataFrame) -> DataFrame:
    """One row (n_nodes, n_edges, max_degree, mean_degree, assortativity):
    degree statistics plus Newman's degree assortativity (Newman 2002,
    public) over an undirected edge set — the structural diagnostic read
    before trusting sampled-graph algorithms (hub-hub wiring changes
    PageRank/LPA convergence behavior).

    Assortativity = Pearson correlation of endpoint degrees over the
    DIRECTED edge list (both directions present, the standard
    formulation — symmetric, so Σx = Σy by construction). Exactness:
    degrees and all correlation sums are exact BIGINTs (the grouped-OLS
    device); the only floats are one sqrt of an exact integer product
    (correctly rounded) and two divisions, rounded to 6. Degenerate
    (regular graph: zero degree variance) pins assortativity to 0.0 on
    an exact integer predicate.

    Scale shape: one groupBy for degrees (|V| rows), two broadcast-or-
    shuffle equi-joins hanging endpoint degrees on the edge list, one
    six-sum fold to a single row.
    """
    e = edges.select("src", "dst")
    deg = e.groupBy("src").agg(
        F.countDistinct("dst").cast("bigint").alias("d")
    )
    du = deg.select(F.col("src"), F.col("d").alias("dx"))
    dv = deg.select(F.col("src").alias("dst"), F.col("d").alias("dy"))
    xy = e.join(du, "src").join(dv, "dst")
    s = xy.agg(
        F.count(F.lit(1)).cast("bigint").alias("m"),
        F.sum("dx").alias("sx"),
        F.sum("dy").alias("sy"),
        F.sum(F.col("dx") * F.col("dy")).alias("sxy"),
        F.sum(F.col("dx") * F.col("dx")).alias("sxx"),
        F.sum(F.col("dy") * F.col("dy")).alias("syy"),
    )
    tot = deg.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_nodes"),
        F.max("d").alias("max_degree"),
        F.sum("d").alias("sum_d"),
    )
    num = F.col("m") * F.col("sxy") - F.col("sx") * F.col("sy")
    # each variance factor fits BIGINT; their PRODUCT would overflow at
    # fixture scale already — so the denominator is sqrt(a)·sqrt(b)
    # (two correctly-rounded sqrts + one multiply, mirrored exactly)
    den_x = F.col("m") * F.col("sxx") - F.col("sx") * F.col("sx")
    den_y = F.col("m") * F.col("syy") - F.col("sy") * F.col("sy")
    return s.crossJoin(F.broadcast(tot)).select(
        "n_nodes",
        (F.col("m") / 2).cast("bigint").alias("n_edges"),
        "max_degree",
        F.round(
            F.col("sum_d").cast("double") / F.col("n_nodes"), 6
        ).alias("mean_degree"),
        F.round(
            F.when((den_x == 0) | (den_y == 0), F.lit(0.0)).otherwise(
                num.cast("double")
                / (F.sqrt(den_x.cast("double")) * F.sqrt(den_y.cast("double")))
            ),
            6,
        ).alias("assortativity"),
    )


def copurchase_degree_mixing(lineitem: DataFrame) -> DataFrame:
    """Degree-mixing profile of the part co-purchase graph."""
    return degree_mixing_profile(copurchase_edges(lineitem))


def copurchase_degree_mixing_sql(mod: int | None = None) -> str:
    """Oracle: identical edge/degree construction and six-sum fold."""
    subset = f"WHERE l_orderkey % {mod} = 0" if mod else ""
    return f"""
WITH li AS (
  SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk
  FROM lineitem {subset}),
e AS (
  SELECT DISTINCT a.pk AS src, b.pk AS dst
  FROM li a JOIN li b ON a.ok = b.ok AND a.pk <> b.pk),
deg AS (
  SELECT src, CAST(count(DISTINCT dst) AS BIGINT) AS d
  FROM e GROUP BY src),
xy AS (
  SELECT du.d AS dx, dv.d AS dy
  FROM e JOIN deg du ON du.src = e.src JOIN deg dv ON dv.src = e.dst),
s AS (
  SELECT CAST(count(*) AS BIGINT) AS m,
         CAST(sum(dx) AS BIGINT) AS sx, CAST(sum(dy) AS BIGINT) AS sy,
         CAST(sum(dx * dy) AS BIGINT) AS sxy,
         CAST(sum(dx * dx) AS BIGINT) AS sxx,
         CAST(sum(dy * dy) AS BIGINT) AS syy
  FROM xy),
tot AS (
  SELECT CAST(count(*) AS BIGINT) AS n_nodes,
         max(d) AS max_degree,
         CAST(sum(d) AS BIGINT) AS sum_d
  FROM deg)
SELECT n_nodes,
       CAST(m / 2 AS BIGINT) AS n_edges,
       max_degree,
       round(sum_d::DOUBLE / n_nodes, 6) AS mean_degree,
       round(CASE WHEN (m * sxx - sx * sx) = 0 OR (m * syy - sy * sy) = 0
                  THEN 0.0
                  ELSE (m * sxy - sx * sy)::DOUBLE
                       / (sqrt((m * sxx - sx * sx)::DOUBLE)
                          * sqrt((m * syy - sy * sy)::DOUBLE)) END,
             6) AS assortativity
FROM s, tot
"""


KCORE_K = 8
KCORE_MAX_ITER = 50


def kcore_members(
    edges: DataFrame,
    k: int = KCORE_K,
    max_iter: int = KCORE_MAX_ITER,
    validate: bool = True,
) -> DataFrame:
    """(part_id, core_degree): the k-core of the undirected graph — the
    maximal subgraph where every node keeps degree ≥ k (Seidman 1983,
    public; the standard "dense cohesive region" extractor that
    PageRank/LPA consumers use to discard the sparse periphery before
    expensive passes). ``core_degree`` is the node's degree WITHIN the
    core.

    Algorithm: synchronous peeling — drop every node whose current
    degree < k, restrict the edge list to survivors, repeat to fixpoint
    through ``session.fixpoint`` (at most ``max_iter`` rounds).
    Set-algebraic and deterministic under any layout (no tie-breaks:
    each round's drop set is a pure predicate).

    Precondition: ``edges`` is a SYMMETRIC edge list — both directions
    of every undirected edge present (``copurchase_edges`` emits this
    by construction); per-round degrees count ``src`` occurrences only,
    so a single-direction undirected list would undercount every degree
    by its reverse half. Same contract as ``hop_distances`` — ENFORCED
    by a sampled probe (``assert_symmetric_sample``) unless
    ``validate=False``.

    Scale shape: per round one map-side-combined degree aggregate and
    two survivor semi-joins keyed on the endpoints; the convergence
    probe is a one-row count of the edge list.
    """
    e = (
        edges.select("src", "dst")
        .filter(F.col("src") != F.col("dst"))
        .distinct()
        .localCheckpoint()
    )
    if validate:
        assert_symmetric_sample(e)

    def peel(e):
        deg = e.groupBy("src").agg(F.count(F.lit(1)).alias("d"))
        keep = deg.filter(F.col("d") >= k).select("src")
        return (
            e.join(keep, "src")
            .join(keep.select(F.col("src").alias("dst")), "dst")
            .select("src", "dst")
        )

    # the edge list only shrinks, so an unchanged edge count is an
    # unchanged node set: the fixpoint
    core = fixpoint(
        "kcore_members", e, peel, max_iter=max_iter, probe=DataFrame.count
    )
    return core.groupBy(F.col("src").alias("part_id")).agg(
        F.count(F.lit(1)).cast("bigint").alias("core_degree")
    )


def copurchase_kcore(lineitem: DataFrame, k: int = KCORE_K) -> DataFrame:
    """k-core membership of the part co-purchase graph."""
    return kcore_members(copurchase_edges(lineitem), k=k)
