"""Association-rule mining over order baskets (support / confidence / lift).

Extension surface (no reference counterpart): market-basket rules are the
classic "what co-occurs with what" primitive of a curation pipeline — the
same shape surfaces as tag co-occurrence in multimodal corpora and as
template co-occurrence in web text. This is the frequent-pair slice of
Apriori (Agrawal & Srikant 1994, public): with a support cut, 2-itemset
rules need exactly one pair count plus the item counts — no candidate
explosion, no iterative lattice walk.

Scale shape: the basket pairs (``operators.pairs.cooccurring_pairs``)
fan out quadratically in BASKET SIZE, not in corpus size — TPC-H orders
carry ≤ 7 lineitems, so pair volume is O(|lineitem|) with a small
constant, and a basket of more than ``graph.COPURCHASE_MAX_BASKET``
(2048) distinct parts fails the query instead of fanning out. The pair
aggregate is map-side combined on (u, v); the item-count table is
|parts|-sized and AQE
broadcasts it into both metric joins; the basket total is a ONE-ROW
aggregate broadcast in the scalar-subquery shape (the
``unigram_surprise_scores`` device). Confidence/lift are ratios of exact
integer counts, so the only floats in the output are two ``round(·, 6)``
projections — deterministic under any partitioning.

Ranking: ``orderBy().limit(k)`` plans TakeOrderedAndProject (per-partition
heaps, no global sort); the rule rank is then a window over the k
surviving rows only (the ``part_pagerank_topk`` device at graph.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window

from ..session import bounded_window
from . import graph
from .pairs import cooccurring_pairs
from pyspark.sql import functions as F

ASSOC_MIN_PAIR_COUNT = 3
ASSOC_TOPK = 40


def basket_items(lineitem: DataFrame) -> DataFrame:
    """Distinct (basket, item) pairs: duplicate lines for the same part in
    one order must not inflate co-occurrence (the ``copurchase_edges``
    DISTINCT-first rule)."""
    return lineitem.select(
        F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("pk")
    ).distinct()


def association_rules_topk(
    lineitem: DataFrame,
    min_pair_count: int = ASSOC_MIN_PAIR_COUNT,
    topk: int = ASSOC_TOPK,
) -> DataFrame:
    """Top-``topk`` 2-item association rules by lift.

    One row per DIRECTED rule antecedent → consequent:
    ``pair_cnt`` (co-occurrence baskets), ``confidence`` =
    pair_cnt / cnt(antecedent), ``lift`` = confidence · n_baskets /
    cnt(consequent), both rounded to 6. Ties break by (antecedent,
    consequent) so the listing is deterministic.

    Limit: an order with more than ``graph.COPURCHASE_MAX_BASKET`` (2048)
    distinct parts fails the query when it runs (Spark ``raise_error``)
    with "copurchase basket exceeds 2048 parts — the local pair
    explosion assumes bounded per-order fan-out".
    """
    from ..session import persist_once

    # The distinct basket-item table feeds three consumers (the pair
    # kernel, the item counts, the basket total); persist it so the
    # lineitem scan + distinct run once, not three times. The
    # result stays LAZY, so this must be the session-lifetime
    # ``persist_once`` (CacheManager-deduplicated across repeated
    # invocations), not a scoped persist released before execution.
    li = persist_once(basket_items(lineitem))
    # Unordered pair counts once (u < v); both rule directions are
    # emitted afterwards by a cheap union on the already-aggregated pairs.
    pairs = (
        cooccurring_pairs(
            li, "ok", "pk", graph.COPURCHASE_MAX_BASKET, graph.COPURCHASE_LIMIT
        )
        .withColumnRenamed("n", "pair_cnt")
        .filter(F.col("pair_cnt") >= min_pair_count)
    )
    directed = pairs.select(
        F.col("u").alias("antecedent"),
        F.col("v").alias("consequent"),
        "pair_cnt",
    ).unionByName(
        pairs.select(
            F.col("v").alias("antecedent"),
            F.col("u").alias("consequent"),
            "pair_cnt",
        )
    )
    items = li.groupBy(F.col("pk")).agg(F.count(F.lit(1)).alias("item_cnt"))
    nb = li.agg(F.countDistinct("ok").alias("n_baskets"))
    ant = items.select(
        F.col("pk").alias("antecedent"), F.col("item_cnt").alias("ant_cnt")
    )
    cons = items.select(
        F.col("pk").alias("consequent"), F.col("item_cnt").alias("cons_cnt")
    )
    scored = (
        directed.join(ant, "antecedent")
        .join(cons, "consequent")
        .crossJoin(F.broadcast(nb))
        .select(
            "antecedent",
            "consequent",
            "pair_cnt",
            F.round(F.col("pair_cnt") / F.col("ant_cnt"), 6).alias(
                "confidence"
            ),
            F.round(
                F.col("pair_cnt")
                * F.col("n_baskets")
                / (F.col("ant_cnt") * F.col("cons_cnt")),
                6,
            ).alias("lift"),
        )
    )
    top = scored.orderBy(
        F.col("lift").desc(),
        F.col("confidence").desc(),
        F.col("antecedent").asc(),
        F.col("consequent").asc(),
    ).limit(topk)
    w = bounded_window(
        F.col("lift").desc(),
        F.col("confidence").desc(),
        F.col("antecedent").asc(),
        F.col("consequent").asc(),
    )
    return top.withColumn("rnk", F.row_number().over(w)).select(
        "rnk", "antecedent", "consequent", "pair_cnt", "confidence", "lift"
    )


def association_rules_sql(
    min_pair_count: int = ASSOC_MIN_PAIR_COUNT, topk: int = ASSOC_TOPK
) -> str:
    """DuckDB twin: the literal definitions, same rounding, same ordering."""
    return f"""
WITH li AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
pairs AS (
  SELECT a.pk AS u, b.pk AS v, count(*) AS pair_cnt
  FROM li a JOIN li b ON a.ok = b.ok AND a.pk < b.pk
  GROUP BY 1, 2
  HAVING count(*) >= {min_pair_count}),
directed AS (
  SELECT u AS antecedent, v AS consequent, pair_cnt FROM pairs
  UNION ALL
  SELECT v, u, pair_cnt FROM pairs),
items AS (SELECT pk, count(*) AS item_cnt FROM li GROUP BY 1),
nb AS (SELECT count(DISTINCT ok) AS n_baskets FROM li),
scored AS (
  SELECT d.antecedent, d.consequent, d.pair_cnt,
         round(d.pair_cnt / CAST(ia.item_cnt AS DOUBLE), 6) AS confidence,
         round(d.pair_cnt * nb.n_baskets
               / (CAST(ia.item_cnt AS DOUBLE) * ic.item_cnt), 6) AS lift
  FROM directed d
  JOIN items ia ON ia.pk = d.antecedent
  JOIN items ic ON ic.pk = d.consequent
  CROSS JOIN nb)
SELECT CAST(row_number() OVER (
         ORDER BY lift DESC, confidence DESC, antecedent, consequent
       ) AS INTEGER) AS rnk,
       antecedent, consequent, pair_cnt, confidence, lift
FROM scored
ORDER BY lift DESC, confidence DESC, antecedent, consequent
LIMIT {topk}
"""


# ---------------------------------------------------------------------------
# Frequent 3-itemsets (the Apriori L3 step)
# ---------------------------------------------------------------------------

TRIPLE_MIN_COUNT = 2
TRIPLE_TOPK = 20


def frequent_triples_topk(
    lineitem: DataFrame,
    min_count: int = TRIPLE_MIN_COUNT,
    topk: int = TRIPLE_TOPK,
) -> DataFrame:
    """(rnk, item_a, item_b, item_c, triple_cnt, support): the top
    frequent 3-itemsets — the L3 rung of Apriori above the pair rules.

    Scale devices: (1) the 3-way basket self-join fans out by C(basket,3)
    — TPC-H orders carry ≤ 7 lineitems, so candidate volume is
    O(|lineitem|) with a small constant; (2) the APRIORI PRUNE:
    candidates are semi-joined against the frequent-PAIR table on all
    three sub-pairs BEFORE the triple count, so at production basket
    sizes the count aggregate only sees candidates whose every edge
    already clears the support cut. The prune is LOSSLESS by the Apriori
    monotonicity lemma (a triple's support ≤ each sub-pair's support),
    and the DuckDB oracle counts triples WITHOUT the prune — hash
    equality proves the losslessness on every run, the
    ``dedup_prefix_filter`` proof pattern.

    Determinism: counts are exact integers; support is one integer
    ratio rounded to 6; ordering is (cnt desc, items asc).

    Limit: the pair stage raises as ``association_rules_topk`` does, on
    an order with more than ``graph.COPURCHASE_MAX_BASKET`` (2048)
    distinct parts.
    """
    from ..session import persist_once

    li = persist_once(basket_items(lineitem))
    fp = persist_once(
        cooccurring_pairs(
            li, "ok", "pk", graph.COPURCHASE_MAX_BASKET, graph.COPURCHASE_LIMIT
        )
        .filter(F.col("n") >= min_count)
        .select("u", "v")
    )
    cand = _basket_triples(li)
    for lo, hi in (("ia", "ib"), ("ib", "ic"), ("ia", "ic")):
        cand = cand.join(
            F.broadcast(fp.select(F.col("u").alias(lo), F.col("v").alias(hi))),
            [lo, hi],
            "left_semi",
        )
    trip = (
        cand.groupBy("ia", "ib", "ic")
        .agg(F.count(F.lit(1)).alias("triple_cnt"))
        .filter(F.col("triple_cnt") >= min_count)
    )
    nb = li.agg(F.countDistinct("ok").alias("n_baskets"))
    scored = trip.crossJoin(F.broadcast(nb)).select(
        F.col("ia").alias("item_a"),
        F.col("ib").alias("item_b"),
        F.col("ic").alias("item_c"),
        "triple_cnt",
        F.round(
            F.col("triple_cnt") / F.col("n_baskets").cast("double"), 6
        ).alias("support"),
    )
    top = scored.orderBy(
        F.col("triple_cnt").desc(), "item_a", "item_b", "item_c"
    ).limit(topk)
    w = bounded_window(
        F.col("triple_cnt").desc(), "item_a", "item_b", "item_c"
    )
    return top.withColumn("rnk", F.row_number().over(w)).select(
        "rnk", "item_a", "item_b", "item_c", "triple_cnt", "support"
    )


def _basket_triples(li: DataFrame) -> DataFrame:
    """(ok, ia, ib, ic) with ia < ib < ic: every item triple of every
    basket, the 3-way self-join the Apriori prune then filters."""
    a, b, c = li.alias("a"), li.alias("b"), li.alias("c")
    return (
        a.join(b, "ok")
        .filter(F.col("a.pk") < F.col("b.pk"))
        .join(c, "ok")
        .filter(F.col("b.pk") < F.col("c.pk"))
        .select(
            "ok",
            F.col("a.pk").alias("ia"),
            F.col("b.pk").alias("ib"),
            F.col("c.pk").alias("ic"),
        )
    )


def frequent_triples_topk_sql(
    min_count: int = TRIPLE_MIN_COUNT, topk: int = TRIPLE_TOPK
) -> str:
    """Oracle: triple counts WITHOUT the Apriori prune (hash equality
    proves the prune lossless), identical support/rank arithmetic."""
    return f"""
WITH li AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
trip AS (
  SELECT a.pk AS item_a, b.pk AS item_b, c.pk AS item_c,
         CAST(count(*) AS BIGINT) AS triple_cnt
  FROM li a
  JOIN li b ON a.ok = b.ok AND a.pk < b.pk
  JOIN li c ON b.ok = c.ok AND b.pk < c.pk
  GROUP BY 1, 2, 3
  HAVING count(*) >= {min_count}),
nb AS (SELECT count(DISTINCT ok) AS n_baskets FROM li)
SELECT CAST(row_number() OVER (
         ORDER BY triple_cnt DESC, item_a, item_b, item_c
       ) AS INTEGER) AS rnk,
       item_a, item_b, item_c, triple_cnt,
       round(triple_cnt / CAST(nb.n_baskets AS DOUBLE), 6) AS support
FROM trip CROSS JOIN nb
ORDER BY triple_cnt DESC, item_a, item_b, item_c
LIMIT {topk}
"""
