"""The co-occurrence pair kernel (``operators/pairs.py``) and the
operators built on it: the kernel against a brute-force pair count, its
declared bound, and the containment, association-rule, Apriori-triple
and item-item CF pins. The co-purchase graph pins (and the basket-limit
raise shared by graph and assoc) are in test_graph.py; the n-gram
Jaccard and MinHash pins are in test_extensions.py."""

from __future__ import annotations

import itertools
import random
from collections import Counter

import pytest
from py4j.protocol import Py4JJavaError
from pyspark.errors import SparkRuntimeException

from bigdata_hwk_spark import registry
from bigdata_hwk_spark.operators import assoc as ARL
from bigdata_hwk_spark.operators.dedup import containment_pairs
from bigdata_hwk_spark.operators.pairs import cooccurring_pairs
from bigdata_hwk_spark.sources.tables import load_table

from .conftest import SF_SMOKE, assert_matches_oracle


# -------------------------------------------------------------- kernel
def test_cooccurring_pairs_matches_brute_force(spark):
    """(u, v, n) equals a Python count of the distinct keys each item
    pair shares, on seeded input with duplicate rows, null keys and null
    items."""
    rng = random.Random(11)
    rows = [
        (rng.choice([None] + list(range(40))), rng.choice([None] + list(range(25))))
        for _ in range(600)
    ]
    rows += rows[:100]  # duplicate (key, item) rows must not inflate n
    sets = {}
    for k, x in rows:
        if k is not None and x is not None:
            sets.setdefault(k, set()).add(x)
    want = Counter(
        pair for xs in sets.values() for pair in itertools.combinations(sorted(xs), 2)
    )
    df = spark.createDataFrame(rows, "k bigint, x bigint")
    got = {
        (r.u, r.v): r.n
        for r in cooccurring_pairs(df, "k", "x", 25, "unused").collect()
    }
    assert got == dict(want)
    assert all(u < v for u, v in got)


def test_cooccurring_pairs_bound_is_inclusive_and_raises_above(spark):
    """A group of exactly ``max_group`` items passes; one more item
    fails the query with the caller's message."""
    bound = 6
    at = spark.range(bound).selectExpr("1L AS k", "id AS x")
    assert cooccurring_pairs(at, "k", "x", bound, "never").count() == 15
    over = spark.range(bound + 1).selectExpr("1L AS k", "id AS x")
    with pytest.raises(
        (SparkRuntimeException, Py4JJavaError), match="test group exceeds 6"
    ):
        cooccurring_pairs(over, "k", "x", bound, "test group exceeds 6").collect()


# --------------------------------------------------------- containment
def test_containment_matches_oracle_smoke(spark):
    assert_matches_oracle(
        registry.QUERIES["dedup_containment"](spark, SF_SMOKE),
        registry.ORACLES["dedup_containment"],
        SF_SMOKE,
    )


def test_containment_is_asymmetric(spark):
    """A short doc fully quoted inside a long doc: containment
    short→long = 1.0 (caught), long→short well under tau (not emitted).
    This is exactly the pair Jaccard misses."""
    quote = "one two three four five six"
    long_text = quote + " " + " ".join(f"w{i} x{i} y{i}" for i in range(20))
    docs = spark.createDataFrame(
        [(1, quote), (2, long_text)], "doc_id long, text string"
    )
    rows = containment_pairs(docs).collect()
    got = {(r.src_doc, r.dst_doc): r.containment for r in rows}
    assert got == {(1, 2): 1.0}


def test_containment_cut_path_is_subset(spark):
    """With an active hot-shingle cut the candidate set can only shrink;
    emitted pairs still carry FULL-set containment, so the result is a
    subset of the uncut answer with identical values."""
    docs = load_table(spark, SF_SMOKE, "documents")
    full = {
        (r.src_doc, r.dst_doc): r.containment
        for r in containment_pairs(docs).collect()
    }
    cut = {
        (r.src_doc, r.dst_doc): r.containment
        for r in containment_pairs(docs, cut=5).collect()
    }
    assert set(cut) <= set(full)
    for k, v in cut.items():
        assert v == full[k]


# --------------------------------------------------- association rules
def _baskets_df(spark):
    rows = [
        (1, "a"), (1, "b"),
        (2, "a"), (2, "b"),
        (3, "a"), (3, "c"),
        (4, "b"),
        (4, "b"),  # duplicate line: must not inflate co-occurrence
    ]
    return spark.createDataFrame(
        [(ok, pk) for ok, pk in rows], "l_orderkey bigint, l_partkey string"
    )


def test_assoc_rules_hand_case(spark):
    out = ARL.association_rules_topk(
        _baskets_df(spark), min_pair_count=2, topk=10
    ).collect()
    assert len(out) == 2  # only (a,b) survives the support cut, 2 directions
    by_dir = {(r.antecedent, r.consequent): r for r in out}
    ab, ba = by_dir[("a", "b")], by_dir[("b", "a")]
    assert ab.pair_cnt == 2 and ba.pair_cnt == 2
    # conf(a→b) = 2/3 (a in baskets 1,2,3); conf(b→a) = 2/3 (b in 1,2,4)
    assert ab.confidence == round(2 / 3, 6) == ba.confidence
    # lift = supp(ab)·N / (supp(a)·supp(b)) = 2·4/(3·3), direction-free
    assert ab.lift == ba.lift == round(8 / 9, 6)


def test_assoc_rules_rank_is_dense_and_deterministic(spark):
    df = _baskets_df(spark)
    a = ARL.association_rules_topk(df, min_pair_count=1, topk=10).collect()
    b = ARL.association_rules_topk(
        df.repartition(5), min_pair_count=1, topk=10
    ).collect()
    assert [r.rnk for r in a] == list(range(1, len(a) + 1))
    assert a == b  # partitioning-invariant listing


def test_frequent_triples_hand_case(spark):
    li = spark.createDataFrame(
        [(1, 1), (1, 2), (1, 3),
         (2, 1), (2, 2), (2, 3),
         (3, 1), (3, 2), (3, 4),
         (3, 4)],  # duplicate line: distinct'd away
        "l_orderkey bigint, l_partkey bigint",
    )
    rows = ARL.frequent_triples_topk(li, min_count=2, topk=5).collect()
    assert len(rows) == 1
    r = rows[0]
    assert (r.rnk, r.item_a, r.item_b, r.item_c, r.triple_cnt) == (1, 1, 2, 3, 2)
    assert r.support == round(2 / 3, 6)


# ------------------------------------------------------- item-item CF
def _cf_events(spark, interactions):
    # interactions: list of (user_id, item)
    rows = [
        (i, u, '{"k": %d}' % it) for i, (u, it) in enumerate(interactions)
    ]
    return spark.createDataFrame(rows, "event_id bigint, user_id bigint, props string")


def test_item_cf_neighbors_hand_case(spark):
    import math

    from bigdata_hwk_spark.operators import recsys as CF

    ev = _cf_events(
        spark,
        [(1, 1), (1, 2), (2, 1), (2, 2), (3, 1), (3, 3),
         (1, 1)],  # duplicate interaction: distinct'd away
    )
    out = {(r.item, r.neighbor): r for r in CF.item_cf_neighbors(ev).collect()}
    # c1=3, c2=2, c3=1; common(1,2)=2, common(1,3)=1, no (2,3)
    assert set(out) == {(1, 2), (1, 3), (2, 1), (3, 1)}
    assert out[(1, 2)].n_common == 2
    assert out[(1, 2)].cosine == round(2 / math.sqrt(6), 6)
    assert out[(1, 2)].rnk == 1 and out[(1, 3)].rnk == 2
    assert out[(1, 3)].cosine == round(1 / math.sqrt(3), 6)
    assert out[(2, 1)].cosine == out[(1, 2)].cosine  # symmetric score


def test_item_cf_user_cap(spark):
    from bigdata_hwk_spark.operators import recsys as CF

    # one user with 3 items, cap=2: item 3 is cut, so no pair involves it
    ev = _cf_events(spark, [(1, 1), (1, 2), (1, 3)])
    out = CF.item_cf_neighbors(ev, cap=2).collect()
    items = {(r.item, r.neighbor) for r in out}
    assert items == {(1, 2), (2, 1)}
