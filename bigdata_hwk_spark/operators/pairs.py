"""Co-occurrence pairs: the "items that share a key" kernel.

Documents sharing a shingle or an LSH bucket, parts sharing an order and
items sharing a user are one dataflow: for every unordered item pair,
count the keys the two share. Callers keep their own pre-filters (the
hot-shingle cut, the per-user cap) and post-processing.

Shape: per key a sorted ``collect_set`` of the items, ``posexplode`` of
the set, and ``explode(slice(xs, i + 2, size))`` to pair every item with
the items after it, so ``u < v`` by construction; then
``groupBy(u, v).count()``. Two keyed shuffles, no join and no distinct
(``collect_set`` folds duplicate rows). Memory per row grows linearly
with the group; a group larger than the caller's ``max_group`` fails the
query through ``raise_error`` instead of fanning out quadratically.

``graph.copurchase_edges`` explodes the same bounded sets in both orders
before its one aggregate: mirroring the aggregated pairs would leave its
edges unclustered by (src, dst), and its k-core, BFS and degree-mixing
consumers would pay one more shuffle for their distinct.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def bounded_item_sets(
    df: DataFrame, key: str, item: str, max_group: int, what: str
) -> DataFrame:
    """(xs): per non-null ``key``, the ascending array of its distinct
    non-null ``item`` values. Rows with a null key are dropped, as an
    equi-join on ``key`` drops them.

    Limit: a key with more than ``max_group`` distinct items fails the
    query when it runs (Spark ``raise_error``) with the message ``what``.
    """
    return (
        df.filter(F.col(key).isNotNull())
        .groupBy(key)
        .agg(F.array_sort(F.collect_set(item)).alias("xs"))
        .select(
            F.when(F.size("xs") <= max_group, F.col("xs"))
            .otherwise(F.raise_error(F.lit(what)))
            .alias("xs")
        )
    )


def cooccurring_pairs(
    df: DataFrame, key: str, item: str, max_group: int, what: str
) -> DataFrame:
    """(u, v, n): every pair of distinct non-null ``item`` values that
    share a non-null ``key``, with ``u < v`` and ``n`` the number of
    distinct keys they share, over ``bounded_item_sets`` (same null rule,
    same ``max_group`` limit and message)."""
    return (
        bounded_item_sets(df, key, item, max_group, what)
        .select("xs", F.posexplode("xs").alias("i", "u"))
        .select(
            "u",
            F.explode(F.slice("xs", F.col("i") + 2, F.size("xs"))).alias("v"),
        )
        .groupBy("u", "v")
        .agg(F.count(F.lit(1)).alias("n"))
    )
