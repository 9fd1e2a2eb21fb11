"""Item-item collaborative-filtering neighbors over the event stream.

Extension surface (no reference counterpart): the association-rule
operator (``operators/assoc.py``) mines ORDER baskets for
support/confidence/lift; a recommender pipeline instead wants item-item
COSINE neighbors over the user-interaction matrix ("users who touched
X also touched Y"), the classic Amazon item-based CF shape (Linden et
al. 2003, public) and the co-occurrence kernel every embedding-free
recommender starts from.

Scale devices, in order of importance:

* **Per-user cap.** The pair kernel (``operators.pairs``) fans out
  quadratically in a user's item-set size, and real interaction data is
  power-law — one bot account with 100k items would emit 10^10 pairs.
  Capping each user at ``cap`` items (deterministic: the ``cap``
  smallest item ids, a row_number window) bounds the fan-out at cap²/2
  per user, making pair volume O(users · cap²) — linear in users. The cap biases counts
  for pathological users only; it is the standard production tradeoff
  (the same device the dedup family's posting-cut uses).
* The pair tally is map-side combined into at most |items|² cells —
  the item vocabulary is alphabet-class, so everything after the
  user-keyed pair explosion is dictionary-sized.
* Popularity joins broadcast (|items| rows); the top-k window runs
  over dictionary-sized cells.

Determinism: cosine = c_ij / sqrt(c_i·c_j) — integer counts, one
correctly-rounded sqrt, one IEEE division — rounded to 6 BEFORE the
rank window (round-before-rank, the BM25/TF-IDF device), ties by
neighbor id.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .pairs import cooccurring_pairs

CF_USER_CAP = 32   # max items per user entering the pair kernel
CF_TOPK = 5        # neighbors kept per item


def item_cf_neighbors(
    events: DataFrame, cap: int = CF_USER_CAP, topk: int = CF_TOPK
) -> DataFrame:
    """(item, neighbor, n_common, cosine, rnk): top-``topk`` cosine
    neighbors per item over the binary user-item matrix (distinct
    interactions; per-user item set capped at ``cap``)."""
    ui = (
        events.select(
            "user_id",
            F.get_json_object(F.col("props"), "$.k").cast("bigint").alias("item"),
        )
        .filter(F.col("item").isNotNull())
        .distinct()
    )
    wu = Window.partitionBy("user_id").orderBy("item")
    capped = (
        ui.withColumn("rn", F.row_number().over(wu))
        .filter(F.col("rn") <= cap)
        .select("user_id", "item")
    )
    from ..session import persist_once

    capped = persist_once(capped)
    pop = capped.groupBy("item").agg(F.count(F.lit(1)).alias("c"))
    # the cap above already bounds every user's set, so the kernel's
    # bound never fires here
    half = cooccurring_pairs(
        capped, "user_id", "item", cap,
        f"user item set exceeds the {cap}-item cap",
    ).toDF("item", "neighbor", "n_common")
    pairs = half.union(
        half.select(
            F.col("neighbor").alias("item"),
            F.col("item").alias("neighbor"),
            "n_common",
        )
    )
    ci = pop.select(F.col("item"), F.col("c").alias("ci"))
    cj = pop.select(F.col("item").alias("neighbor"), F.col("c").alias("cj"))
    scored = (
        pairs.join(F.broadcast(ci), "item")
        .join(F.broadcast(cj), "neighbor")
        .select(
            "item",
            "neighbor",
            "n_common",
            F.round(
                F.col("n_common")
                / F.sqrt((F.col("ci") * F.col("cj")).cast("double")),
                6,
            ).alias("cosine"),
        )
    )
    wr = Window.partitionBy("item").orderBy(
        F.col("cosine").desc(), F.col("neighbor").asc()
    )
    return (
        scored.withColumn("rnk", F.row_number().over(wr))
        .filter(F.col("rnk") <= topk)
        .select("item", "neighbor", "n_common", "cosine", "rnk")
    )


def item_cf_neighbors_sql(
    cap: int = CF_USER_CAP, topk: int = CF_TOPK
) -> str:
    """Oracle: identical cap/pair/cosine/rank arithmetic."""
    return f"""
WITH ui AS (
  -- TRY_CAST + post-cast null filter mirrors the engine, which casts
  -- first and drops nulls after: a non-numeric '$.k' value must be
  -- silently skipped on both sides, not error only the oracle.
  SELECT DISTINCT user_id, item FROM (
    SELECT user_id,
           TRY_CAST(json_extract_string(props, '$.k') AS BIGINT) AS item
    FROM events) WHERE item IS NOT NULL),
capped AS (
  SELECT user_id, item FROM (
    SELECT user_id, item,
           row_number() OVER (PARTITION BY user_id ORDER BY item) AS rn
    FROM ui) WHERE rn <= {cap}),
pop AS (SELECT item, count(*) AS c FROM capped GROUP BY item),
half AS (
  SELECT a.item AS item, b.item AS neighbor, count(*) AS n_common
  FROM capped a JOIN capped b
    ON a.user_id = b.user_id AND a.item < b.item
  GROUP BY 1, 2),
pairs AS (
  SELECT item, neighbor, n_common FROM half
  UNION ALL
  SELECT neighbor, item, n_common FROM half),
scored AS (
  SELECT p.item, p.neighbor, p.n_common,
         round(p.n_common / sqrt((ci.c * cj.c)::DOUBLE), 6) AS cosine
  FROM pairs p
  JOIN pop ci ON ci.item = p.item
  JOIN pop cj ON cj.item = p.neighbor)
SELECT item, neighbor, n_common, cosine, CAST(rnk AS INT) AS rnk FROM (
  SELECT *, row_number() OVER (
    PARTITION BY item ORDER BY cosine DESC, neighbor ASC) AS rnk
  FROM scored)
WHERE rnk <= {topk}
"""
