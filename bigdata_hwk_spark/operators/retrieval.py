"""BM25 full-text retrieval over the documents corpus.

Extension surface (no reference counterpart): a training-data pipeline
needs lexical retrieval long before it needs a vector index — eval-set
decontamination sweeps, targeted corpus probes ("show me the docs that
answer this"), and data-selection recipes (e.g. retrieval-augmented
pretraining selection) all rank documents against a small query set.
This module is the classic distributed inverted-index scorer: Okapi
BM25 (Robertson/Sparck Jones; the Lucene ``k1``/``b`` variant with the
``ln(1 + …)`` idf floor) expressed entirely in DataFrame ops.

Shape at 100 TB:

* the posting table (``doc_id, term, tf, dl``) is one map-side-combined
  groupBy over the exploded corpus — the same shuffle a word-count pays;
* the query side is TINY (a handful of terms) and broadcast onto the
  postings, so the per-query candidate set is exactly the docs
  containing ≥ 1 query term — no corpus-wide score materialization;
* corpus stats (N, avgdl) and per-term document frequencies are one-row
  / |vocab|-row aggregates; the one-row stats side rides a scalar-
  subquery broadcast (the ``quality_gated_docs`` shape);
* the final top-k is a per-query window over the matched docs only.

Scores are rounded to 6 decimals BEFORE ranking on both engines, so the
rank order (and the tie-break by doc_id) is identical arithmetic in
Spark and DuckDB — the same determinism device the TF-IDF cosine and
Jaccard families use.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..session import local_df

BM25_K1 = 1.2
BM25_B = 0.75
BM25_TOPK = 10

# Fixed query set: multi-term probes over the fixture vocabulary (the
# synthetic corpus draws from a small closed word list, so these hit
# every SF). Literal in both engines — no RNG, no corpus-derived state.
BM25_QUERIES: list[tuple[int, str]] = [
    (1, "customer join table"),
    (2, "batch scan"),
    (3, "hash merge stream"),
    (4, "slow filter value"),
    (5, "window data row"),
    (6, "spark query part"),
]


def _postings(documents: DataFrame) -> DataFrame:
    """(doc_id, term, tf, dl) — whitespace tokens, term frequency and
    document length per posting. One explode + one map-side-combined
    groupBy; ``dl`` is constant per doc so ``min`` is exact."""
    ws = F.split(F.col("text"), " ")
    toks = documents.select(
        "doc_id", F.size(ws).alias("dl"), F.explode(ws).alias("term")
    )
    return toks.groupBy("doc_id", "term").agg(
        F.count(F.lit(1)).alias("tf"), F.min("dl").alias("dl")
    )


def bm25_topk(
    documents: DataFrame,
    queries: list[tuple[int, str]] = BM25_QUERIES,
    k1: float = BM25_K1,
    b: float = BM25_B,
    topk: int = BM25_TOPK,
    tf: DataFrame | None = None,
    stats: DataFrame | None = None,
) -> DataFrame:
    """Top-``topk`` documents per query by BM25 score.

    Returns (query_id, doc_id, rnk, score): ``rnk`` ranks by the
    6-decimal-rounded score descending, doc_id ascending — ranking on
    the ROUNDED value keeps the order identical across engines and
    across partial-aggregation orders (raw float sums are
    order-sensitive in the last ulp; queries have ≤ 5 terms, so the
    rounded value is stable).

    ``tf``/``stats`` inject a PRE-BUILT index (the persisted-artifact
    path at ``text_index_build``); by default both derive from
    ``documents`` in-plan. Either both or neither — the stats must
    describe the corpus the postings were built from.
    """
    if (tf is None) != (stats is None):
        raise ValueError("bm25_topk: pass both tf and stats, or neither")
    spark = documents.sparkSession
    q_rows = [
        (qid, term) for qid, qtext in queries for term in qtext.split(" ")
    ]
    q = local_df(spark, q_rows, "query_id int, term string")

    if tf is None:
        tf = _postings(documents)
    # df over QUERY terms only: semi-join the postings to the tiny term
    # set BEFORE aggregating — the per-term doc counts are identical
    # (every posting of a query term survives the semi-join) and the df
    # side stays ≤ |query terms| rows, so broadcasting it can never OOM.
    # Aggregating the full vocabulary and force-broadcasting it would be
    # the Heaps-law trap a 100 TB corpus springs on the encode join
    # (same class as the round-10 BPE broadcast-hint fix).
    q_terms = q.select("term").distinct()
    df = (
        tf.join(F.broadcast(q_terms), "term", "left_semi")
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("df"))
    )
    if stats is None:
        stats = documents.agg(
            F.count(F.lit(1)).cast("double").alias("n"),
            F.avg(F.size(F.split(F.col("text"), " "))).alias("avgdl"),
        )

    idf = F.log(
        F.lit(1.0)
        + (F.col("n") - F.col("df") + F.lit(0.5)) / (F.col("df") + F.lit(0.5))
    )
    tf_part = (F.col("tf") * F.lit(k1 + 1.0)) / (
        F.col("tf")
        + F.lit(k1)
        * (F.lit(1.0 - b) + F.lit(b) * F.col("dl") / F.col("avgdl"))
    )
    scores = (
        F.broadcast(q)
        .join(tf, "term")
        .join(F.broadcast(df), "term")
        .crossJoin(F.broadcast(stats))  # ONE-ROW (n, avgdl) scalar side
        .groupBy("query_id", "doc_id")
        .agg(F.round(F.sum(idf * tf_part), 6).alias("score"))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("score").desc(), F.col("doc_id").asc()
    )
    return (
        scores.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= topk)
        .select("query_id", "doc_id", "rnk", "score")
    )


def bm25_scoring_ctes(
    queries: list[tuple[int, str]] = BM25_QUERIES,
    k1: float = BM25_K1,
    b: float = BM25_B,
) -> str:
    """The BM25 scoring CTE chain (toks/tf/df/stats/q/scores) as a SQL
    fragment — shared verbatim by ``bm25_topk_sql`` and
    ``rrf_hybrid_topk_sql`` so a scoring fix can never reach one oracle
    and miss the other (the ``bursts_scoring_sql`` factoring device)."""
    q_values = ", ".join(
        f"({qid}, '{term}')"
        for qid, qtext in queries
        for term in qtext.split(" ")
    )
    return f"""toks AS (
  SELECT doc_id, len(string_split(text, ' ')) AS dl,
         unnest(string_split(text, ' ')) AS term
  FROM documents),
tf AS (
  SELECT doc_id, term, min(dl) AS dl, count(*) AS tf
  FROM toks GROUP BY doc_id, term),
df AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
stats AS (
  SELECT count(*)::DOUBLE AS n,
         avg(len(string_split(text, ' '))) AS avgdl
  FROM documents),
q(query_id, term) AS (VALUES {q_values}),
scores AS (
  SELECT q.query_id, tf.doc_id,
         round(sum(
           ln(1.0 + (s.n - df.df + 0.5) / (df.df + 0.5))
           * (tf.tf * {k1 + 1.0!r})
             / (tf.tf + {k1!r} * ({1.0 - b!r} + {b!r} * tf.dl / s.avgdl))
         ), 6) AS score
  FROM q
  JOIN tf USING (term)
  JOIN df USING (term)
  CROSS JOIN stats s
  GROUP BY q.query_id, tf.doc_id)"""


def bm25_topk_sql(
    queries: list[tuple[int, str]] = BM25_QUERIES,
    k1: float = BM25_K1,
    b: float = BM25_B,
    topk: int = BM25_TOPK,
) -> str:
    """DuckDB twin: identical tokenization, identical double arithmetic,
    identical round-before-rank."""
    return f"""
WITH {bm25_scoring_ctes(queries, k1, b)},
ranked AS (
  SELECT query_id, doc_id, score,
         row_number() OVER (
           PARTITION BY query_id ORDER BY score DESC, doc_id) AS rnk
  FROM scores)
SELECT query_id, doc_id, rnk, score
FROM ranked WHERE rnk <= {topk}
"""


# ---------------------------------------------------------------------------
# Positional-index exact phrase search
# ---------------------------------------------------------------------------

# Fixed phrase probes over the fixture vocabulary; the last one matches
# nothing anywhere, pinning the no-hit edge through both engines.
PHRASE_QUERIES: list[tuple[int, str]] = [
    (1, "batch batch"),
    (2, "window window"),
    (3, "scan join"),
    (4, "stream spark"),
    (5, "key order sort"),
]


def phrase_search(
    documents: DataFrame,
    phrases: list[tuple[int, str]] = PHRASE_QUERIES,
) -> DataFrame:
    """(query_id, doc_id, n_matches) — exact phrase retrieval over a
    positional inverted index: BM25's bag-of-words postings can't
    distinguish "scan join" from "join … scan"; phrase queries need word
    POSITIONS. Classic IR positional-postings evaluation (one posting
    row per (doc, pos, word) from ``posexplode``), with the adjacency
    check expressed as pure relational algebra: a phrase occurrence
    starting at ``s`` means word_i sits at position ``s + i`` for every
    i, so each posting row that matches some phrase word votes for start
    ``pos − i``, and a start with exactly k votes (one per phrase slot —
    (doc, pos) is unique, so votes can't double-count) is a full match.

    Shape at 100 TB: the tiny phrase table broadcasts onto the postings
    (candidate rows = postings whose word appears in ANY phrase — the
    selectivity a real phrase query has), then one map-side-combined
    groupBy on (query, doc, start) and one on (query, doc). The corpus
    is scanned once; no self-join of postings against postings (the
    k-way position join rewritten as vote-counting — k-1 fewer shuffles).
    """
    qrows = []
    for qid, phrase in phrases:
        ws = phrase.split(" ")
        qrows.extend((qid, i, w, len(ws)) for i, w in enumerate(ws))
    qdf = documents.sparkSession.createDataFrame(
        qrows, "query_id int, i int, w string, k int"
    )
    post = documents.select(
        "doc_id", F.posexplode(F.split(F.col("text"), " ")).alias("pos", "w")
    )
    votes = post.join(F.broadcast(qdf), "w").select(
        "query_id",
        "doc_id",
        (F.col("pos") - F.col("i")).alias("start"),
        "k",
    )
    full = (
        votes.groupBy("query_id", "doc_id", "start", "k")
        .agg(F.count(F.lit(1)).alias("nv"))
        .filter(F.col("nv") == F.col("k"))
    )
    return full.groupBy("query_id", "doc_id").agg(
        F.count(F.lit(1)).alias("n_matches")
    )


def phrase_search_sql(
    phrases: list[tuple[int, str]] = PHRASE_QUERIES,
) -> str:
    """DuckDB oracle: an INDEPENDENT algorithm — per document, a literal
    sliding-window scan of the split word array (list_filter over every
    candidate start), not an inverted index; agreement pins the
    vote-counting rewrite, not just the arithmetic."""
    parts = []
    for qid, phrase in phrases:
        ws = phrase.split(" ")
        k = len(ws)
        cond = " AND ".join(
            f"ws[i+{j}] = '{w}'" if j else f"ws[i] = '{w}'"
            for j, w in enumerate(ws)
        )
        parts.append(f"""
SELECT CAST({qid} AS INTEGER) AS query_id, doc_id,
       CAST(len(list_filter(generate_series(1, len(ws) - {k - 1}),
                            i -> {cond})) AS BIGINT) AS n_matches
FROM (SELECT doc_id, string_split(text, ' ') AS ws FROM documents)""")
    body = "\nUNION ALL\n".join(parts)
    return f"SELECT * FROM (\n{body}\n) WHERE n_matches > 0"


# ---------------------------------------------------------------------------
# Persisted inverted-index artifact (build once, query many)
# ---------------------------------------------------------------------------

def text_index_build(
    documents: DataFrame,
    out_dir: str,
    postings: DataFrame | None = None,
    stats: DataFrame | None = None,
) -> dict:
    """Materialize the BM25 index as a parquet artifact: the posting
    table bucket-partitioned-BY-TERM-HASH files under ``out_dir``/postings
    and the one-row (n, avgdl) corpus stats under ``out_dir``/stats.

    The artifact is the production contract the in-plan path can't give:
    the corpus is tokenized ONCE, then any number of later query batches
    pay only a pruned posting scan — the ``pq_index_build`` discipline
    applied to the lexical index. Postings are repartitioned by ``term``
    before the write so each file holds whole posting lists (a query's
    semi-join prunes files by the term hash instead of scanning all).

    ``postings``/``stats`` inject pre-built (typically persisted)
    relations so a caller that also scores in-plan — the roundtrip
    profile — tokenizes the corpus once for both legs (guide §5 reuse);
    by default both derive from ``documents``. Either both or neither."""
    if (postings is None) != (stats is None):
        raise ValueError(
            "text_index_build: pass both postings and stats, or neither"
        )
    if postings is None:
        postings = _postings(documents)
        stats = documents.agg(
            F.count(F.lit(1)).cast("double").alias("n"),
            F.avg(F.size(F.split(F.col("text"), " "))).alias("avgdl"),
        )
    postings.repartition(F.col("term")).write.mode("overwrite").parquet(
        f"{out_dir}/postings"
    )
    stats.write.mode("overwrite").parquet(f"{out_dir}/stats")
    spark = documents.sparkSession
    n_postings = spark.read.parquet(f"{out_dir}/postings").count()
    return {"n_postings": n_postings}


def text_index_roundtrip_profile(
    spark: SparkSession,
    sf_dir: str,
    work_dir: str | None = None,
) -> DataFrame:
    """One-row profile proving the persisted lexical index is lossless:
    build the artifact into a per-invocation temp dir, run the SAME fixed
    query set through (a) the from-index path and (b) the in-plan path,
    and count exact (query, doc, rnk, score) row agreement —
    (n_postings, topk_rows, n_agree). ``n_agree == topk_rows`` certifies
    tokenize→parquet→score ≡ in-memory end to end (the
    ``pq_index_roundtrip_profile`` device for the text index). The temp
    dir is removed before returning (the profile is driver-built); a
    caller's ``work_dir`` is kept."""
    import shutil
    import tempfile

    from ..session import persist_scoped

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    out = work_dir or tempfile.mkdtemp(prefix="text_index_")
    # Tokenize ONCE (guide §5 reuse; r13 VERDICT item 3): the posting
    # table and the one-row stats persist for the artifact build AND the
    # in-memory scoring leg — before, the in-memory leg re-ran the full
    # tokenize→explode→groupBy shuffle and the stats aggregate re-scanned
    # (and re-split) the corpus twice more. The roundtrip property is
    # unchanged: the from-index leg still scores the parquet-roundtripped
    # artifact, the in-memory leg the never-serialized relation.
    post, release_post = persist_scoped(_postings(docs))
    stats_mem, release_stats = persist_scoped(
        docs.agg(
            F.count(F.lit(1)).cast("double").alias("n"),
            F.avg(F.size(F.split(F.col("text"), " "))).alias("avgdl"),
        )
    )
    try:
        meta = text_index_build(docs, out, postings=post, stats=stats_mem)
        tf = spark.read.parquet(f"{out}/postings")
        stats = spark.read.parquet(f"{out}/stats")
        from_index = {
            tuple(r) for r in bm25_topk(docs, tf=tf, stats=stats).collect()
        }
        in_mem = {
            tuple(r)
            for r in bm25_topk(docs, tf=post, stats=stats_mem).collect()
        }
    finally:
        release_post()
        release_stats()
        if not work_dir:
            shutil.rmtree(out, ignore_errors=True)
    return local_df(
        spark,
        [(meta["n_postings"], len(in_mem), len(from_index & in_mem))],
        "n_postings bigint, topk_rows bigint, n_agree bigint",
    )


# ---------------------------------------------------------------------------
# Hybrid retrieval: reciprocal rank fusion of lexical + semantic rankings
# ---------------------------------------------------------------------------

RRF_C = 60  # the constant from Cormack, Clarke & Buettcher 2009 (public)


def dense_rank_topk(
    embeddings: DataFrame, qids: list[int], topk: int = BM25_TOPK
) -> DataFrame:
    """(query_id, doc_id, sem_rnk): the dense-retriever leg of the RRF
    fusion, factored out (r13) so the hybrid wall can be DECOMPOSED
    into its lexical and semantic parts in the scale-stress sweep —
    one broadcast-queries corpus scan + per-query window over
    round-before-rank cosines, exactly the plan ``rrf_hybrid_topk``
    inlined before."""
    from .similarity import _as_double, _cosine, _dot

    emb = embeddings.select(
        "vec_id", _as_double(F.col("embedding")).alias("v")
    ).filter(_dot(F.col("v"), F.col("v")) > 0)
    qv = emb.filter(F.col("vec_id").isin(qids)).select(
        F.col("vec_id").alias("query_id"), F.col("v").alias("qv")
    )
    sem_scored = emb.crossJoin(F.broadcast(qv)).select(
        "query_id",
        F.col("vec_id").alias("doc_id"),
        F.round(_cosine(F.col("qv"), F.col("v")), 6).alias("cos6"),
    )
    wsem = Window.partitionBy("query_id").orderBy(
        F.col("cos6").desc(), F.col("doc_id").asc()
    )
    return (
        sem_scored.withColumn("sem_rnk", F.row_number().over(wsem))
        .filter(F.col("sem_rnk") <= topk)
        .select("query_id", "doc_id", "sem_rnk")
    )


def dense_rank_topk_sql(
    qids: list[int] | None = None, topk: int = BM25_TOPK
) -> str:
    """Oracle for the standalone dense leg: the identical CTE chain the
    RRF oracle uses for its ``sem`` side (zero-norm exclusion,
    round-before-rank 6-decimal cosines, doc_id tie order)."""
    qid_list = ", ".join(
        str(q) for q in (qids or [qid for qid, _ in BM25_QUERIES])
    )
    return f"""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
           WHERE list_dot_product(embedding::DOUBLE[],
                                  embedding::DOUBLE[]) > 0),
qv AS (SELECT vec_id AS query_id, v AS qv FROM e
       WHERE vec_id IN ({qid_list})),
sem_scored AS (
  SELECT query_id, e.vec_id AS doc_id,
         round(list_dot_product(qv, v)
               / sqrt(list_dot_product(qv, qv) * list_dot_product(v, v)),
               6) AS cos6
  FROM e CROSS JOIN qv)
SELECT query_id, doc_id, CAST(rk AS INT) AS sem_rnk FROM (
  SELECT query_id, doc_id,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY cos6 DESC, doc_id) AS rk
  FROM sem_scored) WHERE rk <= {topk}
"""


def rrf_hybrid_topk(
    documents: DataFrame,
    embeddings: DataFrame,
    queries: list[tuple[int, str]] = BM25_QUERIES,
    topk: int = BM25_TOPK,
    c: int = RRF_C,
) -> DataFrame:
    """(query_id, doc_id, lex_rnk, sem_rnk, rrf, rnk): hybrid retrieval
    via Reciprocal Rank Fusion (Cormack, Clarke & Buettcher 2009 —
    public; the standard way RAG stacks combine BM25 with a dense
    retriever): each system contributes 1/(c + rank) for the documents
    it ranked in its top-``topk``; documents seen by only one system
    get that one term (the other rank is NULL). Fused rank orders by
    the 6-rounded rrf score desc, doc_id asc.

    Query pairing: query ``qid``'s text probes the lexical side
    (``bm25_topk``) and the embedding with ``vec_id == qid`` probes the
    semantic side — the fixture's aligned-id convention (doc_id and
    vec_id share the id space). The semantic side ranks ALL nonzero-norm
    corpus vectors (no self-exclusion: the query's own document is a
    legitimate retrieval hit, exactly as BM25 may return it).

    Exactness: both input ranks are integer row_numbers over
    round-before-rank scores (BM25's 6-rounded sum; cosine rounded to 6
    here for the same reason); the fused score is a FIXED two-term sum
    of exact-integer-denominator reciprocals — one expression, no
    aggregation order to flap — rounded to 6 before the final rank.

    Scale shape: the lexical side is bm25_topk's plan (postings
    semi-joined to the tiny query term set); the semantic side is one
    broadcast-queries corpus scan + per-query window over round-ranked
    scores; the fusion joins two ≤|queries|·topk tables — driver never
    sees the corpus.
    """
    lex = bm25_topk(documents, queries=queries, topk=topk).select(
        "query_id", "doc_id", F.col("rnk").alias("lex_rnk")
    )
    sem = dense_rank_topk(
        embeddings, [qid for qid, _ in queries], topk
    )
    fused = lex.join(sem, ["query_id", "doc_id"], "full_outer")
    rrf = F.round(
        F.coalesce(
            F.lit(1.0) / (F.lit(c) + F.col("lex_rnk")), F.lit(0.0)
        )
        + F.coalesce(
            F.lit(1.0) / (F.lit(c) + F.col("sem_rnk")), F.lit(0.0)
        ),
        6,
    )
    wf = Window.partitionBy("query_id").orderBy(
        F.col("rrf").desc(), F.col("doc_id").asc()
    )
    return (
        fused.withColumn("rrf", rrf)
        .withColumn("rnk", F.row_number().over(wf))
        .filter(F.col("rnk") <= topk)
        .select(
            "query_id",
            "doc_id",
            F.col("lex_rnk").cast("int").alias("lex_rnk"),
            F.col("sem_rnk").cast("int").alias("sem_rnk"),
            "rrf",
            "rnk",
        )
    )


def rrf_hybrid_topk_sql(
    queries: list[tuple[int, str]] = BM25_QUERIES,
    k1: float = BM25_K1,
    b: float = BM25_B,
    topk: int = BM25_TOPK,
    c: int = RRF_C,
) -> str:
    """Oracle: the SHARED ``bm25_scoring_ctes`` fragment + the identical
    round-before-rank cosine leg + the same fixed two-term fusion."""
    qid_list = ", ".join(str(qid) for qid, _ in queries)
    return f"""
WITH {bm25_scoring_ctes(queries, k1, b)},
lex AS (
  SELECT query_id, doc_id, rnk AS lex_rnk FROM (
    SELECT query_id, doc_id, score,
           row_number() OVER (
             PARTITION BY query_id ORDER BY score DESC, doc_id) AS rnk
    FROM scores) WHERE rnk <= {topk}),
e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
      WHERE list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]) > 0),
qv AS (SELECT vec_id AS query_id, v AS qv FROM e
       WHERE vec_id IN ({qid_list})),
sem_scored AS (
  SELECT query_id, e.vec_id AS doc_id,
         round(list_dot_product(qv, v)
               / sqrt(list_dot_product(qv, qv) * list_dot_product(v, v)),
               6) AS cos6
  FROM e CROSS JOIN qv),
sem AS (
  SELECT query_id, doc_id, rk AS sem_rnk FROM (
    SELECT query_id, doc_id,
           row_number() OVER (PARTITION BY query_id
                              ORDER BY cos6 DESC, doc_id) AS rk
    FROM sem_scored) WHERE rk <= {topk}),
fused AS (
  SELECT coalesce(lex.query_id, sem.query_id) AS query_id,
         coalesce(lex.doc_id, sem.doc_id) AS doc_id,
         lex.lex_rnk, sem.sem_rnk,
         round(coalesce(1.0 / ({c} + lex.lex_rnk), 0.0)
               + coalesce(1.0 / ({c} + sem.sem_rnk), 0.0), 6) AS rrf
  FROM lex FULL OUTER JOIN sem
    ON lex.query_id = sem.query_id AND lex.doc_id = sem.doc_id)
SELECT query_id, doc_id,
       CAST(lex_rnk AS INT) AS lex_rnk, CAST(sem_rnk AS INT) AS sem_rnk,
       rrf, CAST(rnk AS INT) AS rnk
FROM (
  SELECT query_id, doc_id, lex_rnk, sem_rnk, rrf,
         row_number() OVER (
           PARTITION BY query_id ORDER BY rrf DESC, doc_id) AS rnk
  FROM fused)
WHERE rnk <= {topk}
"""
