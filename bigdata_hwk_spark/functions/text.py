"""Text-analysis operators for training-data pipelines (SURVEY.md §2.11).

All computed with built-in ``pyspark.sql.functions`` over the word array —
whole-stage codegen, no Python in the row path — and each with a DuckDB
twin using the identical arithmetic (integer counts + one final IEEE
division, so results agree bit-for-bit before the defensive rounding).

Operators: token/char statistics, quality scoring (stopword ratio,
type-token ratio, mean token length), n-gram-heuristic language ID, and
content fingerprinting (md5; portable across engines).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window

from ..session import bounded_window
from pyspark.sql import functions as F

# Tiny per-language stopword lists for the heuristic language-ID scorer.
# Deterministic and oracle-expressible: the "model" is the data.
LANG_STOPWORDS: dict[str, tuple[str, ...]] = {
    "de": ("der", "die", "das", "und", "ist", "nicht", "ein", "mit"),
    "en": ("the", "a", "of", "and", "to", "in", "is", "that"),
    "es": ("el", "la", "de", "que", "y", "en", "un", "es"),
    "fr": ("le", "la", "de", "et", "un", "en", "est", "que"),
    "zh": ("的", "是", "了", "在", "我", "有", "和", "不"),
}

def _words() -> Column:
    return F.split(F.col("text"), " ")


def _stop_hits(ws: Column, stops: tuple[str, ...]) -> Column:
    return F.size(F.filter(ws, lambda w: w.isin(*stops)))


def token_stats(documents: DataFrame) -> DataFrame:
    """Per-doc token statistics: counts, distinct counts, type-token ratio,
    mean token length. Whitespace tokenization (the BPE-ish regex variant
    is ``token_count_bpe`` below)."""
    ws = _words()
    n_tokens = F.size(ws)
    n_distinct = F.size(F.array_distinct(ws))
    sum_len = F.aggregate(
        F.transform(ws, lambda w: F.length(w)),
        F.lit(0),
        lambda acc, x: acc + x,
    )
    return documents.select(
        "doc_id",
        F.length("text").alias("n_chars"),
        n_tokens.alias("n_tokens"),
        n_distinct.alias("n_distinct_tokens"),
        F.round(n_distinct / n_tokens, 6).alias("type_token_ratio"),
        F.round(sum_len / n_tokens, 6).alias("mean_token_len"),
    )


TOKEN_STATS_SQL = """
SELECT doc_id,
       length(text) AS n_chars,
       len(string_split(text, ' ')) AS n_tokens,
       len(list_distinct(string_split(text, ' '))) AS n_distinct_tokens,
       round(len(list_distinct(string_split(text, ' ')))::DOUBLE
             / len(string_split(text, ' ')), 6) AS type_token_ratio,
       round(list_sum(list_transform(string_split(text, ' '), w -> length(w)))::DOUBLE
             / len(string_split(text, ' ')), 6) AS mean_token_len
FROM documents
"""


def quality_scores(documents: DataFrame) -> DataFrame:
    """Heuristic quality score in [0, 1]: blend of stopword ratio (fluency
    proxy), type-token ratio (repetition proxy) and length band. The exact
    formula matters less than its determinism — it's the standard shape of
    corpus-quality filters, expressed entirely in codegen."""
    ws = _words()
    n = F.size(ws)
    stop_ratio = _stop_hits(ws, LANG_STOPWORDS["en"]) / n
    ttr = F.size(F.array_distinct(ws)) / n
    len_ok = F.when((n >= 20) & (n <= 1000), F.lit(1.0)).otherwise(F.lit(0.5))
    score = (
        F.least(stop_ratio * 4, F.lit(1.0)) * 0.4 + ttr * 0.4 + len_ok * 0.2
    )
    return documents.select(
        "doc_id",
        F.round(stop_ratio, 6).alias("stopword_ratio"),
        F.round(ttr, 6).alias("type_token_ratio"),
        F.round(score, 6).alias("quality_score"),
    )


_EN_STOPS_SQL = "('the','a','of','and','to','in','is','that')"

QUALITY_SCORES_SQL = f"""
WITH base AS (
  SELECT doc_id,
         len(list_filter(string_split(text, ' '), w -> w IN {_EN_STOPS_SQL}))::DOUBLE
           / len(string_split(text, ' ')) AS stop_ratio,
         len(list_distinct(string_split(text, ' ')))::DOUBLE
           / len(string_split(text, ' ')) AS ttr,
         CASE WHEN len(string_split(text, ' ')) BETWEEN 20 AND 1000
              THEN 1.0 ELSE 0.5 END AS len_ok
  FROM documents)
SELECT doc_id,
       round(stop_ratio, 6) AS stopword_ratio,
       round(ttr, 6) AS type_token_ratio,
       round(least(stop_ratio * 4, 1.0) * 0.4 + ttr * 0.4 + len_ok * 0.2, 6)
         AS quality_score
FROM base
"""


def lang_id(documents: DataFrame) -> DataFrame:
    """Heuristic language ID: argmax over per-language stopword hit counts,
    alphabetical-language tiebreak, 'und' (undetermined) when no list hits.
    On real corpora the lists would be longer n-gram tables; the operator
    shape (score columns → greatest → first-match case) is the same."""
    ws = _words()
    scored = documents.select(
        "doc_id",
        "lang",
        *[
            _stop_hits(ws, stops).alias(f"s_{lang}")
            for lang, stops in sorted(LANG_STOPWORDS.items())
        ],
    )
    best = F.greatest(*[F.col(f"s_{lang}") for lang in sorted(LANG_STOPWORDS)])
    pred = F.when(best <= 0, F.lit("und"))
    for lang in sorted(LANG_STOPWORDS):
        pred = pred.when(F.col(f"s_{lang}") == best, F.lit(lang))
    return scored.select(
        "doc_id", F.col("lang").alias("labeled_lang"), pred.alias("predicted_lang")
    )


def _lang_id_sql() -> str:
    score_cols = ",\n".join(
        f"len(list_filter(string_split(text, ' '), w -> w IN "
        f"({', '.join(repr(s) for s in stops)}))) AS s_{lang}"
        for lang, stops in sorted(LANG_STOPWORDS.items())
    )
    langs = sorted(LANG_STOPWORDS)
    best = f"greatest({', '.join('s_' + lang for lang in langs)})"
    cases = " ".join(
        f"WHEN s_{lang} = {best} THEN '{lang}'" for lang in langs
    )
    return f"""
WITH scored AS (SELECT doc_id, lang, {score_cols} FROM documents)
SELECT doc_id, lang AS labeled_lang,
       CASE WHEN {best} <= 0 THEN 'und' {cases} END AS predicted_lang
FROM scored
"""


LANG_ID_SQL = _lang_id_sql()


def fingerprints(documents: DataFrame) -> DataFrame:
    """Content fingerprint: md5 of whitespace-normalized lowercase text —
    the cheap canonical-form dedup key (engine-portable)."""
    norm = F.regexp_replace(F.lower(F.trim(F.col("text"))), " +", " ")
    return documents.select(
        "doc_id", F.md5(norm).alias("fingerprint")
    )


FINGERPRINTS_SQL = """
SELECT doc_id,
       md5(regexp_replace(lower(trim(text)), ' +', ' ', 'g')) AS fingerprint
FROM documents
"""


def token_count_bpe(documents: DataFrame) -> DataFrame:
    """Token counting with a BPE-ish regex (word pieces + digits + other
    glyphs), the usual pre-tokenizer approximation for LLM budget counts."""
    # keep the pattern RE2-compatible so the DuckDB twin behaves identically
    pattern = "[a-zA-Z]+|[0-9]|[^a-zA-Z0-9 ]"
    toks = F.expr(f"regexp_extract_all(text, '{pattern}', 0)")
    return documents.select(
        "doc_id",
        F.size(toks).alias("n_bpe_tokens"),
        F.size(F.array_distinct(toks)).alias("n_distinct_bpe_tokens"),
    )


TOKEN_COUNT_BPE_SQL = """
SELECT doc_id,
       len(regexp_extract_all(text, '[a-zA-Z]+|[0-9]|[^a-zA-Z0-9 ]')) AS n_bpe_tokens,
       len(list_distinct(regexp_extract_all(text, '[a-zA-Z]+|[0-9]|[^a-zA-Z0-9 ]')))
         AS n_distinct_bpe_tokens
FROM documents
"""


def tfidf_top_terms(documents: DataFrame, k: int = 5) -> DataFrame:
    """Top-k characteristic terms per document by TF-IDF — the classic
    corpus-relevance primitive (keyword extraction, quality filtering,
    topic drift monitoring) a training-data pipeline runs at corpus scale.

    Plan: explode → two hash aggregations (term frequency per doc,
    document frequency per term; both with map-side partial combine) →
    equi-join on term → per-doc top-k window. The DF table is orders of
    magnitude smaller than the corpus (vocabulary-sized), so AQE
    broadcasts the join at real scale.

    Determinism/parity: rank orders by (tf DESC, df ASC, term ASC) —
    integer and binary-string keys only. The float score
    ``tf·ln(N/df)`` is display-rounded and never drives ordering, so a
    last-ulp ``ln`` divergence between engines cannot reorder results.
    """
    n_docs = documents.count()  # one column-pruned count job, driver scalar
    words = documents.select(
        "doc_id", F.explode(F.split(F.col("text"), " ")).alias("term")
    )
    tf = words.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    df = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    w = Window.partitionBy("doc_id").orderBy(
        F.desc("tf"), F.asc("df"), F.asc("term")
    )
    return (
        tf.join(df, "term")
        .withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= k)
        .select(
            "doc_id",
            "term",
            "tf",
            "df",
            F.round(
                F.col("tf") * F.log(F.lit(float(n_docs)) / F.col("df")), 4
            ).alias("tfidf"),
            "rk",
        )
    )


def tfidf_top_terms_sql(k: int = 5) -> str:
    return f"""
WITH words AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents),
tf AS (SELECT doc_id, term, count(*) AS tf FROM words GROUP BY doc_id, term),
df AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
n AS (SELECT count(*)::DOUBLE AS n FROM documents),
ranked AS (
  SELECT tf.doc_id, tf.term, tf.tf, df.df,
         row_number() OVER (PARTITION BY tf.doc_id
                            ORDER BY tf.tf DESC, df.df ASC, tf.term ASC) AS rk
  FROM tf JOIN df USING (term))
SELECT doc_id, term, tf, df,
       round(tf * ln((SELECT n FROM n) / df), 4) AS tfidf, rk
FROM ranked WHERE rk <= {k}
"""


def repetition_stats(documents: DataFrame) -> DataFrame:
    """Gopher-style per-doc repetition metrics (Rae et al. 2021, public):
    top-token fraction, top-bigram fraction, duplicate-trigram fraction —
    the standard signals a corpus-quality filter thresholds to drop
    boilerplate and degenerate generations.

    Shape: three explode→groupBy(doc_id, gram)→max/sum aggregations joined
    back on doc_id. Deliberately NOT a per-row higher-order-function mode
    computation (O(n·distinct) per doc — quadratic on long docs): the
    explode shape is linear in corpus token count, map-side-combined, and
    every join is on the same doc_id key the aggregations just hash-
    partitioned by, so Catalyst reuses the exchange. n-gram arrays are
    built with ``transform(sequence(...))`` over the token array —
    codegen, no Python.
    """
    ws = _words()
    base = documents.select(
        "doc_id", ws.alias("ws"), F.size(ws).alias("n_tokens")
    )
    bigrams = F.when(
        F.col("n_tokens") >= 2,
        F.expr("transform(sequence(1, n_tokens - 1), i -> concat_ws(' ', ws[i-1], ws[i]))"),
    ).otherwise(F.expr("array()").cast("array<string>"))
    trigrams = F.when(
        F.col("n_tokens") >= 3,
        F.expr(
            "transform(sequence(1, n_tokens - 2), i -> concat_ws(' ', ws[i-1], ws[i], ws[i+1]))"
        ),
    ).otherwise(F.expr("array()").cast("array<string>"))

    def top_count(col):
        return (
            base.select("doc_id", F.explode(col).alias("g"))
            .groupBy("doc_id", "g")
            .count()
            .groupBy("doc_id")
            .agg(F.max("count"))
        )

    top_tok = top_count(F.col("ws")).withColumnRenamed("max(count)", "max_tok")
    top_big = top_count(bigrams).withColumnRenamed("max(count)", "max_big")
    tri = (
        base.select("doc_id", F.explode(trigrams).alias("g"))
        .groupBy("doc_id", "g")
        .count()
        .groupBy("doc_id")
        .agg(
            F.sum(F.when(F.col("count") > 1, F.col("count")).otherwise(0)).alias("dup"),
            F.sum("count").alias("tot"),
        )
    )
    return (
        base.select("doc_id", "n_tokens")
        .join(top_tok, "doc_id", "left")
        .join(top_big, "doc_id", "left")
        .join(tri, "doc_id", "left")
        .select(
            "doc_id",
            "n_tokens",
            F.round(F.coalesce(F.col("max_tok"), F.lit(0)) / F.col("n_tokens"), 6)
            .alias("top_token_frac"),
            F.round(
                F.coalesce(F.col("max_big"), F.lit(0))
                / F.greatest(F.col("n_tokens") - 1, F.lit(1)),
                6,
            ).alias("top_bigram_frac"),
            F.round(
                F.coalesce(F.col("dup"), F.lit(0))
                / F.coalesce(F.col("tot"), F.lit(1)),
                6,
            ).alias("dup_trigram_frac"),
        )
    )


REPETITION_STATS_SQL = """
WITH base AS (
  SELECT doc_id, string_split(text, ' ') AS ws,
         len(string_split(text, ' ')) AS n
  FROM documents),
tok AS (
  SELECT doc_id, max(c) AS max_tok FROM (
    SELECT doc_id, w, count(*) AS c
    FROM (SELECT doc_id, unnest(ws) AS w FROM base) GROUP BY doc_id, w)
  GROUP BY doc_id),
big AS (
  SELECT doc_id, max(c) AS max_big FROM (
    SELECT doc_id, g, count(*) AS c
    FROM (SELECT doc_id,
                 unnest(CASE WHEN n >= 2
                        THEN list_transform(range(1, n), i -> ws[i] || ' ' || ws[i+1])
                        ELSE []::VARCHAR[] END) AS g
          FROM base) GROUP BY doc_id, g)
  GROUP BY doc_id),
tri AS (
  SELECT doc_id,
         sum(CASE WHEN c > 1 THEN c ELSE 0 END) AS dup,
         sum(c) AS tot
  FROM (
    SELECT doc_id, g, count(*) AS c
    FROM (SELECT doc_id,
                 unnest(CASE WHEN n >= 3
                        THEN list_transform(range(1, n - 1),
                                            i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2])
                        ELSE []::VARCHAR[] END) AS g
          FROM base) GROUP BY doc_id, g)
  GROUP BY doc_id)
SELECT b.doc_id, b.n AS n_tokens,
       round(coalesce(tok.max_tok, 0)::DOUBLE / b.n, 6) AS top_token_frac,
       round(coalesce(big.max_big, 0)::DOUBLE / greatest(b.n - 1, 1), 6)
         AS top_bigram_frac,
       round(coalesce(tri.dup, 0)::DOUBLE / coalesce(tri.tot, 1), 6)
         AS dup_trigram_frac
FROM base b
LEFT JOIN tok USING (doc_id)
LEFT JOIN big USING (doc_id)
LEFT JOIN tri USING (doc_id)
"""


# Curation thresholds: all comparisons are on the ROUNDED per-doc metrics
# both engines already hash-match on, so the keep decision is
# engine-portable by construction.
CURATION_MIN_QUALITY = 0.45
CURATION_MAX_TOP_TOKEN = 0.12
CURATION_MAX_DUP_TRIGRAM = 0.1
CURATION_MIN_TOKENS = 25


def curation_funnel(documents: DataFrame) -> DataFrame:
    """(predicted_lang, kept, n_docs, sum_tokens) — the end-to-end corpus
    curation decision: language ID × quality score × repetition filters ×
    length floor, aggregated to the funnel report a pipeline operator
    reads before committing a training mix.

    Pure composition of the oracle-checked per-doc tables (``lang_id``,
    ``quality_scores``, ``repetition_stats``): three equi-joins on
    doc_id, all co-partitioned (each side was just hash-aggregated or
    projected by the same key), then one grouped count/sum. At 100 TB
    every input is a per-doc projection/aggregation of the same scan —
    Catalyst collapses the shared ``documents`` scan, and the funnel adds
    one small shuffle on (predicted_lang, kept).
    """
    metrics = (
        lang_id(documents)
        .select("doc_id", "predicted_lang")
        .join(quality_scores(documents).select("doc_id", "quality_score"), "doc_id")
        .join(
            repetition_stats(documents).select(
                "doc_id", "n_tokens", "top_token_frac", "dup_trigram_frac"
            ),
            "doc_id",
        )
    )
    kept = (
        (F.col("quality_score") >= CURATION_MIN_QUALITY)
        & (F.col("top_token_frac") <= CURATION_MAX_TOP_TOKEN)
        & (F.col("dup_trigram_frac") <= CURATION_MAX_DUP_TRIGRAM)
        & (F.col("n_tokens") >= CURATION_MIN_TOKENS)
    )
    return (
        metrics.select("predicted_lang", kept.alias("kept"), "n_tokens")
        .groupBy("predicted_lang", "kept")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").alias("sum_tokens"),
        )
    )


def curation_funnel_sql() -> str:
    """Oracle: the same funnel over the same per-doc CTE bodies."""
    return f"""
WITH lang AS ({LANG_ID_SQL}),
q AS ({QUALITY_SCORES_SQL}),
r AS ({REPETITION_STATS_SQL})
SELECT lang.predicted_lang,
       (q.quality_score >= {CURATION_MIN_QUALITY!r}
        AND r.top_token_frac <= {CURATION_MAX_TOP_TOKEN!r}
        AND r.dup_trigram_frac <= {CURATION_MAX_DUP_TRIGRAM!r}
        AND r.n_tokens >= {CURATION_MIN_TOKENS}) AS kept,
       count(*) AS n_docs,
       CAST(sum(r.n_tokens) AS BIGINT) AS sum_tokens
FROM lang
JOIN q USING (doc_id)
JOIN r USING (doc_id)
GROUP BY 1, 2
"""


# PII patterns restricted to syntax that Java regex (Spark) and RE2
# (DuckDB) interpret identically: character classes, bounded/unbounded
# repetition, alternation-free. No backreferences, no lookaround.
PII_EMAIL = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
PII_URL = r"https?://[^ ]+"
PII_PHONE = r"\+[0-9][0-9-]{7,}[0-9]"
_PII_ORDER = (  # URL first: an address inside a URL must scrub as URL
    ("n_urls", PII_URL, "<URL>"),
    ("n_emails", PII_EMAIL, "<EMAIL>"),
    ("n_phones", PII_PHONE, "<PHONE>"),
)


def pii_scrub(documents: DataFrame, text_col: str = "text") -> DataFrame:
    """(doc_id, n_urls, n_emails, n_phones, clean_hash) — regex PII
    redaction, the pass every public training corpus runs before release.

    Counts then replaces URLs → emails → phones (fixed order: an email
    inside a URL authority must count once, as a URL). Everything is
    ``regexp_count``/``regexp_replace`` inside whole-stage codegen — a
    pure per-row projection, zero shuffle at any scale. The scrubbed text
    itself stays distributed; only its md5 leaves the executor, so the
    registry query's driver transfer is O(rows), not O(corpus bytes).
    """
    cur = F.col(text_col)
    counts = []
    for alias, pat, token in _PII_ORDER:
        counts.append(F.regexp_count(cur, F.lit(pat)).alias(alias))
        cur = F.regexp_replace(cur, pat, token)
    return documents.select(
        "doc_id", *counts, F.md5(cur).alias("clean_hash")
    )


def pii_scrub_sql(text_expr: str = "text") -> str:
    """DuckDB oracle: same patterns, same order, global-flag replaces."""
    cur = text_expr
    cols = []
    for alias, pat, token in _PII_ORDER:
        cols.append(f"len(regexp_extract_all({cur}, '{pat}')) AS {alias}")
        cur = f"regexp_replace({cur}, '{pat}', '{token}', 'g')"
    cols_sql = ",\n       ".join(cols)
    return f"""
SELECT doc_id,
       {cols_sql},
       md5({cur}) AS clean_hash
FROM documents
"""


def doctor_pii(documents: DataFrame) -> DataFrame:
    """Deterministically embed synthetic PII into the fixture text (the
    corpus itself is PII-free, which would make the scrub a no-op): every
    3rd doc gains an email, every 5th a URL, every 7th a phone number.
    The DuckDB twin is ``DOCTOR_PII_SQL_EXPR``. Non-text columns pass
    through so downstream audits can group by them."""
    did = F.col("doc_id")
    text = F.concat(
        F.col("text"),
        F.when(
            did % 3 == 0,
            F.concat(F.lit(" mail user"), did.cast("string"), F.lit("@example.com")),
        ).otherwise(F.lit("")),
        F.when(
            did % 5 == 0,
            F.concat(F.lit(" see https://site"), did.cast("string"), F.lit(".example/p")),
        ).otherwise(F.lit("")),
        F.when(
            did % 7 == 0,
            F.concat(F.lit(" call +1555"), F.lpad(did.cast("string"), 7, "0")),
        ).otherwise(F.lit("")),
    )
    rest = [c for c in documents.columns if c not in ("doc_id", "text")]
    return documents.select("doc_id", text.alias("text"), *rest)


DOCTOR_PII_SQL_EXPR = (
    "text"
    " || CASE WHEN doc_id % 3 = 0"
    " THEN ' mail user' || doc_id::VARCHAR || '@example.com' ELSE '' END"
    " || CASE WHEN doc_id % 5 = 0"
    " THEN ' see https://site' || doc_id::VARCHAR || '.example/p' ELSE '' END"
    " || CASE WHEN doc_id % 7 = 0"
    " THEN ' call +1555' || lpad(doc_id::VARCHAR, 7, '0') ELSE '' END"
)


def pii_release_audit(documents: DataFrame, text_col: str = "text") -> DataFrame:
    """(source, n_docs, n_docs_with_pii, n_masks, scrubbed_fingerprint) —
    the O(sources) release gate a petabyte scrub reports.

    ``pii_scrub`` emits one row per document (O(rows) driver transfer if
    collected); a 100 TB release wants one row per SOURCE: how many docs
    were touched, how many masks were applied, and an order-independent
    ``bit_xor`` fold of the scrubbed texts' salted 60-bit hashes — the
    same commutative-fingerprint construction as the reconciliation
    checksums (operators/reconcile.py), so a bit-identical fingerprint
    between two runs (or two engines — the DuckDB oracle recomputes it)
    certifies a bit-identical released corpus with O(1) network. Same
    patterns, same scrub order as ``pii_scrub``; pure codegen projection
    then one map-side-combined aggregation."""
    from ..functions.hashing import md5_hash64

    cur = F.col(text_col)
    n_masks = F.lit(0)
    for _alias, pat, token in _PII_ORDER:
        n_masks = n_masks + F.regexp_count(cur, F.lit(pat))
        cur = F.regexp_replace(cur, pat, token)
    per_doc = documents.select(
        "source",
        n_masks.cast("bigint").alias("__m"),
        md5_hash64(cur).alias("__h"),
    )
    return per_doc.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.when(F.col("__m") > 0, 1).otherwise(0))
        .cast("bigint")
        .alias("n_docs_with_pii"),
        F.sum("__m").alias("n_masks"),
        F.expr("bit_xor(__h)").alias("scrubbed_fingerprint"),
    )


def pii_release_audit_sql(text_expr: str = "text") -> str:
    from ..functions.hashing import md5_hash64_sql

    cur = text_expr
    counts = []
    for _alias, pat, token in _PII_ORDER:
        counts.append(f"len(regexp_extract_all({cur}, '{pat}'))")
        cur = f"regexp_replace({cur}, '{pat}', '{token}', 'g')"
    n_masks = " + ".join(counts)
    h = md5_hash64_sql(cur)
    return f"""
WITH per_doc AS (
  SELECT source,
         CAST({n_masks} AS BIGINT) AS m,
         {h} AS h
  FROM documents
)
SELECT source,
       count(*) AS n_docs,
       CAST(sum(CASE WHEN m > 0 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_docs_with_pii,
       CAST(sum(m) AS BIGINT) AS n_masks,
       bit_xor(h) AS scrubbed_fingerprint
FROM per_doc
GROUP BY source
"""


def token_length_histogram(documents: DataFrame) -> DataFrame:
    """(bucket, n_docs, sum_tokens) — corpus length distribution in log2
    token buckets (bucket b holds docs with 2^b ≤ n_tokens < 2^(b+1);
    empty docs land in bucket -1). The first report any corpus curation
    run prints: one map-side-combined aggregation, O(buckets) output.

    Integer-only math (floor(log2(n)) computed via BIGINT bit length), so
    engine parity has no fp hazard.

    Empty tokens are filtered from the split (split('', ' ') is [''] —
    size 1 — on both engines; without the filter an empty doc would count
    one token and the -1 bucket would be unreachable).
    """
    n_tokens = F.size(F.filter(F.split(F.col("text"), " "), lambda x: x != ""))
    # floor(log2(n)) for n >= 1 == bit_length(n) - 1; Spark has no
    # bit_length-of-int, but bit(63 - leading zeros) via log is fp-risky,
    # so use string length of the binary representation (exact).
    bucket = F.when(
        n_tokens <= 0, F.lit(-1)
    ).otherwise(F.length(F.conv(n_tokens.cast("string"), 10, 2)) - 1)
    return (
        documents.select(bucket.cast("int").alias("bucket"), n_tokens.alias("nt"))
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("nt").cast("bigint").alias("sum_tokens"),
        )
    )


TOKEN_LENGTH_HISTOGRAM_SQL = """
WITH t AS (
  SELECT len(list_filter(string_split(text, ' '), x -> x <> '')) AS nt
  FROM documents)
SELECT CAST(CASE WHEN nt <= 0 THEN -1
            ELSE length(bin(CAST(nt AS BIGINT))) - 1 END AS INTEGER) AS bucket,
       count(*) AS n_docs,
       CAST(sum(nt) AS BIGINT) AS sum_tokens
FROM t GROUP BY 1
"""


# In-document repeated-n-gram removal: drop every token whose ending
# n-gram already occurred earlier in the same document. Intra-doc
# repetition (boilerplate headers, degenerate generation loops) survives
# document-level dedup — this is the per-document trim that catches it.
TRIM_NGRAM_N = 3


def trim_repeated_ngrams(documents: DataFrame, n: int = TRIM_NGRAM_N) -> DataFrame:
    """(doc_id, n_tokens, n_kept, clean_text) — remove in-document
    repetition: token at position p is dropped iff the n-gram ending at p
    (tokens p-n+1..p) already occurred earlier in the SAME document; the
    first n-1 tokens are always kept. Deterministic single rule, no RNG.

    Whole pipeline is JVM codegen + windows, no Python row path: grams
    are built with ``lag`` over the per-doc position window (tokens
    contain no spaces, so k-token grams have exactly k-1 separators and
    grams of different arity can never collide as strings); "occurred
    earlier" is ``row_number = 1`` over (doc_id, gram); the cleaned text
    reassembles kept tokens with an order-stable
    ``array_sort(collect_list(struct(pos, tok)))``.

    Scale: rows explode ×(tokens/doc); every window and the final
    aggregation partition by doc-grain keys (doc_id or (doc_id, gram)) —
    per-document data parallelism, no global window, state per partition
    bounded by the longest document.
    """
    toks = documents.select(
        "doc_id",
        F.posexplode(
            F.filter(F.split(F.col("text"), " "), lambda x: x != "")
        ).alias("pos", "tok"),
    )
    wdoc = Window.partitionBy("doc_id").orderBy("pos")
    gram = F.concat_ws(
        " ", *[F.lag("tok", i).over(wdoc) for i in range(n - 1, 0, -1)], F.col("tok")
    )
    g = toks.withColumn("gram", gram)
    first = Window.partitionBy("doc_id", "gram").orderBy("pos")
    keep = (F.col("pos") < n - 1) | (F.row_number().over(first) == 1)
    flagged = g.withColumn("keep", keep)
    return flagged.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_tokens"),
        F.sum(F.col("keep").cast("int")).alias("n_kept"),
        F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(
                        F.when(F.col("keep"), F.struct("pos", "tok"))
                    )
                ),
                lambda s: s.tok,
            ),
            " ",
        ).alias("clean_text"),
    )


def trim_repeated_ngrams_sql(n: int = TRIM_NGRAM_N) -> str:
    """DuckDB oracle: identical lag-built grams, first-occurrence rule,
    and order-stable reassembly."""
    lags = ", ".join(
        f"lag(tok, {i}) OVER (PARTITION BY doc_id ORDER BY pos)"
        for i in range(n - 1, 0, -1)
    )
    return f"""
WITH arrs AS (
  SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS ws
  FROM documents),
toks AS (
  SELECT doc_id, unnest(ws) AS tok,
         unnest(range(0, len(ws))) AS pos
  FROM arrs),
grams AS (
  SELECT doc_id, pos, tok,
         concat_ws(' ', {lags}, tok) AS gram
  FROM toks),
flagged AS (
  SELECT doc_id, pos, tok,
         (pos < {n - 1} OR
          row_number() OVER (PARTITION BY doc_id, gram ORDER BY pos) = 1)
           AS keep
  FROM grams)
SELECT doc_id,
       count(*) AS n_tokens,
       CAST(sum(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
       string_agg(CASE WHEN keep THEN tok END, ' ' ORDER BY pos) AS clean_text
FROM flagged GROUP BY doc_id
"""


# Fixed-window sequence chunking: split each document into consecutive
# W-token chunks — the precursor to context-window packing in a training
# pipeline (trim → chunk → shard).
CHUNK_TOKENS = 64


def chunk_documents(documents: DataFrame, w: int = CHUNK_TOKENS) -> DataFrame:
    """(doc_id, chunk_id, n_tokens, chunk_text) — consecutive ``w``-token
    chunks of each document, in order; the last chunk keeps the
    remainder. Pure codegen: build the chunk array with
    ``transform(sequence(...), slice(...))`` and ``posexplode`` it — a
    map-side projection, no shuffle, no Python row path. Empty documents
    yield no chunks (both engines).
    """
    ws = F.filter(F.split(F.col("text"), " "), lambda x: x != "")
    n = F.size(ws)
    n_chunks = F.ceil(n / F.lit(w)).cast("int")
    chunks = F.transform(
        F.sequence(F.lit(0), n_chunks - 1),
        lambda i: F.array_join(F.slice(ws, i * w + 1, w), " "),
    )
    return (
        documents.filter(n > 0)
        .select("doc_id", F.posexplode(chunks).alias("chunk_id", "chunk_text"))
        .withColumn(
            "n_tokens",
            F.size(F.filter(F.split(F.col("chunk_text"), " "), lambda x: x != "")),
        )
        .select("doc_id", "chunk_id", "n_tokens", "chunk_text")
    )


def chunk_documents_sql(w: int = CHUNK_TOKENS) -> str:
    """DuckDB oracle: identical slicing (1-based list slices both ends
    inclusive in DuckDB — the window is [i*w+1, i*w+w])."""
    return f"""
WITH arrs AS (
  SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS ws
  FROM documents),
idx AS (
  SELECT doc_id, ws,
         unnest(range(0, CAST(ceil(len(ws) / {w}.0) AS INTEGER))) AS chunk_id
  FROM arrs WHERE len(ws) > 0)
SELECT doc_id, CAST(chunk_id AS INTEGER) AS chunk_id,
       len(ws[chunk_id * {w} + 1 : chunk_id * {w} + {w}]) AS n_tokens,
       array_to_string(ws[chunk_id * {w} + 1 : chunk_id * {w} + {w}], ' ')
         AS chunk_text
FROM idx
"""


# Corpus profile: the schema-audit every ingest gate runs before a table
# is admitted into a pipeline.
PROFILE_COLS = ("doc_id", "text", "lang", "source", "n_chars")


def documents_profile(documents: DataFrame) -> DataFrame:
    """(column, n_nulls, n_distinct, min_value, max_value) — one row per
    profiled column, computed in a SINGLE aggregation pass over the table
    (all per-column aggregates in one ``agg``; the 1-row wide result is
    then reshaped row-per-column — O(columns) rows, O(1) driver cost).

    min/max are taken over the STRING cast (lexicographic) so one
    operator signature covers every column type; both engines apply the
    same cast-then-min, keeping parity exact. ``n_distinct`` is the exact
    distinct count — at 100 TB swap in ``approx_count_distinct`` (the
    documented trade; the oracle pins the exact variant).
    """
    aggs = []
    for c in PROFILE_COLS:
        s = F.col(c).cast("string")
        aggs += [
            F.sum(F.col(c).isNull().cast("int")).cast("bigint").alias(f"{c}__n"),
            F.countDistinct(c).alias(f"{c}__d"),
            F.min(s).alias(f"{c}__lo"),
            F.max(s).alias(f"{c}__hi"),
        ]
    wide = documents.agg(*aggs)
    parts = [
        wide.select(
            F.lit(c).alias("column"),
            F.col(f"{c}__n").alias("n_nulls"),
            F.col(f"{c}__d").alias("n_distinct"),
            F.col(f"{c}__lo").alias("min_value"),
            F.col(f"{c}__hi").alias("max_value"),
        )
        for c in PROFILE_COLS
    ]
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def documents_profile_sql() -> str:
    """DuckDB oracle: identical cast-then-aggregate per column."""
    selects = [
        f"""SELECT '{c}' AS "column",
       CAST(sum(CASE WHEN {c} IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_nulls,
       count(DISTINCT {c}) AS n_distinct,
       min(CAST({c} AS VARCHAR)) AS min_value,
       max(CAST({c} AS VARCHAR)) AS max_value
FROM documents"""
        for c in PROFILE_COLS
    ]
    return "\nUNION ALL\n".join(selects)


# ---------------------------------------------------------------------------
# Data-dependent quality gate (order-statistic threshold, no global sort)
# ---------------------------------------------------------------------------

QUALITY_GATE_Q = 0.25  # drop (at most) the bottom quartile


def quality_percentile_gate(
    documents: DataFrame, q: float = QUALITY_GATE_Q
) -> DataFrame:
    """(doc_id, quality_score, threshold, kept): gate each document on a
    DATA-DEPENDENT quality threshold — the k-th smallest corpus score,
    k = floor(q·N) — instead of a fixed cutoff (fixed cutoffs go stale as
    the corpus mix shifts; production filters are usually specified as
    "drop the bottom q", e.g. the quality-classifier percentile filters
    in CCNet/LLaMA data work).

    The contract is EXACT integer/value semantics, no interpolated
    percentile (two engines interpolating doubles can disagree in the
    last ulp exactly at the gate boundary): threshold t = the smallest
    score whose cumulative count reaches max(k, 1), and a doc is kept iff
    its (6-decimal-rounded) score ≥ t. k = 0 degenerates to t = min score
    — everything kept.

    100 TB shape — no global sort of the corpus: scores collapse to a
    (score, count) histogram (map-side combined; ≤ 10⁶+1 rows by the
    6-decimal domain), the running-count scan + threshold pick run on
    that tiny table (single-task window, bounded by the score domain, not
    the corpus), and the one-row threshold broadcast-joins back. The
    corpus itself is touched by exactly one aggregation and one
    broadcast-joined projection.
    """
    # the two one-row sides (total count, threshold) attach via broadcast
    # cross joins — the scalar-subquery shape; Catalyst constant-folds
    # any synthetic equi-key away, so this IS the canonical plan, and the
    # plan lint allowlists it with the other tiny-generated-side queries
    scores = quality_scores(documents).select("doc_id", "quality_score")
    hist = scores.groupBy("quality_score").agg(
        F.count(F.lit(1)).alias("c")
    )
    tot = hist.agg(F.sum("c").alias("n"))
    cum = (
        hist.crossJoin(F.broadcast(tot))
        .withColumn(
            "cum",
            F.sum("c").over(
                bounded_window("quality_score").rowsBetween(
                    Window.unboundedPreceding, 0
                )
            ),
        )
        .withColumn(
            "k", F.greatest(F.floor(F.lit(q) * F.col("n")), F.lit(1))
        )
    )
    thr = cum.filter(F.col("cum") >= F.col("k")).agg(
        F.min("quality_score").alias("threshold")
    )
    return scores.crossJoin(F.broadcast(thr)).select(
        "doc_id",
        "quality_score",
        "threshold",
        (F.col("quality_score") >= F.col("threshold")).alias("kept"),
    )


def quality_percentile_gate_sql(q: float = QUALITY_GATE_Q) -> str:
    """Oracle: identical histogram → running count → threshold → gate."""
    return f"""
WITH scores AS (
  SELECT doc_id, quality_score FROM ({QUALITY_SCORES_SQL})),
hist AS (SELECT quality_score, count(*) AS c FROM scores
         GROUP BY quality_score),
cum AS (SELECT quality_score,
               sum(c) OVER (ORDER BY quality_score) AS cum,
               greatest(CAST(floor({q!r} * (SELECT sum(c) FROM hist))
                             AS BIGINT), 1) AS k
        FROM hist),
thr AS (SELECT min(quality_score) AS threshold FROM cum WHERE cum >= k)
SELECT s.doc_id, s.quality_score, t.threshold,
       s.quality_score >= t.threshold AS kept
FROM scores s CROSS JOIN thr t
"""


# ---------------------------------------------------------------------------
# Unigram surprise (corpus-self cross-entropy quality signal)
# ---------------------------------------------------------------------------

def unigram_surprise_scores(documents: DataFrame) -> DataFrame:
    """(doc_id, n_tokens, avg_neg_logprob): per-document cross-entropy
    under the corpus's OWN unigram distribution — the CCNet-style
    LM-perplexity quality signal with the external LM replaced by the
    corpus unigram model (CCNet, Wenzek et al. 2020, scores documents by
    LM perplexity and filters on its distribution; the unigram self-model
    is the zeroth-order version with no external artifact). Boilerplate
    made of globally-common words scores LOW; rare-token noise scores
    HIGH; both tails are filter candidates.

    Cross-engine determinism: avg(-ln(count/total)) is computed as
    ln(total) − avg(ln(count)) in BOTH engines — identical operations on
    identical integers, with the one scalar (total) attached at the END
    on the small per-doc aggregate. Word strings never shuffle: token
    occurrences travel as 8-byte portable hashes, the frequency join is
    keyed on the hash, and the final one-row total rides a broadcast
    (the scalar-subquery shape the plan lint allowlists).
    """
    from ..functions.hashing import md5_hash64

    h = documents.select(
        "doc_id", F.explode(F.split(F.col("text"), " ")).alias("word")
    ).select("doc_id", md5_hash64(F.col("word")).alias("wh"))
    freq = h.groupBy("wh").agg(F.count(F.lit(1)).alias("c"))
    tot = freq.agg(F.sum("c").alias("n"))
    per = (
        h.join(freq, "wh")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.avg(F.log("c")).alias("__avg_ln_c"),
        )
    )
    return per.crossJoin(F.broadcast(tot)).select(
        "doc_id",
        F.col("n_tokens").cast("bigint").alias("n_tokens"),
        F.round(F.log("n") - F.col("__avg_ln_c"), 6).alias(
            "avg_neg_logprob"
        ),
    )


def unigram_surprise_scores_sql() -> str:
    """Oracle: identical hash domain, identical ln(total) − avg(ln(c))
    arithmetic."""
    from ..functions.hashing import md5_hash64_sql

    wh = md5_hash64_sql("word")
    return f"""
WITH w AS (SELECT doc_id, unnest(string_split(text, ' ')) AS word
           FROM documents),
h AS (SELECT doc_id, {wh} AS wh FROM w),
freq AS (SELECT wh, count(*) AS c FROM h GROUP BY wh),
tot AS (SELECT sum(c) AS n FROM freq),
per AS (SELECT doc_id, count(*) AS n_tokens, avg(ln(c)) AS avg_ln_c
        FROM h JOIN freq USING (wh) GROUP BY doc_id)
SELECT doc_id,
       CAST(n_tokens AS BIGINT) AS n_tokens,
       round(ln((SELECT n FROM tot)) - avg_ln_c, 6) AS avg_neg_logprob
FROM per
"""


# ---------------------------------------------------------------------------
# Curriculum tiers (multi-quantile quality binning)
# ---------------------------------------------------------------------------

CURRICULUM_QS = (0.25, 0.5, 0.75)


def curriculum_tiers(
    documents: DataFrame, qs: tuple[float, ...] = CURRICULUM_QS
) -> DataFrame:
    """(doc_id, quality_score, tier) — bin every document into quality
    QUARTILE tiers (0 = bottom .. len(qs) = top) by EXACT corpus order
    statistics: tier = how many of the q-quantile thresholds the doc's
    score meets. The data-scheduling primitive behind quality-ordered
    curricula (feed tier-3 late in training, mix tiers by schedule) —
    the multi-cut generalization of ``quality_percentile_gate``, with
    the same no-interpolation contract so two engines can't disagree in
    the last ulp at any cut.

    One histogram pass serves ALL cuts: the (score, count) table gets a
    single running-count scan, and every threshold is a conditional-min
    over that one tiny table (min score whose cumulative count reaches
    k_i = max(⌊q_i·N⌋, 1)) folded into ONE row, which broadcasts back.
    The corpus is touched by exactly one aggregation and one projection
    — adding cuts costs nothing but another column on the one-row side.
    """
    scores = quality_scores(documents).select("doc_id", "quality_score")
    hist = scores.groupBy("quality_score").agg(F.count(F.lit(1)).alias("c"))
    tot = hist.agg(F.sum("c").alias("n"))
    cum = (
        hist.crossJoin(F.broadcast(tot)).withColumn(
            "cum",
            F.sum("c").over(
                bounded_window("quality_score").rowsBetween(
                    Window.unboundedPreceding, 0
                )
            ),
        )
    )
    thr = cum.agg(
        *[
            F.min(
                F.when(
                    F.col("cum")
                    >= F.greatest(
                        F.floor(F.lit(q) * F.col("n")), F.lit(1)
                    ),
                    F.col("quality_score"),
                )
            ).alias(f"t{i}")
            for i, q in enumerate(qs)
        ]
    )
    tier = None
    for i in range(len(qs)):
        leg = (F.col("quality_score") >= F.col(f"t{i}")).cast("int")
        tier = leg if tier is None else tier + leg
    return scores.crossJoin(F.broadcast(thr)).select(
        "doc_id", "quality_score", tier.cast("int").alias("tier")
    )


def curriculum_tiers_sql(qs: tuple[float, ...] = CURRICULUM_QS) -> str:
    """Oracle: identical histogram → running count → conditional-min
    thresholds → per-doc tier sum."""
    thr_cols = ",\n  ".join(
        f"min(CASE WHEN cum >= greatest(CAST(floor({q!r} * n) AS BIGINT), 1)"
        f" THEN quality_score END) AS t{i}"
        for i, q in enumerate(qs)
    )
    tier_sum = " + ".join(
        f"(CASE WHEN s.quality_score >= t.t{i} THEN 1 ELSE 0 END)"
        for i in range(len(qs))
    )
    return f"""
WITH scores AS (
  SELECT doc_id, quality_score FROM ({QUALITY_SCORES_SQL})),
hist AS (SELECT quality_score, count(*) AS c FROM scores
         GROUP BY quality_score),
cum AS (SELECT quality_score,
               sum(c) OVER (ORDER BY quality_score) AS cum,
               (SELECT sum(c) FROM hist) AS n
        FROM hist),
thr AS (SELECT
  {thr_cols}
 FROM cum)
SELECT s.doc_id, s.quality_score,
       CAST({tier_sum} AS INTEGER) AS tier
FROM scores s CROSS JOIN thr t
"""


# ---------------------------------------------------------------------------
# Bigram surprise (first-order Markov cross-entropy quality signal)
# ---------------------------------------------------------------------------

def bigram_surprise_scores(documents: DataFrame) -> DataFrame:
    """(doc_id, n_bigrams, avg_neg_logprob): per-document cross-entropy
    under the corpus's OWN first-order Markov (bigram) model — the next
    rung of the ``unigram_surprise_scores`` ladder toward CCNet's
    LM-perplexity signal (Wenzek et al. 2020). The conditional
    probability p(w2|w1) = c(w1 w2) / c(w1 ·) uses the count of bigram
    POSITIONS starting with w1 as the denominator, so the model is
    properly normalized (Σ_w2 p(w2|w1) = 1) and −ln p is never
    negative. Unigram surprise flags docs of globally-rare tokens;
    bigram surprise additionally flags WORD-SALAD docs whose individual
    tokens are common but whose transitions never occur elsewhere —
    the shuffled/garbled text a unigram model scores as perfectly
    ordinary.

    Same determinism contract as the unigram twin: word strings never
    shuffle (occurrences travel as 60-bit portable hashes), counts are
    exact integers, −ln p folds as avg(ln(cp) − ln(cb)) of identical
    per-row doubles in both engines, rounded to 6 decimals. Docs with
    fewer than two tokens have no bigrams and drop from the output in
    both engines (inner aggregation over an empty pair set).

    Scale shape: one explode (pairs built from the token array in
    codegen — the array is materialized once per doc, not per bigram),
    two map-side-combined hash aggregations for the count tables, two
    equi-joins keyed on the 8-byte hash, one per-doc aggregate. The
    bigram count table is the corpus's distinct-transition set — the
    same cardinality class as the shingle tables every dedup operator
    already shuffles.
    """
    from ..functions.hashing import md5_hash64

    d = documents.select(
        "doc_id", F.split(F.col("text"), " ").alias("ws")
    ).filter(F.size("ws") >= 2)
    pairs = d.select(
        "doc_id",
        F.explode(
            F.expr(
                "transform(sequence(1, size(ws) - 1), i -> "
                "struct(element_at(ws, i) AS w1, element_at(ws, i + 1) AS w2))"
            )
        ).alias("p"),
    ).select("doc_id", F.col("p.w1").alias("w1"), F.col("p.w2").alias("w2"))
    h = pairs.select(
        "doc_id",
        md5_hash64(F.concat_ws(" ", "w1", "w2")).alias("bh"),
        md5_hash64(F.col("w1")).alias("ph"),
    )
    fb = h.groupBy("bh").agg(F.count(F.lit(1)).alias("cb"))
    fp = h.groupBy("ph").agg(F.count(F.lit(1)).alias("cp"))
    per = (
        h.join(fb, "bh")
        .join(fp, "ph")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            F.avg(F.log("cp") - F.log("cb")).alias("__s"),
        )
    )
    return per.select(
        "doc_id",
        F.col("n_bigrams").cast("bigint").alias("n_bigrams"),
        F.round("__s", 6).alias("avg_neg_logprob"),
    )


def bigram_surprise_scores_sql() -> str:
    """Oracle: identical pair construction (1-indexed token array),
    identical hash domain, identical avg(ln(cp) − ln(cb)) arithmetic."""
    from ..functions.hashing import md5_hash64_sql

    bh = md5_hash64_sql("w1 || ' ' || w2")
    ph = md5_hash64_sql("w1")
    return f"""
WITH d AS (SELECT doc_id, string_split(text, ' ') AS l FROM documents
           WHERE len(string_split(text, ' ')) >= 2),
ix AS (SELECT doc_id, l, unnest(generate_series(1, len(l) - 1)) AS i FROM d),
pr AS (SELECT doc_id, l[i] AS w1, l[i + 1] AS w2 FROM ix),
h AS (SELECT doc_id, {bh} AS bh, {ph} AS ph FROM pr),
fb AS (SELECT bh, count(*) AS cb FROM h GROUP BY bh),
fp AS (SELECT ph, count(*) AS cp FROM h GROUP BY ph),
per AS (SELECT doc_id, count(*) AS n_bigrams,
               avg(ln(cp) - ln(cb)) AS s
        FROM h JOIN fb USING (bh) JOIN fp USING (ph) GROUP BY doc_id)
SELECT doc_id, CAST(n_bigrams AS BIGINT) AS n_bigrams,
       round(s, 6) AS avg_neg_logprob
FROM per
"""


# ---------------------------------------------------------------------------
# Trigram stupid-backoff scoring (held-out LM cross-entropy)
# ---------------------------------------------------------------------------

# Backoff discount 0.4 (Brants et al. 2007, "Large Language Models in
# Machine Translation") expressed as ln(2) - ln(5): ln of exact small
# integers is the only transcendental shape the oracle sweep has proven
# bit-stable across engines, so the discount never introduces a literal
# whose ln both engines must round identically.
_SB_DISCOUNT_NUM = 2
_SB_DISCOUNT_DEN = 5


def trigram_backoff_scores(documents: DataFrame) -> DataFrame:
    """(doc_id, n_trigrams, n_backoff_bi, n_backoff_uni,
    avg_neg_logprob): held-out cross-entropy under a trigram
    stupid-backoff model (Brants et al. 2007) — the top rung of the
    CCNet-style n-gram ladder (`unigram_surprise_scores`,
    `bigram_surprise_scores` are the lower rungs). The model trains on
    even doc_ids and scores odd doc_ids, so unseen n-grams genuinely
    occur and the backoff is exercised (self-scoring would make every
    trigram count positive and the backoff dead code).

    Score per trigram position (w1 w2 w3):

    * trigram hit:    ln c(w1w2w3) − ln c(w1w2)
    * bigram backoff: ln(2/5) + ln c(w2w3) − ln c(w2)
    * unigram floor:  2·ln(2/5) + ln(c(w3)+1) − ln(N+V)  (add-one over
      the train vocab, so an out-of-vocabulary w3 is finite)

    Invariants that keep the CASE total: a seen trigram's prefix bigram
    is seen (same positions minus one), and a seen bigram's first word
    is a seen unigram — so the hit branches never divide by NULL.

    Determinism: words travel as 60-bit md5 hashes; all counts are
    exact BIGINTs; every ln argument is an exact integer double; the
    branch constants fold from ln of integer literals; per-doc
    avg(...) of identical per-row doubles is rounded to 6 (absorbs
    summation-order reassociation, same contract as the bigram twin).

    Scale shape: two explodes (train positions once for three count
    tables, test positions once), all count tables are map-side-combined
    hash aggregations in the distinct-n-gram cardinality class the dedup
    shingle tables already shuffle; the position table joins each count
    table on an 8-byte hash equi-key (AQE picks shuffle-hash); the (N,V)
    scalar is a one-row broadcast; the finale is one per-doc aggregate.
    No Python row path, nothing driver-side.
    """
    from ..functions.hashing import md5_hash64

    toks = documents.select(
        "doc_id", F.split(F.col("text"), " ").alias("ws")
    )
    train = toks.filter(F.col("doc_id") % 2 == 0)
    test = toks.filter((F.col("doc_id") % 2 == 1) & (F.size("ws") >= 3))

    from ..session import persist_once

    # the position table feeds four count aggregates and cb/cu are each
    # probed by two joins: persist both layers once instead of
    # re-deriving them per consumer (14 scans -> 2 in the static plan;
    # at extreme scale swap the position persist for recompute — the
    # count tables are the ones worth keeping)
    tr_pos = persist_once(
        train.select(
            F.explode(
                F.expr(
                    "transform(sequence(1, size(ws)), i -> struct("
                    "element_at(ws, i) AS w1, "
                    "CASE WHEN i + 1 <= size(ws) THEN element_at(ws, i + 1) END AS w2, "
                    "CASE WHEN i + 2 <= size(ws) THEN element_at(ws, i + 2) END AS w3))"
                )
            ).alias("p")
        ).select("p.w1", "p.w2", "p.w3")
    )
    cu = persist_once(
        tr_pos.groupBy(md5_hash64(F.col("w1")).alias("uh")).agg(
            F.count(F.lit(1)).alias("cu")
        )
    )
    cb = persist_once(
        tr_pos.filter(F.col("w2").isNotNull())
        .groupBy(md5_hash64(F.concat_ws(" ", "w1", "w2")).alias("bh"))
        .agg(F.count(F.lit(1)).alias("cb"))
    )
    ct = (
        tr_pos.filter(F.col("w3").isNotNull())
        .groupBy(md5_hash64(F.concat_ws(" ", "w1", "w2", "w3")).alias("th"))
        .agg(F.count(F.lit(1)).alias("ct"))
    )
    nv = tr_pos.agg(
        F.count(F.lit(1)).alias("n_train"),
        F.countDistinct(md5_hash64(F.col("w1"))).alias("v_train"),
    )

    pos = test.select(
        "doc_id",
        F.explode(
            F.expr(
                "transform(sequence(1, size(ws) - 2), i -> struct("
                "element_at(ws, i) AS w1, element_at(ws, i + 1) AS w2, "
                "element_at(ws, i + 2) AS w3))"
            )
        ).alias("p"),
    ).select(
        "doc_id",
        md5_hash64(F.concat_ws(" ", "p.w1", "p.w2", "p.w3")).alias("th"),
        md5_hash64(F.concat_ws(" ", "p.w1", "p.w2")).alias("b12"),
        md5_hash64(F.concat_ws(" ", "p.w2", "p.w3")).alias("b23"),
        md5_hash64(F.col("p.w2")).alias("u2"),
        md5_hash64(F.col("p.w3")).alias("u3"),
    )
    joined = (
        pos.join(ct, "th", "left")
        .join(cb.select(F.col("bh").alias("b12"), F.col("cb").alias("cb12")), "b12", "left")
        .join(cb.select(F.col("bh").alias("b23"), F.col("cb").alias("cb23")), "b23", "left")
        .join(cu.select(F.col("uh").alias("u2"), F.col("cu").alias("cu2")), "u2", "left")
        .join(cu.select(F.col("uh").alias("u3"), F.col("cu").alias("cu3")), "u3", "left")
        .crossJoin(F.broadcast(nv))
    )
    disc = F.log(F.lit(float(_SB_DISCOUNT_NUM))) - F.log(
        F.lit(float(_SB_DISCOUNT_DEN))
    )
    lnp = (
        F.when(F.col("ct").isNotNull(), F.log("ct") - F.log("cb12"))
        .when(
            F.col("cb23").isNotNull(),
            disc + F.log("cb23") - F.log("cu2"),
        )
        .otherwise(
            F.lit(2.0) * disc
            + F.log(F.coalesce(F.col("cu3"), F.lit(0)) + F.lit(1))
            - F.log(F.col("n_train") + F.col("v_train"))
        )
    )
    per = joined.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_trigrams"),
        F.sum(
            F.when(F.col("ct").isNull() & F.col("cb23").isNotNull(), 1).otherwise(0)
        )
        .cast("bigint")
        .alias("n_backoff_bi"),
        F.sum(
            F.when(F.col("ct").isNull() & F.col("cb23").isNull(), 1).otherwise(0)
        )
        .cast("bigint")
        .alias("n_backoff_uni"),
        F.round(-F.avg(lnp), 6).alias("avg_neg_logprob"),
    )
    return per


def trigram_backoff_scores_sql() -> str:
    """Oracle: identical split, hash domain, CASE shape, and
    avg-then-negate arithmetic."""
    from ..functions.hashing import md5_hash64_sql

    uh = md5_hash64_sql("w1")
    bh = md5_hash64_sql("w1 || ' ' || w2")
    th = md5_hash64_sql("w1 || ' ' || w2 || ' ' || w3")
    q_th = md5_hash64_sql("w1 || ' ' || w2 || ' ' || w3")
    q_b12 = md5_hash64_sql("w1 || ' ' || w2")
    q_b23 = md5_hash64_sql("w2 || ' ' || w3")
    q_u2 = md5_hash64_sql("w2")
    q_u3 = md5_hash64_sql("w3")
    d = f"(ln({_SB_DISCOUNT_NUM}) - ln({_SB_DISCOUNT_DEN}))"
    return f"""
WITH toks AS (SELECT doc_id, string_split(text, ' ') AS l FROM documents),
tr_ix AS (SELECT l, unnest(generate_series(1, len(l))) AS i
          FROM toks WHERE doc_id % 2 = 0),
tr AS (SELECT l[i] AS w1,
              CASE WHEN i + 1 <= len(l) THEN l[i + 1] END AS w2,
              CASE WHEN i + 2 <= len(l) THEN l[i + 2] END AS w3
       FROM tr_ix),
cu AS (SELECT {uh} AS uh, count(*) AS cu FROM tr GROUP BY 1),
cb AS (SELECT {bh} AS bh, count(*) AS cb FROM tr
       WHERE w2 IS NOT NULL GROUP BY 1),
ct AS (SELECT {th} AS th, count(*) AS ct FROM tr
       WHERE w3 IS NOT NULL GROUP BY 1),
nv AS (SELECT count(*) AS n_train, count(DISTINCT {uh}) AS v_train FROM tr),
te_ix AS (SELECT doc_id, l, unnest(generate_series(1, len(l) - 2)) AS i
          FROM toks WHERE doc_id % 2 = 1 AND len(l) >= 3),
te AS (SELECT doc_id, l[i] AS w1, l[i + 1] AS w2, l[i + 2] AS w3 FROM te_ix),
pos AS (SELECT doc_id, {q_th} AS th, {q_b12} AS b12, {q_b23} AS b23,
               {q_u2} AS u2, {q_u3} AS u3 FROM te),
j AS (SELECT pos.doc_id, ct.ct, cb12.cb AS cb12, cb23.cb AS cb23,
             cu2.cu AS cu2, cu3.cu AS cu3, nv.n_train, nv.v_train
      FROM pos
      LEFT JOIN ct ON pos.th = ct.th
      LEFT JOIN cb cb12 ON pos.b12 = cb12.bh
      LEFT JOIN cb cb23 ON pos.b23 = cb23.bh
      LEFT JOIN cu cu2 ON pos.u2 = cu2.uh
      LEFT JOIN cu cu3 ON pos.u3 = cu3.uh
      CROSS JOIN nv)
SELECT doc_id,
       CAST(count(*) AS BIGINT) AS n_trigrams,
       CAST(sum(CASE WHEN ct IS NULL AND cb23 IS NOT NULL
                THEN 1 ELSE 0 END) AS BIGINT) AS n_backoff_bi,
       CAST(sum(CASE WHEN ct IS NULL AND cb23 IS NULL
                THEN 1 ELSE 0 END) AS BIGINT) AS n_backoff_uni,
       round(-avg(CASE
         WHEN ct IS NOT NULL THEN ln(ct) - ln(cb12)
         WHEN cb23 IS NOT NULL THEN {d} + ln(cb23) - ln(cu2)
         ELSE 2.0 * {d} + ln(coalesce(cu3, 0) + 1)
              - ln(n_train + v_train) END), 6) AS avg_neg_logprob
FROM j GROUP BY doc_id
"""


# ---------------------------------------------------------------------------
# DSIR importance weights (hashed n-gram domain-matching score)
# ---------------------------------------------------------------------------

DSIR_BUCKETS = 4096
DSIR_TARGET_LANG = "en"


def dsir_importance_weights(
    documents: DataFrame,
    target_lang: str = DSIR_TARGET_LANG,
    buckets: int = DSIR_BUCKETS,
) -> DataFrame:
    """(doc_id, n_feats, dsir_logratio): per-document importance score
    for Data Selection via Importance Resampling (DSIR — Xie et al.,
    NeurIPS 2023): hashed unigram+bigram features, two smoothed
    feature distributions (target domain vs raw corpus), and the
    average per-occurrence log-likelihood ratio
    avg ln(p_target(f) / p_raw(f)). Positive = more target-like;
    resampling keeps the top slice (compose with the exact
    order-statistic machinery of ``quality_percentile_gate`` — no
    interpolated percentile needed). Here the target domain is the
    corpus's own ``lang = target_lang`` slice, the stand-in for "a
    trusted high-quality corpus" on the synthetic fixtures; any
    predicate or second table slots in the same shape.

    Add-1 smoothing over the hashed-feature domain:
    p(f) = (c_f + 1) / (N + buckets). The per-doc fold keeps the
    scalars OUT of the inner avg — score = avg(ln(ct+1) − ln(cr+1))
    + ln(Nr + B) − ln(Nt + B) — so the only doubles averaged are
    ln's of identical integers in both engines (then one identical
    scalar correction, rounded at 6 decimals).

    Scale shape: features explode once per occurrence but the
    distribution table is capped at ``buckets`` rows (that is the
    POINT of hashed DSIR — the n-gram LM collapses to a fixed-width
    histogram), so both count aggregations are map-side-combined into
    ≤ buckets cells, the per-occurrence join is a BROADCAST of the
    bucket table, and the one-row scalar side rides a broadcast cross
    join. One real exchange total (the per-doc aggregate).

    Composition: ``dsir_feature_dist`` is the frozen-artifact half
    (the ≤ buckets-row distribution table a deployment persists once)
    and ``dsir_score_against_dist`` the apply half — this function is
    their fit-and-score-the-same-corpus composition; the streaming
    deployment (``streaming/dsir_stream.py``) scores micro-batches
    against the frozen table.
    """
    return dsir_score_against_dist(
        documents,
        dsir_feature_dist(documents, target_lang, buckets),
        buckets,
    )


def _dsir_feats(documents: DataFrame, buckets: int) -> DataFrame:
    """(doc_id, lang, b): one row per hashed unigram/bigram occurrence."""
    from ..functions.hashing import md5_hash64

    d = documents.select(
        "doc_id", "lang", F.split(F.col("text"), " ").alias("ws")
    )
    uni = d.select("doc_id", "lang", F.explode("ws").alias("g"))
    bi = d.filter(F.size("ws") >= 2).select(
        "doc_id",
        "lang",
        F.explode(
            F.expr(
                "transform(sequence(1, size(ws) - 1), i -> "
                "concat_ws(' ', element_at(ws, i), element_at(ws, i + 1)))"
            )
        ).alias("g"),
    )
    return uni.unionByName(bi).select(
        "doc_id",
        "lang",
        (md5_hash64(F.col("g")) % F.lit(buckets)).alias("b"),
    )


def dsir_feature_dist(
    documents: DataFrame,
    target_lang: str = DSIR_TARGET_LANG,
    buckets: int = DSIR_BUCKETS,
) -> DataFrame:
    """(b, cr, ct): the DSIR distribution artifact — per-bucket raw and
    target feature-occurrence counts over a reference corpus. ≤ buckets
    rows; a deployment computes it once per reference window, persists
    it, and scores any stream of documents against it."""
    feats = _dsir_feats(documents, buckets)
    raw = feats.groupBy("b").agg(F.count(F.lit(1)).alias("cr"))
    tgt = (
        feats.filter(F.col("lang") == target_lang)
        .groupBy("b")
        .agg(F.count(F.lit(1)).alias("ct"))
    )
    return raw.join(tgt, "b", "left").select(
        "b", "cr", F.coalesce(F.col("ct"), F.lit(0)).alias("ct")
    )


def dsir_score_against_dist(
    documents: DataFrame,
    dist: DataFrame,
    buckets: int = DSIR_BUCKETS,
    carry_cols: tuple = (),
) -> DataFrame:
    """Score documents against a (possibly frozen) DSIR distribution
    table. A feature bucket absent from ``dist`` (possible only when
    scoring NEW documents against a frozen reference window) contributes
    ln(0+1) − ln(0+1) = 0 — the uninformative-feature neutral element —
    via the left join's coalesce; on the fit corpus itself every bucket
    is present and the coalesce never fires.

    ``carry_cols`` names document columns functionally dependent on
    ``doc_id`` (e.g. ``("lang",)``) to thread through the per-doc
    aggregate — consumers that need them then avoid a corpus-sized
    join back against the source table (at fleet scale that join is a
    full extra shuffle of the corpus; carrying the column is free
    because the aggregate already shuffles one row per doc)."""
    feats = _dsir_feats(documents, buckets)
    scal = dist.agg(F.sum("cr").alias("nr"), F.sum("ct").alias("nt"))
    per = (
        feats.join(F.broadcast(dist), "b", "left")
        .select(
            "doc_id",
            *carry_cols,
            F.coalesce(F.col("cr"), F.lit(0)).alias("cr"),
            F.coalesce(F.col("ct"), F.lit(0)).alias("ct"),
        )
        .groupBy("doc_id", *carry_cols)
        .agg(
            F.count(F.lit(1)).alias("n_feats"),
            F.avg(
                F.log(F.col("ct") + F.lit(1)) - F.log(F.col("cr") + F.lit(1))
            ).alias("__s"),
        )
    )
    return per.crossJoin(F.broadcast(scal)).select(
        "doc_id",
        *carry_cols,
        F.col("n_feats").cast("bigint").alias("n_feats"),
        F.round(
            F.col("__s")
            + F.log(F.col("nr") + F.lit(buckets))
            - F.log(F.col("nt") + F.lit(buckets)),
            6,
        ).alias("dsir_logratio"),
    )


def dsir_importance_weights_sql(
    target_lang: str = DSIR_TARGET_LANG, buckets: int = DSIR_BUCKETS
) -> str:
    """Oracle: identical feature construction, hash-bucket domain,
    smoothing arithmetic, and scalar-outside-the-avg fold."""
    from ..functions.hashing import md5_hash64_sql

    gh = md5_hash64_sql("g")
    return f"""
WITH d AS (SELECT doc_id, lang, string_split(text, ' ') AS l FROM documents),
uni AS (SELECT doc_id, lang, unnest(l) AS g FROM d),
ix AS (SELECT doc_id, lang, l, unnest(generate_series(1, len(l) - 1)) AS i
       FROM d WHERE len(l) >= 2),
bi AS (SELECT doc_id, lang, l[i] || ' ' || l[i + 1] AS g FROM ix),
f AS (SELECT doc_id, lang, ({gh}) % {buckets} AS b
      FROM (SELECT doc_id, lang, g FROM uni
            UNION ALL SELECT doc_id, lang, g FROM bi)),
raw AS (SELECT b, count(*) AS cr FROM f GROUP BY b),
tgt AS (SELECT b, count(*) AS ct FROM f WHERE lang = '{target_lang}'
        GROUP BY b),
dist AS (SELECT b, cr, coalesce(ct, 0) AS ct FROM raw LEFT JOIN tgt USING (b)),
scal AS (SELECT sum(cr) AS nr, sum(ct) AS nt FROM dist),
per AS (SELECT doc_id, count(*) AS n_feats,
               avg(ln(ct + 1) - ln(cr + 1)) AS s
        FROM f JOIN dist USING (b) GROUP BY doc_id)
SELECT doc_id, CAST(n_feats AS BIGINT) AS n_feats,
       round(s + ln(nr + {buckets}) - ln(nt + {buckets}), 6) AS dsir_logratio
FROM per CROSS JOIN scal
"""


DSIR_RESAMPLE_Q = 0.5


def dsir_resample_counts(
    documents: DataFrame,
    q: float = DSIR_RESAMPLE_Q,
    target_lang: str = DSIR_TARGET_LANG,
    buckets: int = DSIR_BUCKETS,
) -> DataFrame:
    """(lang, n_docs, n_kept) — the REALIZED importance resampling:
    gate the corpus at the exact order-statistic threshold over
    ``dsir_importance_weights`` scores (drop at most the bottom ``q``)
    and report per-language survival — DSIR's selection step with the
    paper's Gumbel draw replaced by the engine's deterministic
    no-interpolation gate (same contract as ``quality_percentile_gate``:
    threshold = k-th smallest score, k = max(⌊q·N⌋, 1), so two engines
    cannot disagree in the last ulp at the boundary). The composition
    DSIR → exact gate → per-source tally is the whole
    "match my target domain" pipeline as one declarative plan.

    Scale: scores collapse to a (score, count) histogram bounded by the
    6-decimal score domain; the running-count scan and threshold pick
    run on that tiny table and one row broadcasts back; the per-lang
    fold is one map-side-combined aggregation to O(langs) rows. The
    score table feeds BOTH the histogram and the gate, so it persists
    once (``persist_once``); ``lang`` rides the scoring aggregate via
    ``carry_cols`` so the gate never joins back against the corpus —
    at fleet scale that join would be a second full shuffle of the
    document table for a column the feature explode already carried.
    """
    from ..session import persist_once

    scores = persist_once(
        dsir_score_against_dist(
            documents,
            dsir_feature_dist(documents, target_lang, buckets),
            buckets,
            carry_cols=("lang",),
        )
    )
    hist = scores.groupBy("dsir_logratio").agg(F.count(F.lit(1)).alias("c"))
    tot = hist.agg(F.sum("c").alias("n"))
    cum = (
        hist.crossJoin(F.broadcast(tot))
        .withColumn(
            "cum",
            F.sum("c").over(
                bounded_window("dsir_logratio").rowsBetween(
                    Window.unboundedPreceding, 0
                )
            ),
        )
        .withColumn("k", F.greatest(F.floor(F.lit(q) * F.col("n")), F.lit(1)))
    )
    thr = cum.filter(F.col("cum") >= F.col("k")).agg(
        F.min("dsir_logratio").alias("threshold")
    )
    return (
        scores.crossJoin(F.broadcast(thr))
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(
                (F.col("dsir_logratio") >= F.col("threshold")).cast("bigint")
            ).alias("n_kept"),
        )
        .orderBy("lang")
    )


def dsir_resample_counts_sql(
    q: float = DSIR_RESAMPLE_Q,
    target_lang: str = DSIR_TARGET_LANG,
    buckets: int = DSIR_BUCKETS,
) -> str:
    """Oracle: identical score → histogram → running count → threshold →
    gate → per-lang fold."""
    inner = dsir_importance_weights_sql(target_lang, buckets)
    return f"""
WITH scores AS (SELECT doc_id, dsir_logratio FROM ({inner}) s),
hist AS (SELECT dsir_logratio, count(*) AS c FROM scores
         GROUP BY dsir_logratio),
cum AS (SELECT dsir_logratio,
               sum(c) OVER (ORDER BY dsir_logratio) AS cum,
               greatest(CAST(floor({q!r} * (SELECT sum(c) FROM hist))
                             AS BIGINT), 1) AS k
        FROM hist),
thr AS (SELECT min(dsir_logratio) AS threshold FROM cum WHERE cum >= k),
gated AS (
  SELECT s.doc_id, s.dsir_logratio >= t.threshold AS kept
  FROM scores s CROSS JOIN thr t)
SELECT d.lang,
       count(*) AS n_docs,
       CAST(sum(CASE WHEN g.kept THEN 1 ELSE 0 END) AS BIGINT) AS n_kept
FROM gated g JOIN documents d USING (doc_id)
GROUP BY d.lang ORDER BY d.lang
"""


# Gopher rule thresholds (Rae et al. 2021, "Scaling Language Models:
# Methods, Analysis & Insights from Training Gopher", App. A — the
# MassiveWeb quality heuristics). Every ratio test below is rewritten as
# an EXACT integer inequality (10*symbols <= n_words instead of
# symbols/n_words <= 0.1) so two engines cannot disagree in the last
# ulp of a float division — the same portability contract as the
# percentile gates.
GOPHER_MIN_WORDS = 50
GOPHER_MAX_WORDS = 100_000
GOPHER_STOPS: tuple[str, ...] = (
    "the", "be", "to", "of", "and", "that", "have", "with",
)


def gopher_quality_flags(
    documents: DataFrame, stops: tuple[str, ...] = GOPHER_STOPS
) -> DataFrame:
    """Per-document Gopher quality-filter flags (one boolean per
    published rule) plus the conjunction ``pass_gopher`` — the
    industry-standard pre-training quality gate, entirely in
    whole-stage codegen. ``stops`` defaults to the paper's 8-word
    list; on the synthetic fixture only 'the' occurs, so that rule is
    honest-but-degenerate there (constant false) — the hand-case test
    exercises both sides of every rule on constructed documents.

    Rules (MassiveWeb, Rae et al. 2021 App. A):
    word count in [50, 100k]; mean word length in [3, 10] chars;
    symbol-to-word ratio ('#' or '…' as '...') <= 0.1; <= 10% of lines
    start with a bullet; <= 30% of lines end with an ellipsis; >= 80%
    of words contain an alphabetic character; at least 2 distinct hits
    from the 8-word stop list.

    Scale: one narrow projection over the corpus — no joins, no
    shuffles, no Python; the flags are a map-only stage that fuses with
    whatever filter or sink consumes them.
    """
    ws = _words()
    lines = F.split(F.col("text"), "\n")
    n_words = F.size(ws)
    n_lines = F.size(lines)
    sum_len = F.aggregate(
        F.transform(ws, lambda w: F.length(w)),
        F.lit(0),
        lambda acc, x: acc + x,
    )
    n_hash = F.length("text") - F.length(F.replace(F.col("text"), F.lit("#")))
    ell_chars = F.length("text") - F.length(
        F.replace(F.col("text"), F.lit("..."))
    )
    bullet_lines = F.size(
        F.filter(
            lines,
            lambda ln: ln.startswith("- ")
            | ln.startswith("* ")
            | ln.startswith("•"),
        )
    )
    ell_lines = F.size(F.filter(lines, lambda ln: ln.endswith("...")))
    alpha_words = F.size(F.filter(ws, lambda w: w.rlike("[A-Za-z]")))
    stop_hits = F.size(
        F.array_intersect(
            F.array_distinct(ws), F.array(*[F.lit(s) for s in stops])
        )
    )
    flags = {
        "flag_word_count": (n_words >= GOPHER_MIN_WORDS)
        & (n_words <= GOPHER_MAX_WORDS),
        # 3 <= sum_len/n <= 10  ==  3n <= sum_len AND sum_len <= 10n
        "flag_mean_word_len": (sum_len >= 3 * n_words)
        & (sum_len <= 10 * n_words),
        # (n_hash + ell_chars/3)/n <= 0.1, cleared of the division:
        # 10*(3*n_hash + ell_chars) <= 3*n_words — all integers
        "flag_symbol_ratio": 10 * (3 * n_hash + ell_chars) <= 3 * n_words,
        "flag_bullet_lines": 10 * bullet_lines <= n_lines,
        "flag_ellipsis_lines": 10 * ell_lines <= 3 * n_lines,
        "flag_alpha_words": 5 * alpha_words >= 4 * n_words,
        "flag_stopwords": stop_hits >= 2,
    }
    pass_all = None
    for c in flags.values():
        pass_all = c if pass_all is None else (pass_all & c)
    return documents.select(
        "doc_id",
        n_words.cast("bigint").alias("n_words"),
        *[c.alias(k) for k, c in flags.items()],
        pass_all.alias("pass_gopher"),
    )


def _gopher_sql(stop_list: tuple[str, ...] = GOPHER_STOPS) -> str:
    stops = ", ".join(f"'{s}'" for s in stop_list)
    return f"""
WITH base AS (
  SELECT doc_id,
         string_split(text, ' ') AS ws,
         string_split(text, chr(10)) AS lines,
         length(text) - length(replace(text, '#', '')) AS n_hash,
         length(text) - length(replace(text, '...', '')) AS ell_chars,
         text
  FROM documents),
m AS (
  SELECT doc_id,
         len(ws) AS n_words,
         len(lines) AS n_lines,
         list_sum(list_transform(ws, w -> length(w))) AS sum_len,
         n_hash, ell_chars,
         len(list_filter(lines, ln -> ln LIKE '- %' OR ln LIKE '* %'
                                      OR ln LIKE '•%')) AS bullet_lines,
         len(list_filter(lines, ln -> ln LIKE '%...')) AS ell_lines,
         len(list_filter(ws, w -> regexp_matches(w, '[A-Za-z]')))
           AS alpha_words,
         len(list_filter([{stops}], s -> list_contains(ws, s)))
           AS stop_hits
  FROM base)
SELECT doc_id,
       CAST(n_words AS BIGINT) AS n_words,
       n_words >= {GOPHER_MIN_WORDS} AND n_words <= {GOPHER_MAX_WORDS}
         AS flag_word_count,
       sum_len >= 3 * n_words AND sum_len <= 10 * n_words
         AS flag_mean_word_len,
       10 * (3 * n_hash + ell_chars) <= 3 * n_words AS flag_symbol_ratio,
       10 * bullet_lines <= n_lines AS flag_bullet_lines,
       10 * ell_lines <= 3 * n_lines AS flag_ellipsis_lines,
       5 * alpha_words >= 4 * n_words AS flag_alpha_words,
       stop_hits >= 2 AS flag_stopwords,
       (n_words >= {GOPHER_MIN_WORDS} AND n_words <= {GOPHER_MAX_WORDS})
         AND (sum_len >= 3 * n_words AND sum_len <= 10 * n_words)
         AND (10 * (3 * n_hash + ell_chars) <= 3 * n_words)
         AND (10 * bullet_lines <= n_lines)
         AND (10 * ell_lines <= 3 * n_lines)
         AND (5 * alpha_words >= 4 * n_words)
         AND (stop_hits >= 2) AS pass_gopher
FROM m
"""


GOPHER_QUALITY_FLAGS_SQL = _gopher_sql()


# ---------------------------------------------------------------------------
# Zipf head fit (corpus rank-frequency diagnostic)
# ---------------------------------------------------------------------------

ZIPF_HEAD_K = 2000


def zipf_head_fit(documents: DataFrame, top_k: int = ZIPF_HEAD_K) -> DataFrame:
    """One row (n_vocab, n_tokens, head_k, zipf_slope, zipf_intercept,
    r2): closed-form OLS of ln(freq) on ln(rank) over the top-``top_k``
    words — the rank-frequency diagnostic a corpus team reads before
    trusting token statistics (natural text fits slope ≈ −1, Zipf 1949;
    template/boilerplate corpora flatten the head, OCR noise fattens it).

    Scale shape: ONE corpus-scale groupBy on the 8-byte word hash (word
    strings never shuffle — same hash domain as unigram_surprise), then
    the head is a distributed take-ordered (count DESC, hash ASC — fully
    deterministic ties), and the OLS is one aggregation over ≤ top_k
    rows with the closed-form slope/intercept/r² computed from six sums.
    The full-vocab (n_vocab, n_tokens) totals ride a second tiny agg on
    the same persisted-by-Catalyst freq table; no Python, no driver loop.
    """
    from ..functions.hashing import md5_hash64

    h = (
        documents.select(
            F.explode(F.split(F.col("text"), " ")).alias("word")
        )
        .filter(F.col("word") != "")
        .select(md5_hash64(F.col("word")).alias("wh"))
    )
    freq = h.groupBy("wh").agg(F.count(F.lit(1)).alias("c"))
    tot = freq.agg(
        F.count(F.lit(1)).alias("n_vocab"), F.sum("c").alias("n_tokens")
    )
    head = freq.orderBy(F.desc("c"), "wh").limit(top_k)
    ranked = head.select(
        F.log(
            F.row_number()
            .over(bounded_window(F.desc("c"), "wh"))
            .cast("double")
        ).alias("x"),
        F.log(F.col("c").cast("double")).alias("y"),
        F.col("c"),
    )
    ols = ranked.agg(
        F.count(F.lit(1)).cast("double").alias("k"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
        F.min("c").alias("c_min"),
        F.max("c").alias("c_max"),
    )
    num = F.col("k") * F.col("sxy") - F.col("sx") * F.col("sy")
    den_x = F.col("k") * F.col("sxx") - F.col("sx") * F.col("sx")
    slope = num / den_x
    # degenerate-fit convention on an EXACT INTEGER predicate (constant
    # head counts, or a single point): both engines agree bit-for-bit on
    # min(c)=max(c)/k=1 where a float zero-variance test would hit
    # catastrophic cancellation differently per summation order. The
    # constant model is then the exact fit: slope 0, intercept ȳ, r² 1.
    degenerate = (F.col("c_min") == F.col("c_max")) | (F.col("k") == 1)
    return ols.crossJoin(F.broadcast(tot)).select(
        F.col("n_vocab").cast("bigint").alias("n_vocab"),
        F.col("n_tokens").cast("bigint").alias("n_tokens"),
        F.col("k").cast("bigint").alias("head_k"),
        F.round(F.when(degenerate, F.lit(0.0)).otherwise(slope), 6).alias(
            "zipf_slope"
        ),
        F.round(
            F.when(degenerate, F.col("sy") / F.col("k")).otherwise(
                (F.col("sy") - slope * F.col("sx")) / F.col("k")
            ),
            6,
        ).alias("zipf_intercept"),
        F.round(
            F.when(degenerate, F.lit(1.0)).otherwise(
                num
                * num
                / (
                    den_x
                    * (F.col("k") * F.col("syy") - F.col("sy") * F.col("sy"))
                )
            ),
            6,
        ).alias("r2"),
    )


def zipf_head_fit_sql(top_k: int = ZIPF_HEAD_K) -> str:
    """Oracle: identical hash domain, identical deterministic head
    selection, identical six-sum closed-form OLS."""
    from ..functions.hashing import md5_hash64_sql

    wh = md5_hash64_sql("word")
    return f"""
WITH w AS (SELECT unnest(string_split(text, ' ')) AS word FROM documents),
h AS (SELECT {wh} AS wh FROM w WHERE word <> ''),
freq AS (SELECT wh, count(*) AS c FROM h GROUP BY wh),
tot AS (SELECT count(*) AS n_vocab, sum(c) AS n_tokens FROM freq),
head AS (SELECT c, row_number() OVER (ORDER BY c DESC, wh) AS r
         FROM freq QUALIFY r <= {top_k}),
pts AS (SELECT ln(CAST(r AS DOUBLE)) AS x, ln(CAST(c AS DOUBLE)) AS y, c
        FROM head),
ols AS (SELECT CAST(count(*) AS DOUBLE) AS k, sum(x) AS sx, sum(y) AS sy,
               sum(x * y) AS sxy, sum(x * x) AS sxx, sum(y * y) AS syy,
               min(c) AS c_min, max(c) AS c_max
        FROM pts)
SELECT CAST(n_vocab AS BIGINT) AS n_vocab,
       CAST(n_tokens AS BIGINT) AS n_tokens,
       CAST(k AS BIGINT) AS head_k,
       round(CASE WHEN c_min = c_max OR k = 1 THEN 0.0
                  ELSE (k * sxy - sx * sy) / (k * sxx - sx * sx) END,
             6) AS zipf_slope,
       round(CASE WHEN c_min = c_max OR k = 1 THEN sy / k
                  ELSE (sy - (k * sxy - sx * sy) / (k * sxx - sx * sx) * sx)
                       / k END,
             6) AS zipf_intercept,
       round(CASE WHEN c_min = c_max OR k = 1 THEN 1.0
                  ELSE (k * sxy - sx * sy) * (k * sxy - sx * sy)
                       / ((k * sxx - sx * sx) * (k * syy - sy * sy)) END,
             6) AS r2
FROM ols, tot
"""


# ---------------------------------------------------------------------------
# Heaps' law fit (vocabulary-growth diagnostic)
# ---------------------------------------------------------------------------

HEAPS_CHECKPOINTS = 8


def heaps_law_fit(
    documents: DataFrame, m: int = HEAPS_CHECKPOINTS
) -> DataFrame:
    """One row (n_vocab, n_tokens, n_checkpoints, heaps_beta, heaps_ln_k,
    r2): the Heaps/Herdan vocabulary-growth law V(n) ≈ K·n^β fitted over
    ``m`` doc-id checkpoints — the companion diagnostic to the Zipf head
    fit (β ≈ 0.5–0.8 for natural text; β → 1 flags a corpus of unique
    noise, β → 0 a template corpus), and the measured basis for the BPE
    trainer's "vocab grows ~n^0.7" scale claim.

    The classic formulation (sort the corpus, count distinct prefixes) is
    a global sort + running distinct — hostile at scale. This one needs
    NO sort: a word's contribution to checkpoint i depends only on its
    FIRST doc_id (vocab_i = #{words: min_doc·m ≤ max_id·i}) and a token's
    only on its own doc_id — so the whole curve is one groupBy (min per
    word hash) plus conditional integer-inequality sums against the
    broadcast one-row max(doc_id), exact in both engines with no
    division. The m-point ln-ln OLS runs on a stacked m-row table.
    """
    from ..functions.hashing import md5_hash64

    h = (
        documents.select(
            "doc_id",
            F.explode(F.split(F.col("text"), " ")).alias("word"),
        )
        .filter(F.col("word") != "")
        .select("doc_id", md5_hash64(F.col("word")).alias("wh"))
    )
    mx = documents.agg(F.max("doc_id").alias("max_id"))
    # tokens_i = #tokens with doc_id ≤ floor(max_id·i/m), as the exact
    # integer predicate doc_id·m ≤ max_id·i
    tok_sums = [
        F.sum((F.col("doc_id") * m <= F.col("max_id") * i).cast("bigint"))
        .alias(f"t{i}")
        for i in range(1, m + 1)
    ]
    toks = h.crossJoin(F.broadcast(mx)).agg(
        F.count(F.lit(1)).alias("n_tokens"), *tok_sums
    )
    first = h.groupBy("wh").agg(F.min("doc_id").alias("first_doc"))
    voc_sums = [
        F.sum(
            (F.col("first_doc") * m <= F.col("max_id") * i).cast("bigint")
        ).alias(f"v{i}")
        for i in range(1, m + 1)
    ]
    vocs = first.crossJoin(F.broadcast(mx)).agg(
        F.count(F.lit(1)).alias("n_vocab"), *voc_sums
    )
    both = toks.crossJoin(vocs)
    pairs = ", ".join(f"t{i}, v{i}" for i in range(1, m + 1))
    pts = both.select(
        "n_vocab",
        "n_tokens",
        F.expr(f"stack({m}, {pairs}) as (t, v)"),
    ).filter((F.col("t") > 0) & (F.col("v") > 0))
    ols = pts.groupBy("n_vocab", "n_tokens").agg(
        F.count(F.lit(1)).cast("double").alias("k"),
        F.sum(F.log(F.col("t").cast("double"))).alias("sx"),
        F.sum(F.log(F.col("v").cast("double"))).alias("sy"),
        F.sum(
            F.log(F.col("t").cast("double"))
            * F.log(F.col("v").cast("double"))
        ).alias("sxy"),
        F.sum(
            F.log(F.col("t").cast("double"))
            * F.log(F.col("t").cast("double"))
        ).alias("sxx"),
        F.sum(
            F.log(F.col("v").cast("double"))
            * F.log(F.col("v").cast("double"))
        ).alias("syy"),
        F.min("t").alias("t_min"),
        F.max("t").alias("t_max"),
        F.min("v").alias("v_min"),
        F.max("v").alias("v_max"),
    )
    num = F.col("k") * F.col("sxy") - F.col("sx") * F.col("sy")
    den_x = F.col("k") * F.col("sxx") - F.col("sx") * F.col("sx")
    den_y = F.col("k") * F.col("syy") - F.col("sy") * F.col("sy")
    slope = num / den_x
    # degenerate-fit convention on EXACT INTEGER predicates (saturated
    # vocab → constant v; all rows before the first checkpoint →
    # constant t; single surviving checkpoint): a float zero-variance
    # test hits catastrophic cancellation (k·syy − sy² ~ 1e-13, sign and
    # magnitude depending on each engine's summation order) — min=max on
    # the raw integers is bit-identical everywhere. The constant model
    # is then the exact fit: beta 0, ln K = ȳ, r² 1.
    degenerate = (
        (F.col("t_min") == F.col("t_max"))
        | (F.col("v_min") == F.col("v_max"))
        | (F.col("k") == 1)
    )
    return ols.select(
        F.col("n_vocab").cast("bigint").alias("n_vocab"),
        F.col("n_tokens").cast("bigint").alias("n_tokens"),
        F.col("k").cast("bigint").alias("n_checkpoints"),
        F.round(F.when(degenerate, F.lit(0.0)).otherwise(slope), 6).alias(
            "heaps_beta"
        ),
        F.round(
            F.when(degenerate, F.col("sy") / F.col("k")).otherwise(
                (F.col("sy") - slope * F.col("sx")) / F.col("k")
            ),
            6,
        ).alias("heaps_ln_k"),
        F.round(
            F.when(degenerate, F.lit(1.0)).otherwise(
                num * num / (den_x * den_y)
            ),
            6,
        ).alias("r2"),
    )


def heaps_law_fit_sql(m: int = HEAPS_CHECKPOINTS) -> str:
    """Oracle: identical hash domain, identical integer checkpoint
    predicates, identical six-sum OLS."""
    from ..functions.hashing import md5_hash64_sql

    wh = md5_hash64_sql("word")
    return f"""
WITH w AS (SELECT doc_id, unnest(string_split(text, ' ')) AS word
           FROM documents),
h AS (SELECT doc_id, {wh} AS wh FROM w WHERE word <> ''),
mx AS (SELECT max(doc_id) AS max_id FROM documents),
cp AS (SELECT unnest(range(1, {m} + 1)) AS i),
toks AS (SELECT i, count(*) AS t
         FROM h, mx, cp WHERE h.doc_id * {m} <= mx.max_id * i GROUP BY i),
fw AS (SELECT wh, min(doc_id) AS first_doc FROM h GROUP BY wh),
vocs AS (SELECT i, count(*) AS v
         FROM fw, mx, cp
         WHERE fw.first_doc * {m} <= mx.max_id * i GROUP BY i),
tot AS (SELECT (SELECT count(*) FROM h) AS n_tokens,
               (SELECT count(*) FROM fw) AS n_vocab),
pts AS (SELECT ln(CAST(t AS DOUBLE)) AS x, ln(CAST(v AS DOUBLE)) AS y, t, v
        FROM toks JOIN vocs USING (i) WHERE t > 0 AND v > 0),
ols AS (SELECT CAST(count(*) AS DOUBLE) AS k, sum(x) AS sx, sum(y) AS sy,
               sum(x * y) AS sxy, sum(x * x) AS sxx, sum(y * y) AS syy,
               min(t) AS t_min, max(t) AS t_max,
               min(v) AS v_min, max(v) AS v_max
        FROM pts)
SELECT CAST(n_vocab AS BIGINT) AS n_vocab,
       CAST(n_tokens AS BIGINT) AS n_tokens,
       CAST(k AS BIGINT) AS n_checkpoints,
       round(CASE WHEN t_min = t_max OR v_min = v_max OR k = 1 THEN 0.0
                  ELSE (k * sxy - sx * sy) / (k * sxx - sx * sx) END,
             6) AS heaps_beta,
       round(CASE WHEN t_min = t_max OR v_min = v_max OR k = 1 THEN sy / k
                  ELSE (sy - (k * sxy - sx * sy) / (k * sxx - sx * sx) * sx)
                       / k END,
             6) AS heaps_ln_k,
       round(CASE WHEN t_min = t_max OR v_min = v_max OR k = 1 THEN 1.0
                  ELSE (k * sxy - sx * sy) * (k * sxy - sx * sy)
                       / ((k * sxx - sx * sx) * (k * syy - sy * sy)) END,
             6) AS r2
FROM ols, tot
"""


# ---------------------------------------------------------------------------
# PMI collocations (top bigrams by pointwise mutual information)
# ---------------------------------------------------------------------------

PMI_TOP_K = 100
PMI_MIN_COUNT = 5


def pmi_top_bigrams(
    documents: DataFrame,
    k: int = PMI_TOP_K,
    min_count: int = PMI_MIN_COUNT,
) -> DataFrame:
    """(rank, left_word, right_word, pair_count, left_count, right_count,
    pmi): the corpus's top-k collocations by pointwise mutual information
    (Church & Hanks 1990) with a min-count support cut — the classic
    phrase-mining / tokenizer-vocabulary signal.

    Scale shape: adjacency is computed inside the row (array slice+zip,
    codegen), counts aggregate on 8-byte word hashes, and the ONLY
    string bytes that shuffle are one ``min(word)`` display
    representative per distinct hash (map-side partially aggregated, so
    network cost is vocab-bounded, not corpus-bounded). The support cut
    bounds the PMI join inputs.

    Determinism/parity: ranking orders by the RAW likelihood ratio
    ``(c_xy·Nt·Nt)/(Nb·c_x·c_y)`` — pure IEEE multiplications/divisions
    of exact integers, bit-identical across engines — with hash
    tie-breaks; the transcendental ``pmi = ln(ratio)`` is display-only
    and rounded, so a last-ulp ``ln`` divergence cannot reorder results
    (the tfidf_top_terms discipline).

    Convention: empty tokens (doubled spaces) are dropped BEFORE
    adjacency, so words separated only by extra whitespace count as
    adjacent — mirrored exactly in the oracle.
    """
    from ..functions.hashing import md5_hash64

    ws = documents.select(
        F.filter(
            F.split(F.col("text"), " "), lambda w: w != ""
        ).alias("ws")
    )
    uni = (
        ws.select(F.explode("ws").alias("word"))
        .select(md5_hash64(F.col("word")).alias("wh"), "word")
        .groupBy("wh")
        .agg(F.count(F.lit(1)).alias("c"), F.min("word").alias("word"))
    )
    pairs = F.arrays_zip(
        F.slice(F.col("ws"), 1, F.size("ws") - 1).alias("lw"),
        F.slice(F.col("ws"), 2, F.size("ws") - 1).alias("rw"),
    )
    big0 = (
        ws.select(F.explode(pairs).alias("p"))
        .select(
            md5_hash64(F.col("p.lw")).alias("lh"),
            md5_hash64(F.col("p.rw")).alias("rh"),
        )
        .groupBy("lh", "rh")
        .agg(F.count(F.lit(1)).alias("cxy"))
    )
    big = big0.filter(F.col("cxy") >= min_count)
    # Nb is the PRE-cut bigram total (standard PMI normalization: the
    # support cut bounds the join, it must not reshape the distribution)
    tot = uni.agg(F.sum("c").alias("nt")).crossJoin(
        big0.agg(F.sum("cxy").alias("nb"))
    )
    lu = uni.select(
        F.col("wh").alias("lh"),
        F.col("c").alias("cl"),
        F.col("word").alias("left_word"),
    )
    ru = uni.select(
        F.col("wh").alias("rh"),
        F.col("c").alias("cr"),
        F.col("word").alias("right_word"),
    )
    ratio = (
        F.col("cxy").cast("double") * F.col("nt") * F.col("nt")
    ) / (F.col("nb").cast("double") * F.col("cl") * F.col("cr"))
    scored = (
        big.join(lu, "lh")
        .join(ru, "rh")
        .crossJoin(F.broadcast(tot))
        .withColumn("__ratio", ratio)
        .orderBy(F.desc("__ratio"), "lh", "rh")
        .limit(k)
    )
    w = bounded_window(F.desc("__ratio"), "lh", "rh")
    return scored.select(
        F.row_number().over(w).cast("bigint").alias("rank"),
        "left_word",
        "right_word",
        F.col("cxy").cast("bigint").alias("pair_count"),
        F.col("cl").cast("bigint").alias("left_count"),
        F.col("cr").cast("bigint").alias("right_count"),
        F.round(F.log("__ratio"), 6).alias("pmi"),
    )


def pmi_top_bigrams_sql(
    k: int = PMI_TOP_K, min_count: int = PMI_MIN_COUNT
) -> str:
    """Oracle: identical hash domain, identical empty-token convention,
    identical raw-ratio ordering with the same left-associated IEEE
    expression, ln display-only."""
    from ..functions.hashing import md5_hash64_sql

    whw = md5_hash64_sql("word")
    whl = md5_hash64_sql("lw")
    whr = md5_hash64_sql("rw")
    return f"""
WITH d AS (SELECT list_filter(string_split(text, ' '), w -> w <> '') AS ws
           FROM documents),
u0 AS (SELECT unnest(ws) AS word FROM d),
uni AS (SELECT {whw} AS wh, count(*) AS c, min(word) AS word
        FROM u0 GROUP BY 1),
ix AS (SELECT ws, unnest(range(1, len(ws))) AS i FROM d),
p0 AS (SELECT ws[CAST(i AS INT)] AS lw, ws[CAST(i AS INT) + 1] AS rw
       FROM ix),
big0 AS (SELECT {whl} AS lh, {whr} AS rh, count(*) AS cxy
         FROM p0 GROUP BY 1, 2),
big AS (SELECT * FROM big0 WHERE cxy >= {min_count}),
nt AS (SELECT sum(c) AS nt FROM uni),
nb AS (SELECT sum(cxy) AS nb FROM big0),
scored AS (
  SELECT b.lh, b.rh, b.cxy, l.c AS cl, r.c AS cr,
         l.word AS left_word, r.word AS right_word,
         CAST(b.cxy AS DOUBLE) * (SELECT nt FROM nt) * (SELECT nt FROM nt)
           / (CAST((SELECT nb FROM nb) AS DOUBLE) * l.c * r.c) AS ratio
  FROM big b
  JOIN uni l ON l.wh = b.lh
  JOIN uni r ON r.wh = b.rh),
ranked AS (SELECT *, row_number() OVER (ORDER BY ratio DESC, lh, rh) AS rank
           FROM scored)
SELECT CAST(rank AS BIGINT) AS rank, left_word, right_word,
       CAST(cxy AS BIGINT) AS pair_count,
       CAST(cl AS BIGINT) AS left_count,
       CAST(cr AS BIGINT) AS right_count,
       round(ln(ratio), 6) AS pmi
FROM ranked WHERE rank <= {k}
"""


def quality_gate_by_source(
    documents: DataFrame, q: float = QUALITY_GATE_Q
) -> DataFrame:
    """(source, n_docs, n_kept, threshold): the percentile quality gate
    applied WITHIN each source — every source drops its own bottom-``q``
    instead of competing on one global threshold. This is how mixed-
    corpus curation actually gates (CCNet gates per language/dump): a
    source whose scores run systematically low (different register,
    different boilerplate) would otherwise be wiped out by a global
    cutoff while an easy source sails through — normalizing per source
    keeps the MIX a deliberate choice (``source_mix_weights``) rather
    than a side effect of score-scale drift.

    Same exact integer/value semantics as ``quality_percentile_gate``
    (per-source k-th-smallest threshold over 6-rounded scores, kept iff
    score ≥ t; k = max(floor(q·N_s), 1)), so the gate boundary cannot
    flap across engines.

    100 TB shape — strictly better than the global gate: the (source,
    score) histogram is map-side combined and score-domain-bounded per
    source, the running-count window is PARTITIONED BY SOURCE (group-
    parallel, never the global single-task scan), and the per-source
    thresholds broadcast back onto the histogram — the corpus is
    touched by exactly one aggregation.
    """
    scores = quality_scores(documents).join(
        documents.select("doc_id", "source"), "doc_id"
    )
    hist = scores.groupBy("source", "quality_score").agg(
        F.count(F.lit(1)).cast("bigint").alias("c")
    )
    per_src = Window.partitionBy("source")
    cum = (
        hist.withColumn("n", F.sum("c").over(per_src))
        .withColumn(
            "cum",
            F.sum("c").over(
                per_src.orderBy("quality_score").rowsBetween(
                    Window.unboundedPreceding, 0
                )
            ),
        )
        .withColumn(
            "k", F.greatest(F.floor(F.lit(q) * F.col("n")), F.lit(1))
        )
    )
    thr = (
        cum.filter(F.col("cum") >= F.col("k"))
        .groupBy("source")
        .agg(F.min("quality_score").alias("threshold"))
    )
    return (
        cum.join(F.broadcast(thr), "source")
        .groupBy("source")
        .agg(
            F.sum("c").cast("bigint").alias("n_docs"),
            F.sum(
                F.when(
                    F.col("quality_score") >= F.col("threshold"), F.col("c")
                ).otherwise(0)
            )
            .cast("bigint")
            .alias("n_kept"),
            F.min("threshold").alias("threshold"),
        )
    )


def quality_gate_by_source_sql(q: float = QUALITY_GATE_Q) -> str:
    """Oracle: identical per-source histogram → running count →
    threshold → kept census."""
    return f"""
WITH scores AS (
  SELECT s.doc_id, s.quality_score, d.source
  FROM ({QUALITY_SCORES_SQL}) s JOIN documents d USING (doc_id)),
hist AS (SELECT source, quality_score, CAST(count(*) AS BIGINT) AS c
         FROM scores GROUP BY 1, 2),
cum AS (SELECT source, quality_score, c,
               sum(c) OVER (PARTITION BY source) AS n,
               sum(c) OVER (PARTITION BY source ORDER BY quality_score) AS cum
        FROM hist),
thr AS (SELECT source, min(quality_score) AS threshold
        FROM cum
        WHERE cum >= greatest(CAST(floor({q!r} * n) AS BIGINT), 1)
        GROUP BY source)
SELECT c.source,
       CAST(sum(c.c) AS BIGINT) AS n_docs,
       CAST(sum(CASE WHEN c.quality_score >= t.threshold THEN c.c
                     ELSE 0 END) AS BIGINT) AS n_kept,
       min(t.threshold) AS threshold
FROM cum c JOIN thr t USING (source)
GROUP BY c.source
"""


# ---------------------------------------------------------------------------
# Winnowed fingerprints (MOSS local fingerprinting — r13)
# ---------------------------------------------------------------------------

WINNOW_K = 16   # k-gram length over the normalized text (chars)
WINNOW_W = 8    # window of consecutive k-gram hashes per selection
# the published guarantee: ANY shared substring of length >= K + W - 1
# (= 23 chars here) forces at least one SHARED selected hash, because a
# full window of W grams fits inside the match and both documents see
# the identical hash sequence there -> identical rightmost-min pick
WINNOW_GUARANTEE = WINNOW_K + WINNOW_W - 1
# candidate-join fan-out bound: a fingerprint hash appearing in more
# docs than this is boilerplate (headers, licence lines) and is cut
# before the pair join — the hot-shingle cut the MinHash family uses
WINNOW_HOT_CUT = 64


def _winnow_grams(documents: DataFrame) -> DataFrame:
    """(doc_id, p, h): position-indexed md5 hashes of the K-char grams
    of the whitespace-normalized lowercase text (same canonical form as
    ``fingerprints``). Docs shorter than K grams-out entirely — both
    engines drop them via the same length filter. md5 replaces the
    paper's rolling polynomial hash for engine portability (selection
    semantics identical; production swaps the cheaper rolling hash)."""
    from .hashing import md5_hash64

    norm = F.regexp_replace(F.lower(F.trim(F.col("text"))), " +", " ")
    t = documents.select("doc_id", norm.alias("tx")).filter(
        F.length("tx") >= WINNOW_K
    )
    return t.select(
        "doc_id",
        F.posexplode(
            F.expr(
                f"transform(sequence(1, length(tx) - {WINNOW_K - 1}), "
                f"s -> substring(tx, s, {WINNOW_K}))"
            )
        ).alias("p", "gram"),
    ).select("doc_id", "p", md5_hash64(F.col("gram")).alias("h"))


def winnowed_fingerprints(documents: DataFrame) -> DataFrame:
    """(doc_id, fp_pos, fp_hash): robust-winnowed k-gram fingerprints
    (Schleimer, Wilkerson & Aiken, SIGMOD 2003 — the MOSS algorithm,
    public): in every window of W consecutive gram hashes select the
    minimum, ties broken toward the RIGHTMOST position; the distinct
    selected (position, hash) set is the document's fingerprint, with
    expected density 2/(W+1) of the grams.

    Whole-doc ``fingerprints`` dedups exact copies; the 8-gram overlap
    family needs token alignment; winnowing is the PARTIAL-copy
    detector with a guarantee: any shared stretch >= WINNOW_GUARANTEE
    chars yields a shared selected hash (pinned in tests, plus a
    brute-force Python replication over the fixture).

    Plan: the rightmost-min of the window ending at each position is
    ONE window aggregate — ``min(struct(h, -p))`` over ROWS
    [-(W-1), 0] (struct order: hash asc, then -p asc = position desc),
    a device both engines order identically — followed by a distinct;
    every window of the sequence is the ending-window of some position,
    so this enumerates exactly the paper's per-window selections. One
    shuffle on doc_id, no UDFs, no per-row Python.
    """
    g = _winnow_grams(documents)
    w = (
        Window.partitionBy("doc_id")
        .orderBy("p")
        .rowsBetween(-(WINNOW_W - 1), 0)
    )
    wd = Window.partitionBy("doc_id")
    sel = g.select(
        "doc_id",
        "p",
        F.min(F.struct(F.col("h"), (-F.col("p")).alias("np"))).over(w).alias(
            "m"
        ),
        F.max("p").over(wd).alias("maxp"),
    ).filter((F.col("p") >= WINNOW_W - 1) | (F.col("p") == F.col("maxp")))
    return sel.select(
        "doc_id",
        (-F.col("m.np")).cast("bigint").alias("fp_pos"),
        F.col("m.h").alias("fp_hash"),
    ).distinct()


def winnowed_fingerprint_stats(documents: DataFrame) -> DataFrame:
    """(doc_id, n_grams, n_fps): fingerprint-set size next to the gram
    count per document — the density audit (expected n_fps/n_grams →
    2/(W+1) for random text; pinned loosely in tests). n_grams derives
    from the normalized LENGTH (no gram re-expansion)."""
    norm = F.regexp_replace(F.lower(F.trim(F.col("text"))), " +", " ")
    lens = documents.select("doc_id", norm.alias("tx")).filter(
        F.length("tx") >= WINNOW_K
    ).select(
        "doc_id",
        (F.length("tx") - (WINNOW_K - 1)).cast("bigint").alias("n_grams"),
    )
    fps = winnowed_fingerprints(documents).groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_fps")
    )
    return lens.join(fps, "doc_id").orderBy("doc_id")


def winnowed_copy_candidates(
    documents: DataFrame, min_shared: int = 2, hot_cut: int = WINNOW_HOT_CUT
) -> DataFrame:
    """(doc_a, doc_b, n_shared_fps): document pairs sharing at least
    ``min_shared`` winnowed fingerprint hashes — MOSS's candidate
    output. Pair volume is bounded by the boilerplate cut (a hash in
    more than ``hot_cut`` docs is dropped BEFORE the self-join, the
    hot-shingle device) plus the min-shared filter; the join is an
    equi-join on fp_hash, never all-pairs."""
    from ..session import persist_once

    fp = persist_once(
        winnowed_fingerprints(documents).select("doc_id", "fp_hash").distinct()
    )
    rare = (
        fp.groupBy("fp_hash")
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .filter(F.col("n_docs") <= hot_cut)
        .select("fp_hash")
    )
    kept = fp.join(rare, "fp_hash")
    a = kept.select(F.col("doc_id").alias("doc_a"), "fp_hash")
    b = kept.select(F.col("doc_id").alias("doc_b"), "fp_hash")
    return (
        a.join(b, "fp_hash")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_shared_fps"))
        .filter(F.col("n_shared_fps") >= min_shared)
        .orderBy(F.desc("n_shared_fps"), "doc_a", "doc_b")
    )


def _winnow_fps_sql() -> str:
    """The shared fps CTE body (DuckDB): identical normalization, gram
    hashes, struct-ordered rightmost-min windows, boundary rule."""
    from .hashing import md5_hash64_sql

    h = md5_hash64_sql(f"substring(tx, s, {WINNOW_K})")
    return f"""
t AS (SELECT doc_id,
             regexp_replace(lower(trim(text)), ' +', ' ', 'g') AS tx
      FROM documents),
tl AS (SELECT doc_id, tx FROM t WHERE length(tx) >= {WINNOW_K}),
g AS (SELECT doc_id, s - 1 AS p, {h} AS h
      FROM (SELECT doc_id, tx,
                   unnest(range(1, length(tx) - {WINNOW_K - 1} + 1)) AS s
            FROM tl)),
sel AS (SELECT doc_id, p,
               min({{'h': h, 'np': -p}}) OVER (
                 PARTITION BY doc_id ORDER BY p
                 ROWS BETWEEN {WINNOW_W - 1} PRECEDING AND CURRENT ROW) AS m,
               max(p) OVER (PARTITION BY doc_id) AS maxp
        FROM g),
fps AS (SELECT DISTINCT doc_id,
               -struct_extract(m, 'np') AS fp_pos,
               struct_extract(m, 'h') AS fp_hash
        FROM sel WHERE p >= {WINNOW_W - 1} OR p = maxp)"""


WINNOWED_STATS_SQL = f"""
WITH {_winnow_fps_sql()},
lens AS (SELECT doc_id, length(tx) - {WINNOW_K - 1} AS n_grams
         FROM tl),
cnt AS (SELECT doc_id, count(*) AS n_fps FROM fps GROUP BY doc_id)
SELECT l.doc_id, l.n_grams, c.n_fps
FROM lens l JOIN cnt c USING (doc_id)
ORDER BY doc_id
"""

WINNOWED_COPY_CANDIDATES_SQL = f"""
WITH {_winnow_fps_sql()},
fp AS (SELECT DISTINCT doc_id, fp_hash FROM fps),
rare AS (SELECT fp_hash FROM fp GROUP BY fp_hash
         HAVING count(*) <= {WINNOW_HOT_CUT}),
kept AS (SELECT doc_id, fp.fp_hash FROM fp JOIN rare USING (fp_hash))
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       count(*) AS n_shared_fps
FROM kept a JOIN kept b ON a.fp_hash = b.fp_hash AND a.doc_id < b.doc_id
GROUP BY a.doc_id, b.doc_id
HAVING count(*) >= 2
ORDER BY n_shared_fps DESC, doc_a, doc_b
"""
