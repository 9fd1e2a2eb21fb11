"""Fuzzy record linkage: edit-distance-1 join via deletion-neighborhood
blocking (the SymSpell device, public: Garbe 2012; same family as the
FastSS dictionary of Bocek et al. 2007).

Extension surface (no reference counterpart): entity resolution — "this
corrupted/OCR'd/typo'd record is THAT canonical record" — is a standard
pre-training curation step (merging crawl records that differ by one
keystroke). The naive form is a string theta-join (levenshtein(a, b) ≤ 1
over all pairs): quadratic, never acceptable. The rewrite here is exact
for distance ≤ 1 and is pure equi-join algebra:

    keys(s) = {s} ∪ {s with one character deleted}
    ed(a, b) ≤ 1  ⇒  keys(a) ∩ keys(b) ≠ ∅

(equality shares the identity key; a substitution shares the deletion at
the differing offset; an insertion/deletion shares the shorter string
itself). The converse does not hold — sharing a key bounds ed ≤ 2 — so
candidates are verified with the built-in codegen ``levenshtein`` before
aggregation. The DuckDB oracle runs the LITERAL length-banded
levenshtein join, so hash equality per round proves the deletion
blocking lossless (the ``dedup_prefix_filter`` proof device).

Scale shape: the key inventory is |records| × (name length + 1) rows of
short strings — linear, explode-generated, no Python. The candidate join
is a key equi-join whose per-key fan-out is the number of records within
one deletion of a given pattern (bounded by alphabet × length for
synthetic keys; for natural-language names the hot-key bound is the
modal-name frequency — a data property, not a plan property, and the
verification filter runs INSIDE the join's mapPartitions so no
unverified pair is ever materialized to a shuffle). The final summary is
two map-side-combined aggregates.

The "dirty" side is derived deterministically from the fixture (delete
the character at offset ``c_custkey mod len`` — the PII-scrub
derivation device at functions/text.py): identical expression in both
engines, and it guarantees every dirty record is at ed=1 from its own
canonical row, so blocking recall is testable as an invariant
(``n_self_matched == n_dirty`` in every bucket).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..session import empty_df

# delete the character at 0-based offset (c_custkey mod length)
_DIRTY_EXPR = (
    "concat(substring(c_name, 1, c_custkey % length(c_name)), "
    "substring(c_name, (c_custkey % length(c_name)) + 2))"
)

# {s} ∪ all 1-deletions of s, deduplicated (repeated characters collapse)
_DELETION_KEYS_EXPR = (
    "array_union(array({s}), transform(sequence(1, length({s})), "
    "i -> concat(substring({s}, 1, i - 1), substring({s}, i + 1, length({s})))))"
)

# depth-2 neighborhood: the 1-deletions plus every deletion OF a
# 1-deletion, flattened and deduplicated. Key count is O(len²/2) per
# record — the standard SymSpell space/verify tradeoff for ed ≤ 2.
_DELETION_KEYS2_EXPR = (
    "array_distinct(flatten(transform("
    + _DELETION_KEYS_EXPR
    + ", d -> array_union(array(d), transform(sequence(1, length(d)), "
    "j -> concat(substring(d, 1, j - 1), substring(d, j + 1, length(d))))))))"
)


def _with_keys(df: DataFrame, name_col: str, max_ed: int = 1) -> DataFrame:
    if max_ed not in (0, 1, 2):
        raise ValueError(
            f"deletion blocking supports max_ed 0, 1 or 2, got {max_ed}"
        )
    if max_ed == 0:
        # identity key only — the depth a side degrades to when the
        # other side's key lengths make every deletion layer unmeetable
        # (see _effective_depth)
        expr = "array({s})"
    else:
        expr = _DELETION_KEYS_EXPR if max_ed == 1 else _DELETION_KEYS2_EXPR
    return df.withColumn(
        "bkey", F.explode(F.expr(expr.format(s=name_col)))
    )


def _effective_depth(max_ed: int, max_len_side: int, min_len_other: int) -> int:
    """Deepest deletion layer of one side that can still MEET a partner
    key from the other side (FastSS length algebra): a depth-``d`` key
    has length ``len(name) − d`` and the other side only produces keys
    of length ≥ ``min_len_other − max_ed``, so layer ``d`` is dead for
    the WHOLE side once ``max_len_side − d < min_len_other − max_ed``.
    Generating a dead layer and filtering it away costs the full
    O(len^d) string construction per row — skipping generation is the
    same key set for free (the r14 fuzzy-linkage decomposition measured
    key GENERATION, not the join, as half the ed2 wall)."""
    d = max_ed
    while d > 0 and max_len_side - d < min_len_other - max_ed:
        d -= 1
    return d


def fuzzy_link_summary(customer: DataFrame, max_ed: int = 1) -> DataFrame:
    """Histogram of the linkage outcome: for each dirty record count its
    verified ed≤``max_ed`` canonical candidates; report (n_candidates →
    n_dirty, n_self_matched). Self-recovery must be total by
    construction. ``max_ed`` ∈ {1, 2}: depth-2 deletion neighborhoods
    are the published SymSpell recipe for ed ≤ 2 (every double edit is
    covered by a shared ≤2-deletion key; the levenshtein verify keeps
    the output exact either way)."""
    dirty = customer.select(
        F.col("c_custkey").alias("dirty_id"),
        F.expr(_DIRTY_EXPR).alias("dirty_name"),
    )
    # FastSS length pruning (lossless; guide §2.3 "shuffle fewer bytes" +
    # §1.2 "per-task work", r14): a shared key u reached by i deletions
    # from the dirty name and j from the canonical one satisfies
    # len(u) = len(dirty) − i = len(c_name) − j with 0 ≤ i, j ≤ max_ed,
    # so a key can only ever meet a partner when its length lies in
    # [other side's min length − max_ed, other side's max length]. Two
    # scalar length aggregates bound each side; then
    #   (a) whole deletion LAYERS that are dead for the entire side are
    #       never GENERATED (_effective_depth — generation, not the
    #       join, measured as half the ed2 wall: the depth-2 transform
    #       builds O(len²) strings per row), and
    #   (b) the per-key length band drops the remainder before the join.
    # Every cover key of a true ed ≤ max_ed pair survives (same string,
    # same length on both sides), so blocking recall is untouched —
    # pinned vs brute force on varied-length names in
    # tests/test_round14_ops.py. On the fixture's fixed-width names this
    # reduces the dirty side to depth ≤ max_ed−1 (identity-only at ed1)
    # and drops the canonical identity layer (the r13→r14
    # fuzzy_link_summary_ed2 adjudication, VERDICT r13 item 5).
    lens = customer.agg(
        F.min(F.length("c_name")).alias("clo"),
        F.max(F.length("c_name")).alias("chi"),
        F.min(F.length(F.expr(_DIRTY_EXPR))).alias("dlo"),
        F.max(F.length(F.expr(_DIRTY_EXPR))).alias("dhi"),
    ).first()
    if lens.clo is not None:
        d_dirty = _effective_depth(max_ed, lens.dhi, lens.clo)
        d_canon = _effective_depth(max_ed, lens.chi, lens.dlo)
        dkeys = _with_keys(dirty, "dirty_name", d_dirty).filter(
            F.length("bkey").between(lens.clo - max_ed, lens.chi)
        )
        ckeys = _with_keys(
            customer.select("c_custkey", "c_name"), "c_name", d_canon
        ).filter(F.length("bkey").between(lens.dlo - max_ed, lens.dhi))
    else:  # empty input: degenerate, no pruning stats
        dkeys = _with_keys(dirty, "dirty_name", max_ed)
        ckeys = _with_keys(
            customer.select("c_custkey", "c_name"), "c_name", max_ed
        )
    # Verify BEFORE the pair distinct: levenshtein runs in codegen on the
    # join output (a pair appears once per shared key, a small constant),
    # while the distinct — the one real shuffle — then carries only two
    # 8-byte ids instead of both name strings (measured: the id-only
    # distinct is what the 64× wall is made of; same result because the
    # verdict is a pure function of the pair). BANDED levenshtein
    # (threshold form, Spark 3.5+): the verify only needs "≤ max_ed",
    # and the banded DP computes O(max_ed·len) cells instead of
    # O(len²), returning −1 past the threshold — measured 3.85 → 3.00 s
    # on the ed2 join at sf0.1 with a set-identical result.
    matches = (
        dkeys.join(ckeys, "bkey")
        .filter(
            F.levenshtein(F.col("dirty_name"), F.col("c_name"), max_ed) >= 0
        )
        .select("dirty_id", "c_custkey")
        .distinct()
    )
    per_dirty = matches.groupBy("dirty_id").agg(
        F.count(F.lit(1)).alias("n_candidates"),
        F.max(
            F.when(F.col("c_custkey") == F.col("dirty_id"), 1).otherwise(0)
        ).alias("selfm"),
    )
    return per_dirty.groupBy("n_candidates").agg(
        F.count(F.lit(1)).alias("n_dirty"),
        F.sum("selfm").alias("n_self_matched"),
    )


def fuzzy_link_summary_sql(max_ed: int = 1, subset_mod: int | None = None) -> str:
    """Literal length-banded levenshtein join — equality proves the
    (depth-``max_ed``) deletion blocking lossless. ``subset_mod`` mirrors
    the registry's custkey-modulus density guard."""
    where = f" WHERE c_custkey % {subset_mod} = 0" if subset_mod else ""
    return f"""
WITH cust AS (SELECT c_custkey, c_name FROM customer{where}),
dirty AS (
  SELECT c_custkey AS dirty_id,
         substr(c_name, 1, c_custkey % length(c_name)) ||
         substr(c_name, (c_custkey % length(c_name)) + 2) AS dirty_name
  FROM cust),
m AS (
  SELECT d.dirty_id, c.c_custkey
  FROM dirty d JOIN cust c
    ON abs(length(d.dirty_name) - length(c.c_name)) <= {max_ed}
   AND levenshtein(d.dirty_name, c.c_name) <= {max_ed}),
per AS (
  SELECT dirty_id, count(*) AS n_candidates,
         max(CASE WHEN c_custkey = dirty_id THEN 1 ELSE 0 END) AS selfm
  FROM m GROUP BY 1)
SELECT n_candidates, count(*) AS n_dirty,
       CAST(sum(selfm) AS BIGINT) AS n_self_matched
FROM per GROUP BY 1
"""


FUZZY_LINK_SUMMARY_SQL = fuzzy_link_summary_sql(1)


def linkage_blocking_metrics(customer: DataFrame) -> DataFrame:
    """One row (n_records, n_key_collisions, n_candidate_pairs,
    n_verified_pairs, reduction_ratio, pair_completeness): the standard
    blocking-quality evaluation for entity resolution (Christen 2012 —
    public) applied to the depth-1 deletion blocker:

      * reduction_ratio = 1 − candidates / (n_dirty · n_canonical) —
        how much of the quadratic comparison space the blocker prunes
        (the quantity the SCALE_STRESS linkage annotations measure via
        the key-histogram join, promoted to a first-class report);
      * pair_completeness = found true pairs / all true pairs — the
        blocker's recall. Ground truth here is the self pairs: every
        dirty record is at ed=1 from its own canonical row BY
        DERIVATION, so completeness < 1.0 would mean the deletion
        neighborhood dropped a real match (the losslessness the oracle
        equality proves pairwise, stated as a single auditable number);
      * n_key_collisions (raw shared-key join rows — what the blocker
        PAYS) vs n_candidate_pairs (distinct pairs — what the verifier
        sees): their ratio is the duplicate-key overhead.

    Exactness: all counts exact BIGINTs; the two ratios are single
    divisions rounded to 6.

    Scale shape: the same explode → key equi-join as the linkage itself,
    folded to ONE row by map-side-combined aggregates; the distinct pair
    set is the one real shuffle (8-byte id pairs only).
    """
    spark = customer.sparkSession
    n = customer.count()
    if n == 0:
        # mirror the oracle's GROUP BY, which yields zero rows on an
        # empty table (and the ratios would be 0/0 anyway)
        return empty_df(
            spark,
            "n_records bigint, n_key_collisions bigint, "
            "n_candidate_pairs bigint, n_verified_pairs bigint, "
            "reduction_ratio double, pair_completeness double",
        )
    dirty = customer.select(
        F.col("c_custkey").alias("dirty_id"),
        F.expr(_DIRTY_EXPR).alias("dirty_name"),
    )
    dkeys = _with_keys(dirty, "dirty_name", 1)
    ckeys = _with_keys(customer.select("c_custkey", "c_name"), "c_name", 1)
    joined = dkeys.join(ckeys, "bkey")
    pairs = (
        joined.select(
            "dirty_id",
            "c_custkey",
            (F.levenshtein("dirty_name", "c_name") <= 1).alias("ok"),
        )
        .groupBy("dirty_id", "c_custkey")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_keys"),
            F.max(F.col("ok").cast("int")).alias("ok"),
        )
    )
    agg = pairs.agg(
        F.sum("n_keys").cast("bigint").alias("n_key_collisions"),
        F.count(F.lit(1)).cast("bigint").alias("n_candidate_pairs"),
        F.sum("ok").cast("bigint").alias("n_verified_pairs"),
        F.sum(
            F.when(F.col("dirty_id") == F.col("c_custkey"), 1).otherwise(0)
        )
        .cast("bigint")
        .alias("n_self_found"),
    )
    return agg.select(
        F.lit(n).cast("bigint").alias("n_records"),
        "n_key_collisions",
        "n_candidate_pairs",
        "n_verified_pairs",
        F.round(
            F.lit(1.0)
            - F.col("n_candidate_pairs")
            / (F.lit(n).cast("double") * F.lit(n)),
            6,
        ).alias("reduction_ratio"),
        F.round(
            F.col("n_self_found") / F.lit(n).cast("double"), 6
        ).alias("pair_completeness"),
    )


def linkage_blocking_metrics_sql() -> str:
    """Oracle: the identical deletion-key generation (DuckDB list
    comprehension), shared-key join, verify flag, and ratios."""
    keys = (
        "list_distinct(list_append("
        "list_transform(range(1, length({s}) + 1), "
        "i -> substr({s}, 1, i - 1) || substr({s}, i + 1)), {s}))"
    )
    return f"""
WITH cust AS (SELECT c_custkey, c_name FROM customer),
dirty AS (
  SELECT c_custkey AS dirty_id,
         substr(c_name, 1, c_custkey % length(c_name)) ||
         substr(c_name, (c_custkey % length(c_name)) + 2) AS dirty_name
  FROM cust),
dkeys AS (
  SELECT dirty_id, dirty_name,
         unnest({keys.format(s="dirty_name")}) AS bkey
  FROM dirty),
ckeys AS (
  SELECT c_custkey, c_name,
         unnest({keys.format(s="c_name")}) AS bkey
  FROM cust),
pairs AS (
  SELECT dirty_id, c_custkey,
         count(*) AS n_keys,
         max(CASE WHEN levenshtein(dirty_name, c_name) <= 1
                  THEN 1 ELSE 0 END) AS ok
  FROM dkeys JOIN ckeys USING (bkey)
  GROUP BY 1, 2),
n AS (SELECT count(*) AS n FROM cust)
SELECT CAST(n.n AS BIGINT) AS n_records,
       CAST(sum(n_keys) AS BIGINT) AS n_key_collisions,
       CAST(count(*) AS BIGINT) AS n_candidate_pairs,
       CAST(sum(ok) AS BIGINT) AS n_verified_pairs,
       round(1.0 - count(*) / (CAST(n.n AS DOUBLE) * n.n), 6)
         AS reduction_ratio,
       round(sum(CASE WHEN dirty_id = c_custkey THEN 1 ELSE 0 END)
             / CAST(n.n AS DOUBLE), 6) AS pair_completeness
FROM pairs CROSS JOIN n
GROUP BY n.n
"""


# ---------------------------------------------------------------------------
# URL canonicalization (crawl-record linkage)
# ---------------------------------------------------------------------------
# The messy-URL column is DERIVED deterministically from (doc_id, source)
# with the same expression in both engines (the PII-scrub derivation device):
# four real-world variants of one logical URL — plain; uppercased host with
# www. and a trailing slash; explicit default :443 port with utm_* tracking
# params; www. with a MEANINGFUL (kept) query param.
# variant and path are both driven by q = doc_id DIV 20 through COPRIME
# moduli (4, 9), so within any source every (path, variant) combination
# occurs and the canonicalizer has real duplicates to collapse — deriving
# both from doc_id directly would correlate them through the source
# assignment's period and leave nothing to merge (measured footgun).
_RAW_URL_EXPR_SPARK = (
    "CASE CAST((doc_id DIV 20) % 4 AS INT) "
    " WHEN 0 THEN 'https://' || concat('crawl-', source, '.example.com') "
    "   || concat('/art/', CAST((doc_id DIV 20) % 9 AS STRING)) "
    " WHEN 1 THEN 'HTTPS://WWW.' || upper(concat('crawl-', source, '.example.com')) "
    "   || concat('/art/', CAST((doc_id DIV 20) % 9 AS STRING)) || '/' "
    " WHEN 2 THEN 'https://' || concat('crawl-', source, '.example.com') "
    "   || ':443' || concat('/art/', CAST((doc_id DIV 20) % 9 AS STRING)) "
    "   || '?utm_source=feed&utm_campaign=recrawl' "
    " ELSE 'https://www.' || concat('crawl-', source, '.example.com') "
    "   || concat('/art/', CAST((doc_id DIV 20) % 9 AS STRING)) "
    "   || '?ref=' || CAST(doc_id % 3 AS STRING) "
    "END"
)

_RAW_URL_EXPR_DUCK = (
    "CASE CAST((doc_id // 20) % 4 AS INT) "
    " WHEN 0 THEN 'https://crawl-' || source || '.example.com' "
    "   || '/art/' || CAST((doc_id // 20) % 9 AS VARCHAR) "
    " WHEN 1 THEN 'HTTPS://WWW.' || upper('crawl-' || source || '.example.com') "
    "   || '/art/' || CAST((doc_id // 20) % 9 AS VARCHAR) || '/' "
    " WHEN 2 THEN 'https://crawl-' || source || '.example.com' "
    "   || ':443' || '/art/' || CAST((doc_id // 20) % 9 AS VARCHAR) "
    "   || '?utm_source=feed&utm_campaign=recrawl' "
    " ELSE 'https://www.crawl-' || source || '.example.com' "
    "   || '/art/' || CAST((doc_id // 20) % 9 AS VARCHAR) "
    "   || '?ref=' || CAST(doc_id % 3 AS VARCHAR) "
    "END"
)


def canonical_url_col(raw):
    """Canonicalize a URL column: lower-case scheme+host, drop the default
    https port, strip a leading ``www.``, remove ``utm_*`` tracking params
    (repairing a query string orphaned by a leading-param removal), strip one trailing slash. Lower-casing
    is applied to the WHOLE string — host-safe here by contract because
    every derived path/param is already lower-case; a case-sensitive-path
    corpus would lower only the authority (documented limitation).

    All five steps are codegen string/regex primitives — no UDF — and each
    has an exact DuckDB twin in ``URL_CANONICAL_PROFILE_SQL``."""
    c = F.lower(raw)
    c = F.replace(c, F.lit(":443/"), F.lit("/"))
    c = F.regexp_replace(c, r"^https://www\.", "https://")
    c = F.regexp_replace(c, r"[?&]utm_[a-z]+=[a-z0-9]*", "")
    # repair a query string orphaned by the removal of a LEADING utm param
    # ('/x&ref=2' → '/x?ref=2'): promote the first '&' iff no '?' survives
    # before it (pinned by test_url_canonicalizer_rules, which caught the
    # naive '\?&' repair missing exactly this case)
    c = F.regexp_replace(c, r"^([^?&]*)&", "$1?")
    c = F.regexp_replace(c, r"/$", "")
    return c


def url_canonical_profile(documents: DataFrame) -> DataFrame:
    """Per-source URL dedup profile: how many raw crawl URLs collapse to
    how many canonical ones. (source, n_docs, n_raw_urls,
    n_canonical_urls, fanin = docs per canonical, rounded to 6) — the
    go/no-go report before canonical-URL-keyed exact dedup."""
    raw = F.expr(_RAW_URL_EXPR_SPARK)
    urls = documents.select(
        "source",
        raw.alias("raw_url"),
        canonical_url_col(raw).alias("canon_url"),
    )
    return urls.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.countDistinct("raw_url").alias("n_raw_urls"),
        F.countDistinct("canon_url").alias("n_canonical_urls"),
        F.round(
            F.count(F.lit(1)) / F.countDistinct("canon_url"), 6
        ).alias("fanin"),
    )


URL_CANONICAL_PROFILE_SQL = f"""
WITH urls AS (
  SELECT source,
         ({_RAW_URL_EXPR_DUCK}) AS raw_url,
         regexp_replace(
           regexp_replace(
             regexp_replace(
               regexp_replace(
                 replace(lower(({_RAW_URL_EXPR_DUCK})), ':443/', '/'),
                 '^https://www\\.', 'https://'),
               '[?&]utm_[a-z]+=[a-z0-9]*', '', 'g'),
             '^([^?&]*)&', '\\1?'),
           '/$', '') AS canon_url
  FROM documents)
SELECT source,
       count(*) AS n_docs,
       count(DISTINCT raw_url) AS n_raw_urls,
       count(DISTINCT canon_url) AS n_canonical_urls,
       round(count(*) / CAST(count(DISTINCT canon_url) AS DOUBLE), 6)
         AS fanin
FROM urls
GROUP BY source
"""
