"""Round-14 optimization pins: each changed operator keeps its exact
semantics under the restructured plan.

* fuzzy_link_summary: the FastSS key-length pruning must be lossless —
  pinned against a brute-force levenshtein histogram on a varied-length
  name set (the fixture's uniform 18-char names would never exercise the
  min/max bounds).
* _band_keys_from_shingles: non-divisible (h, bands) configs must emit
  the trailing partial band exactly as the long form does (r13 ADVICE —
  the fused form silently dropped it).
* local_df: a None in a numeric column degrades to the classic (pickled)
  createDataFrame path instead of NaN-widening (r13 ADVICE).
"""

from __future__ import annotations

import pytest

SF_SMOKE = "/root/testdata/sf0.001"


def _ed(a: str, b: str) -> int:
    dp = list(range(len(b) + 1))
    for i, ca in enumerate(a, 1):
        prev, dp[0] = dp[0], i
        for j, cb in enumerate(b, 1):
            prev, dp[j] = dp[j], min(dp[j] + 1, dp[j - 1] + 1, prev + (ca != cb))
    return dp[-1]


@pytest.mark.parametrize("max_ed", [1, 2])
def test_fuzzy_link_length_pruning_is_lossless(spark, max_ed):
    """Varied-length names (4..12 chars) stress the min/max length
    bounds; the summary must equal the brute-force ed≤max_ed histogram
    over the identically derived dirty side."""
    from bigdata_hwk_spark.operators import linkage as LK

    names = [
        (1, "abcd"),
        (2, "abcde"),
        (3, "abc"),          # short tail
        (4, "zyxwvuts"),
        (5, "zyxwvutsr"),
        (6, "mnopqrstuvwx"),  # long tail
        (7, "mnopqrstuvw"),
        (8, "aacd"),
        (9, "abkd"),
        (10, "qqqq"),
    ]
    cust = spark.createDataFrame(names, "c_custkey bigint, c_name string")
    got = {
        (r.n_candidates, r.n_dirty, r.n_self_matched)
        for r in LK.fuzzy_link_summary(cust, max_ed=max_ed).collect()
    }

    # brute force: identical dirty derivation, full levenshtein join
    def dirty_name(key: int, name: str) -> str:
        off = key % len(name)  # 0-based char at `off` deleted
        return name[:off] + name[off + 1 :]

    dirty = [(k, dirty_name(k, n)) for k, n in names]
    per = {}
    selfm = {}
    for dk, dn in dirty:
        cands = [ck for ck, cn in names if _ed(dn, cn) <= max_ed]
        per[dk] = len(cands)
        selfm[dk] = 1 if dk in cands else 0
    want = {
        (nc, sum(1 for d in per if per[d] == nc),
         sum(selfm[d] for d in per if per[d] == nc))
        for nc in set(per.values())
    }
    assert got == want


def test_fused_band_keys_emit_partial_band(spark):
    """h=16, bands=5 → r=3: the long form emits a 6th band holding
    minhash row 15; the fused form must produce the identical key set
    (r13 ADVICE: it silently dropped the remainder band)."""
    from bigdata_hwk_spark.operators import dedup as D

    docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet").limit(64)
    ex = D.doc_shingles(docs)
    h, bands = 16, 5
    r = h // bands
    long_form = {
        (x.doc_id, x.bk)
        for x in D._band_keys(D._minhash_from_shingles(ex, h), r).collect()
    }
    fused = {
        (x.doc_id, x.bk)
        for x in D._band_keys_from_shingles(ex, h, r).collect()
    }
    assert fused == long_form
    # and the partial band is genuinely present: 6 distinct bands' worth
    # of keys per doc (minus within-doc key collisions)
    from collections import Counter

    per_doc = Counter(d for d, _ in fused)
    assert max(per_doc.values()) == -(-h // r)  # ceil(16/3) = 6


def test_local_df_none_numeric_falls_back(spark):
    from bigdata_hwk_spark.session import local_df

    rows = [(1, 2.5), (2, None)]
    out = local_df(spark, rows, "a bigint, b double").collect()
    got = {(r.a, r.b) for r in out}
    assert got == {(1, 2.5), (2, None)}
