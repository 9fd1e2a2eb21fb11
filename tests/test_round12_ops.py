"""Round-12 operator tests: overflow-class closures and new operators.

Covers the round-11 VERDICT item 4 (burst-predicate DECIMAL promotion,
red-before/green-after) and the ADVICE items landed this round.
"""

from __future__ import annotations

import duckdb
import pytest
from pyspark.sql import functions as F

from bigdata_hwk_spark.operators import behavior as BH


def _true_burst(y: int, trail: list[int], sigmas: int = 3) -> int:
    """Arbitrary-precision Python reference for the burst predicate."""
    n, s, ss = len(trail), sum(trail), sum(t * t for t in trail)
    dev = y * n - s
    return int(dev > 0 and dev * dev > sigmas * sigmas * (n * ss - s * s))


def _wrapped_burst(y: int, trail: list[int], sigmas: int = 3) -> int:
    """The OLD raw-BIGINT semantics (mod-2^64 wrap) — what Spark computed
    before the DECIMAL(38,0) promotion. Kept so the planted cases are
    provably divergence-exercising, not just big."""
    M = 1 << 64

    def wrap(x: int) -> int:
        x %= M
        return x - M if x >= (1 << 63) else x

    n = len(trail)
    s = wrap(sum(trail))
    ss = wrap(sum(wrap(t * t) for t in trail))
    dev = wrap(wrap(y * n) - s)
    var = wrap(wrap(n * ss) - wrap(s * s))
    return int(dev > 0 and wrap(dev * dev) > wrap(sigmas * sigmas * var))


# Two planted cases at per-day counts ~5e9-1e10 (beyond the BIGINT y*y
# wrap at 3.04e9), one in each direction: the true decision and the old
# wrapped decision DISAGREE, so this test was red before the promotion.
BIG_CASES = [
    # (trail days y0,y1,y2, scored-day y, true burst)
    ([5847159444, 5442907182, 5383560419], 8028321105, 1),
    ([7955692390, 7702350753, 5157271462], 10513072689, 0),
]


def test_burst_decimal_promotion_big_counts(spark):
    """VERDICT r11 item 4: dev² > σ²·(n·ss − s²) computed in raw BIGINT
    wraps silently at per-day counts ≳1e9; the DECIMAL(38,0) (Spark) /
    HUGEINT (DuckDB) promotion keeps the decision exact. Planted counts
    where wrap and truth disagree, checked on BOTH engines."""
    for trail, y, want in BIG_CASES:
        assert _true_burst(y, trail) == want
        # guard: the planted case genuinely exercises the divergence
        assert _wrapped_burst(y, trail) != want

    rows = []
    for i, (trail, y, _) in enumerate(BIG_CASES):
        t = f"type{i}"
        for d, v in enumerate(trail + [y]):
            rows.append((t, d, v))
    daily = spark.createDataFrame(
        rows, "event_type string, day bigint, y bigint"
    )
    got = {
        r.event_type: (r.burst, r.trail_sum, r.trail_sumsq)
        for r in BH.bursts_from_daily(daily, w=3, sigmas=3).collect()
    }
    for i, (trail, y, want) in enumerate(BIG_CASES):
        burst, trail_sum, trail_sumsq = got[f"type{i}"]
        assert burst == want, f"case {i}: spark burst {burst} != {want}"
        assert trail_sum == sum(trail)
        # Σy² ≈ 9e19 exceeds BIGINT: the diagnostic column is NULL (via
        # try_cast) on both engines, never a silent wrap
        assert trail_sumsq is None

    # DuckDB twin: identical scoring SQL over the same planted daily
    con = duckdb.connect()
    con.execute(
        "CREATE TABLE daily (event_type VARCHAR, day BIGINT, y BIGINT)"
    )
    con.executemany("INSERT INTO daily VALUES (?, ?, ?)", rows)
    sql = "WITH " + BH.bursts_scoring_sql("daily", w=3, sigmas=3)
    duck = {
        r[0]: (r[5], r[3], r[4])
        for r in con.execute(sql).fetchall()
    }
    assert duck == got


def test_neyman_big_strata_decimal_promotion(spark):
    """r11 ADVICE: Σv² and N·Σv² − (Σv)² in raw BIGINT overflow on
    strata with char-mass ≳3e9 per doc (ANSI error in Spark, HUGEINT
    promotion in DuckDB — a crash-vs-answer divergence). Planted strata
    past the old edge must now produce the exact Python-int allocation
    on BOTH engines."""
    import math

    from bigdata_hwk_spark.operators import splits as SP

    # stratum "big": 3 docs × ~3.1e9 chars (Σv² ≈ 2.9e19 > 2^63);
    # stratum "small": ordinary sizes
    docs = [
        ("big", 3_100_000_000),
        ("big", 3_100_000_007),
        ("big", 2_999_999_999),
        ("small", 1000),
        ("small", 4000),
        ("small", 2500),
    ]
    total_n = 100

    # arbitrary-precision reference (same one-sqrt-then-floor device)
    strata: dict[str, list[int]] = {}
    for g, v in docs:
        strata.setdefault(g, []).append(v)
    wq = {}
    for g, vs in strata.items():
        n, s, ss = len(vs), sum(vs), sum(v * v for v in vs)
        assert g != "big" or ss > (1 << 63)  # guard: exercises the edge
        wq[g] = max(math.floor(math.sqrt(float(n * ss - s * s)) * 1e6), 1)
    w_total = sum(wq.values())
    base = {g: (total_n * q) // w_total for g, q in wq.items()}
    rem = {g: total_n * q - base[g] * w_total for g, q in wq.items()}
    leftover = total_n - sum(base.values())
    order = sorted(wq, key=lambda g: (-rem[g], g))
    want = {
        g: (len(strata[g]), wq[g], base[g] + (1 if i < leftover else 0))
        for i, g in enumerate(order)
    }

    df = spark.createDataFrame(docs, "lang string, n_chars bigint")
    got = {
        r.stratum: (r.n_docs, r.weight_q, r.alloc)
        for r in SP.neyman_stratified_allocation(df, total_n=total_n).collect()
    }
    assert got == want
    assert sum(a for _, _, a in got.values()) == total_n

    con = duckdb.connect()
    con.execute("CREATE TABLE documents (lang VARCHAR, n_chars BIGINT)")
    con.executemany("INSERT INTO documents VALUES (?, ?)", docs)
    duck = {
        r[0]: (r[1], r[2], r[3])
        for r in con.execute(
            SP.neyman_stratified_allocation_sql(total_n=total_n)
        ).fetchall()
    }
    assert duck == want


def test_symmetric_edge_probe_rejects_one_direction_list(spark):
    """r11 ADVICE: hop_distances/kcore_members enforce (not assume) the
    symmetric-edge-list precondition via a sampled probe — a
    one-direction undirected list fails loudly instead of silently
    miscounting degrees / missing seeds."""
    from bigdata_hwk_spark.operators import graph as G

    one_way = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4)], "src bigint, dst bigint"
    )
    sym = one_way.union(
        one_way.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    with pytest.raises(ValueError, match="not symmetric"):
        G.hop_distances(one_way, seed_mod=1, max_hops=2)
    with pytest.raises(ValueError, match="not symmetric"):
        G.kcore_members(one_way, k=1)

    # symmetric lists pass the probe and still compute correctly
    hops = {
        r.part_id: r.hops
        for r in G.hop_distances(sym, seed_mod=2, max_hops=3).collect()
    }
    assert hops == {2: 0, 4: 0, 1: 1, 3: 1}
    core = {
        r.part_id: r.core_degree
        for r in G.kcore_members(sym, k=1).collect()
    }
    assert core == {1: 1, 2: 2, 3: 2, 4: 1}


def _mk_events(spark, rows):
    """rows: (day, event_type, user_id, value) → events-shaped df."""
    return spark.createDataFrame(
        [(d * 86400, t, u, v) for d, t, u, v in rows],
        "epoch bigint, event_type string, user_id bigint, value double",
    ).select(
        F.col("epoch").cast("timestamp").alias("ts"),
        "event_type",
        "user_id",
        "value",
    )


def test_k_anonymity_enforce_hand_case(spark):
    """VERDICT r11 item 6: the generalization ladder by hand, k=3.
    Type 'ok' satisfies k at L0; type 'wk' violates daily but one
    day→week step repairs it (the prescribed hand case); type 'sup' is
    unrepairable at the top level and gets its violating cell
    suppressed while its full cell survives."""
    from bigdata_hwk_spark.operators import privacy as PV

    rows = []
    # 'ok': one day-cell with 3 users
    rows += [(0, "ok", u, 1.0) for u in (1, 2, 3)]
    # 'wk': days 0,1,2 of the same week, one distinct user per day in
    # the same bucket — each day-cell has 1 user (violates), the merged
    # week-cell has 3 (repaired at L1)
    rows += [(d, "wk", 10 + d, 1.0) for d in (0, 1, 2)]
    # 'sup': one user alone in every ladder cell (suppressed at L2) plus
    # a separate week with 3 users sharing a cell (released at L2)
    rows += [(0, "sup", 99, 1.0)]
    rows += [(7, "sup", u, 1.0) for u in (20, 21, 22)]
    ev = _mk_events(spark, rows)

    got = PV.k_anonymity_enforce(ev, k=3).collect()
    by_type: dict = {}
    for r in got:
        by_type.setdefault(r.event_type, []).append(r)

    # 'ok' released at level 0, day preserved
    assert {(r.level, r.qi_day) for r in by_type["ok"]} == {(0, 0)}
    assert {r.user_id for r in by_type["ok"]} == {1, 2, 3}
    # 'wk' released at level 1: the three days fold into week-start 0
    assert {(r.level, r.qi_day) for r in by_type["wk"]} == {(1, 0)}
    assert {r.user_id for r in by_type["wk"]} == {10, 11, 12}
    # 'sup' released at level 2: user 99's singleton cell is SUPPRESSED,
    # the 3-user week survives
    assert {r.user_id for r in by_type["sup"]} == {20, 21, 22}
    assert {(r.level, r.qi_day) for r in by_type["sup"]} == {(2, 7)}


def test_k_anonymity_enforce_invariant_and_oracle(spark):
    """Post-transform audit shows zero violations at the same k (the
    invariant the full-domain policy guarantees by construction), on
    the real fixture; and the DuckDB oracle matches row-for-row."""
    from tests.conftest import SF_SMOKE, assert_matches_oracle

    from bigdata_hwk_spark.operators import privacy as PV
    from bigdata_hwk_spark.sources.tables import load_table

    ev = load_table(spark, SF_SMOKE, "events")
    rel = PV.k_anonymity_enforce(ev, k=PV.K_ANON)
    rel.cache()
    try:
        assert rel.count() > 0
        # released user-cell rows are unique per (cell, user), so the
        # per-cell row count IS the distinct-user census
        viol = (
            rel.groupBy("event_type", "qi_day", "qi_bucket")
            .agg(F.count(F.lit(1)).alias("n_users"))
            .filter(F.col("n_users") < PV.K_ANON)
            .count()
        )
        assert viol == 0
    finally:
        rel.unpersist()

    assert_matches_oracle(
        PV.k_anonymity_enforce(ev, k=PV.K_ANON),
        PV.k_anonymity_enforce_sql(k=PV.K_ANON),
        SF_SMOKE,
    )


def test_privacy_fold_rejects_late_data_past_watermark(spark):
    """A batch carrying a row for an already-closed day must fail
    loudly (the MG-ingest monotone-chunk contract), never silently
    undercount distinct users."""
    from bigdata_hwk_spark.streaming.privacy_stream import (
        _CELL_SCHEMA,
        _UC_SCHEMA,
        fold_privacy_batch,
        privacy_monitor_census,
    )

    state = {
        "open": spark.createDataFrame([], _UC_SCHEMA),
        "closed": spark.createDataFrame([], _CELL_SCHEMA),
        "max_day": None,
    }
    uc = "event_type string, day bigint, bucket int, user_id bigint, n_rows bigint"
    b1 = spark.createDataFrame(
        [("a", 0, 0, 1, 2), ("a", 5, 0, 2, 1)], uc
    )
    fold_privacy_batch(state, b1, late_days=1)
    # day 0 closed (cutoff = 5-1 = 4): compacted to a census cell
    assert state["max_day"] == 5
    assert {r.day for r in state["closed"].collect()} == {0}
    assert {r.day for r in state["open"].collect()} == {5}
    # a late row for closed day 3 trips the guard
    late = spark.createDataFrame([("a", 3, 0, 7, 1)], uc)
    with pytest.raises(RuntimeError, match="closed watermark"):
        fold_privacy_batch(state, late, late_days=1)
    # in-window data still folds and the census sees the closed cell
    ok = spark.createDataFrame([("a", 6, 0, 8, 1)], uc)
    fold_privacy_batch(state, ok, late_days=1)
    cen = {r.event_type: r.n_cells for r in privacy_monitor_census(state).collect()}
    assert cen == {"a": 3}


def test_decorrelated_customer_names_linear_linkage(spark):
    """VERDICT r11 item 3: the stress transform's decorrelated-name
    variant must (a) never verify a cross-replica pair at ed ≤ 2 (the
    4-letter Hamming-≥3 suffix guarantees distance ≥ 3) and (b) keep
    SymSpell candidate volume ~linear in replicas — the properties that
    make fuzzy_link_summary_ed2_decorrelated measure the engine, not
    the verbatim-name 64² physics."""
    import sys

    sys.path.insert(0, "/root/repo/scripts")
    from scale_stress import (
        ID_STRIDE,
        _replica_codes,
        decorrelate_customer_names,
    )

    from bigdata_hwk_spark.operators.linkage import _DIRTY_EXPR, _with_keys

    codes = _replica_codes(64)
    assert len(set(codes)) == 64
    assert all(
        sum(a != b for a, b in zip(c1, c2)) >= 3
        for i, c1 in enumerate(codes)
        for c2 in codes[:i]
    )

    base = spark.read.parquet(
        "/root/testdata/sf0.001/customer.parquet"
    ).select("c_custkey", "c_name")

    def replicated(n):
        df = base
        for r in range(1, n):
            df = df.union(
                base.select(
                    (F.col("c_custkey") + r * ID_STRIDE).alias("c_custkey"),
                    "c_name",
                )
            )
        return decorrelate_customer_names(df)

    def volume_and_cross(df):
        dirty = df.select(
            F.col("c_custkey").alias("dirty_id"),
            F.expr(_DIRTY_EXPR).alias("dirty_name"),
        )
        dk = _with_keys(dirty, "dirty_name", 2).groupBy("bkey").agg(
            F.count(F.lit(1)).alias("nd")
        )
        ck = _with_keys(df, "c_name", 2).groupBy("bkey").agg(
            F.count(F.lit(1)).alias("nc")
        )
        vol = dk.join(ck, "bkey").agg(
            F.sum(F.col("nd") * F.col("nc"))
        ).first()[0]
        cross = (
            _with_keys(dirty, "dirty_name", 2)
            .join(_with_keys(df, "c_name", 2), "bkey")
            .filter(F.levenshtein("dirty_name", "c_name") <= 2)
            .select("dirty_id", "c_custkey")
            .distinct()
            .filter(
                F.expr(f"dirty_id div {ID_STRIDE}")
                != F.expr(f"c_custkey div {ID_STRIDE}")
            )
            .count()
        )
        return vol, cross

    v1, x1 = volume_and_cross(replicated(1))
    v4, x4 = volume_and_cross(replicated(4))
    assert x1 == 0 and x4 == 0
    # linear candidate volume with a small headroom (3.95 measured)
    assert v4 <= 4.5 * v1


def test_l_diversity_hand_case(spark):
    """Distinct l-diversity by hand (l=2): a cell whose rows all share
    one event_type violates even with many users (the disclosure
    k-anonymity misses); a two-type cell passes."""
    from bigdata_hwk_spark.operators import privacy as PV

    rows = []
    # day 0, bucket 0: 4 rows, all type "a" → violates l=2
    rows += [(0, "a", u, 1.0) for u in range(4)]
    # day 0, bucket 2: types a+b → diverse
    rows += [(0, "a", 1, 25.0), (0, "b", 2, 25.0)]
    # day 1, bucket 0: single row single type → violates
    rows += [(1, "b", 9, 1.0)]
    ev = _mk_events(spark, rows)
    got = {
        r.day: (r.n_cells, r.n_violating_cells, r.n_rows, r.n_rows_at_risk)
        for r in PV.l_diversity_audit(ev, l_min=2).collect()
    }
    assert got == {0: (2, 1, 6, 4), 1: (1, 1, 1, 1)}


def test_quality_gate_by_source_hand_case(spark):
    """Per-source gating by hand: a low-scoring source keeps its own
    top docs instead of being wiped out by the global threshold, and
    per-source k = max(floor(q*N), 1) drops exactly the bottom share."""
    from bigdata_hwk_spark.functions import text as TX

    # source A: 4 high-quality-ish docs; source B: 4 short/repetitive
    # docs whose scores sit far below A's — a global bottom-50% gate
    # would drop all of B
    docs = []
    for i in range(4):
        docs.append(
            (i, "the quick brown fox jumps over the lazy dog and then "
                "rests in the shade of a tall tree near the river " + str(i),
             "en", "A", 100)
        )
    for i in range(4, 8):
        docs.append((i, "spam spam spam spam " + "spam " * i, "en", "B", 20))
    df = spark.createDataFrame(
        docs, "doc_id bigint, text string, lang string, source string, n_chars int"
    )
    got = {
        r.source: (r.n_docs, r.n_kept)
        for r in TX.quality_gate_by_source(df, q=0.5).collect()
    }
    assert got["A"][0] == 4 and got["B"][0] == 4
    # each source keeps its own top half (ties can keep more, never fewer)
    assert got["A"][1] >= 2 and got["B"][1] >= 2
    assert got["A"][1] < 4 or got["B"][1] < 4  # the gate actually drops

    # contrast: the GLOBAL gate at q=0.5 under-keeps the low-scoring
    # source (B's docs compete against A's on one threshold), while the
    # per-source gate guarantees B keeps its own top share
    gate = TX.quality_percentile_gate(df, q=0.5)
    kept_b_global = (
        gate.join(df.select("doc_id", "source"), "doc_id")
        .filter((F.col("source") == "B") & F.col("kept"))
        .count()
    )
    assert kept_b_global < got["B"][1]


def test_ansi_mode_is_on(spark):
    """The overflow-loudness contracts (burst/Neyman DECIMAL promotion
    docstrings: 'errors loudly under ANSI, never wraps') depend on
    spark.sql.ansi.enabled staying true — the Spark 4 default, which
    get_spark deliberately does not override. If this pin ever trips,
    every 'loud overflow' claim in the repo needs re-auditing (non-ANSI
    decimal overflow silently NULLs instead)."""
    assert spark.conf.get("spark.sql.ansi.enabled") == "true"


def test_linkage_blocking_metrics_empty_table(spark):
    """Empty input: both engines yield ZERO rows (the oracle's GROUP BY
    collapses; the Spark side mirrors it explicitly instead of emitting
    a 0/0 ratio row)."""
    import duckdb as _duck

    from bigdata_hwk_spark.operators import linkage as LK

    empty = spark.createDataFrame([], "c_custkey bigint, c_name string")
    assert LK.linkage_blocking_metrics(empty).count() == 0
    con = _duck.connect()
    con.execute("CREATE TABLE customer (c_custkey BIGINT, c_name VARCHAR)")
    assert con.execute(LK.linkage_blocking_metrics_sql()).fetchall() == []


def test_linkage_blocking_metrics_hand_case(spark):
    """Blocking metrics on a 3-record planted set, every count checked
    by hand; completeness 1.0 is the blocking-recall invariant."""
    from bigdata_hwk_spark.operators import linkage as LK

    # names chosen so keys collide across exactly one non-self pair:
    # "ab" and "abc" share key "ab" (deletion of c). custkey mod len
    # derivation: 1 % 2 = 1 -> "a"; 2 % 3 = 2 -> "ab"; 9 % 4 = 1 -> "bxcd"?
    cust = spark.createDataFrame(
        [(1, "ab"), (2, "abc"), (9, "wxyz")],
        "c_custkey bigint, c_name string",
    )
    r = LK.linkage_blocking_metrics(cust).collect()[0]
    # dirty names: 1->"a" (del pos 1), 2->"ab" (del pos 2), 9->"wyz"
    # keys(dirty 1:"a") = {"a", ""}; keys(c 1:"ab") = {"ab","b","a"}
    # candidate pairs: (1,1) via "a"; (2,1) via dirty "ab" keys
    # {"ab","b","a"} vs cust1 {"ab","b","a"} (3 shared keys) and vs
    # cust2 "abc" keys {"abc","bc","ac","ab"} via "ab"; (1,2)? dirty
    # "a" keys {"a",""} vs cust2 keys -> none; (9,9) via "wyz".
    assert r.n_records == 3
    assert r.pair_completeness == 1.0  # every self pair found
    got_pairs = r.n_candidate_pairs
    # pairs: (1,1), (2,1), (2,2), (9,9) = 4
    assert got_pairs == 4
    # verified: (1,1) ed("a","ab")=1 ok; (2,1) ed("ab","ab")=0 ok;
    # (2,2) ed("ab","abc")=1 ok; (9,9) ed("wyz","wxyz")=1 ok
    assert r.n_verified_pairs == 4
    assert r.reduction_ratio == round(1 - 4 / 9, 6)


def test_rrf_hybrid_fusion_hand_case(spark):
    """RRF by hand: a document ranked 2nd by BOTH systems must beat one
    ranked 1st by a single system (2/(c+2) > 1/(c+1) at c=60), and
    single-system documents carry a NULL rank on the absent side."""
    from bigdata_hwk_spark.operators import retrieval as RV

    # lexical corpus: doc 10 is the clear bm25 winner for "alpha beta"
    # (both terms, short), doc 20 has one term, doc 30 has both terms in
    # a longer doc (rank 2 lexically); doc 40 is lexical noise
    docs = spark.createDataFrame(
        [
            (10, "alpha beta"),
            (20, "alpha gamma delta epsilon"),
            (30, "alpha beta filler filler filler"),
            (40, "zeta eta theta"),
        ],
        "doc_id bigint, text string",
    )
    # semantic corpus: query vec_id=1; doc 30 is the closest corpus
    # vector after the query itself... keep it simple: 30 close, 40
    # exact-duplicate direction (rank 1), 10/20 orthogonal-ish
    embs = spark.createDataFrame(
        [
            (1, [1.0, 0.0]),
            (10, [0.0, 1.0]),
            (20, [0.1, 1.0]),
            (30, [0.9, 0.2]),
            (40, [1.0, 0.0]),
        ],
        "vec_id bigint, embedding array<double>",
    )
    got = {
        (r.query_id, r.rnk): (r.doc_id, r.lex_rnk, r.sem_rnk)
        for r in RV.rrf_hybrid_topk(
            docs, embs, queries=[(1, "alpha beta")], topk=3
        ).collect()
    }
    # semantic ranking for query 1: 1 (self, cos 1.0), 40 (cos 1.0 —
    # tie broken by id: doc 1 first), 30; lexical: 10, 30
    # doc 30: lex 2 + sem 3 → 1/62 + 1/63 = .032003
    # doc 1 (self vec): sem 1 → 1/61 = .016393
    # doc 40: sem 2 → 1/62 = .016129 ; doc 10: lex 1 → 1/61 = .016393
    assert got[(1, 1)][0] == 30
    assert got[(1, 1)][1] == 2 and got[(1, 1)][2] == 3
    # tie at .016393 between doc 1 (sem-only) and doc 10 (lex-only):
    # doc_id ascending
    assert got[(1, 2)] == (1, None, 1)
    assert got[(1, 3)] == (10, 1, None)


def test_burst_fixture_rows_unchanged_by_promotion(spark):
    """The promotion is value-neutral at fixture scale: the hand case
    from test_event_type_bursts_hand_case still holds bit-for-bit."""
    rows = []
    for d, n in [(0, 10), (1, 10), (2, 10), (3, 10), (4, 11), (5, 40)]:
        rows.extend([(d * 86400 + i, "a") for i in range(n)])
    df = spark.createDataFrame(
        rows, "epoch bigint, event_type string"
    ).select(F.col("epoch").cast("timestamp").alias("ts"), "event_type")
    got = {
        r.day: (r.y, r.trail_sum, r.trail_sumsq, r.burst)
        for r in BH.event_type_bursts(df, w=3, sigmas=3).collect()
    }
    assert got == {
        3: (10, 30, 300, 0),
        4: (11, 30, 300, 1),
        5: (40, 31, 321, 1),
    }
