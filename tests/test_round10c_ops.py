"""Round-10c operators: trigram stupid-backoff, PSI drift (+ streaming
monitor), grid DBSCAN, Misra-Gries (+ streaming ingest), per-type daily
OLS trend, the oracle-checked release funnel and event debounce (greedy
coverage selection is in test_select.py; BFS hop distances, degree
assortativity and k-core are in test_graph.py; item-item CF and Apriori
triples are in test_pairs.py). The registry oracle sweep (test_outliers.py /
test_extensions.py) proves hash equality vs DuckDB at the gate SFs;
these tests pin operator-level semantics on hand-built inputs where
every branch is computed by hand, plus the streaming ≡ batch equality
pins."""

from __future__ import annotations

import math

from bigdata_hwk_spark.functions import text as TX


def test_trigram_backoff_hand_case(spark):
    # train (doc 0): positions N=6, vocab V={a,b,c,d} (4)
    # trigrams: {a b c, b c a, c a b, a b d}; bigrams: {a b:2, b c, c a, b d}
    # unigrams: a:2 b:2 c:1 d:1
    docs = spark.createDataFrame(
        [(0, "a b c a b d"), (1, "c a b x b d")],
        "doc_id bigint, text string",
    )
    rows = TX.trigram_backoff_scores(docs).collect()
    assert len(rows) == 1
    r = rows[0]
    assert r.doc_id == 1
    # test positions: (c,a,b) tri hit; (a,b,x) uni floor (x unseen);
    # (b,x,b) uni floor (b seen: c=2); (x,b,d) bigram backoff ("b d" seen)
    assert r.n_trigrams == 4
    assert r.n_backoff_bi == 1
    assert r.n_backoff_uni == 2
    d = math.log(2) - math.log(5)  # ln(0.4)
    lnp = [
        math.log(1) - math.log(1),                     # c(cab)=1 / c(ca)=1
        2 * d + math.log(0 + 1) - math.log(6 + 4),     # x unseen
        2 * d + math.log(2 + 1) - math.log(6 + 4),     # c(b)=2
        d + math.log(1) - math.log(2),                 # c(bd)=1 / c(b)=2
    ]
    expect = round(-sum(lnp) / 4, 6)
    assert r.avg_neg_logprob == expect


def test_trigram_backoff_short_and_train_docs_drop(spark):
    # docs with <3 tokens produce no trigram positions; train (even ids)
    # never appear in the output
    docs = spark.createDataFrame(
        [(0, "a b c d"), (1, "a b"), (3, "a b c")],
        "doc_id bigint, text string",
    )
    rows = {r.doc_id: r for r in TX.trigram_backoff_scores(docs).collect()}
    assert set(rows) == {3}
    assert rows[3].n_trigrams == 1


def _psi_events(spark):
    from pyspark.sql import functions as F

    # days 0..3 -> mid_day = 1 (ref: days 0-1, cur: days 2-3)
    rows = []
    # type a: ref all bucket 0 (value 1.0), cur all bucket 1 (value 6.0)
    for d in (0, 1):
        rows += [(d * 86400 + 10, "a", 1.0), (d * 86400 + 20, "a", 1.0)]
    for d in (2, 3):
        rows += [(d * 86400 + 10, "a", 6.0), (d * 86400 + 20, "a", 6.0)]
    # type b: identical distribution in both halves -> PSI exactly 0
    for d in (0, 1, 2, 3):
        rows.append((d * 86400 + 30, "b", 1.0))
    df = spark.createDataFrame(rows, "epoch bigint, event_type string, value double")
    return df.select(
        F.col("epoch").cast("timestamp").alias("ts"), "event_type", "value"
    )


def test_value_drift_psi_hand_case(spark):
    import math

    from bigdata_hwk_spark.operators import robust as RB

    got = {r.event_type: r for r in RB.value_drift_psi(_psi_events(spark)).collect()}
    assert set(got) == {"a", "b"}
    a, b = got["a"], got["b"]
    assert (a.n_ref, a.n_cur, a.n_buckets) == (4, 4, 2)
    # cells (cr, cc): bucket0 (4,0), bucket1 (0,4); add-one over b=2:
    # term0 = (5/6 - 1/6)·ln(5/1); term1 = (1/6 - 5/6)·ln(1/5) — equal
    assert a.psi == round(2 * (4 / 6) * math.log(5), 6)
    # identical halves: p == q in every cell -> every term exactly 0
    assert (b.n_ref, b.n_cur, b.n_buckets) == (2, 2, 1)
    assert b.psi == 0.0


def test_grid_dbscan_hand_case(spark):
    from bigdata_hwk_spark.operators import clustering as CL

    def cell_pts(cx, cy, n, side=1.0):
        # n points strictly inside cell (cx, cy)
        return [(cx * side + 0.1 + 0.01 * i, cy * side + 0.5) for i in range(n)]

    pts = (
        cell_pts(0, 0, 3)        # dense, adjacent to (0,1)
        + cell_pts(0, 1, 3)      # dense -> cluster {(0,0),(0,1)}
        + cell_pts(5, 5, 4)      # isolated dense -> singleton cluster
        + cell_pts(2, 8, 2)      # sparse: excluded
        + cell_pts(10, 10, 3)    # dense, diagonal neighbor of (11,11)
        + cell_pts(11, 11, 3)    # dense -> diagonal adjacency joins them
    )
    df = spark.createDataFrame(
        [(i, x, y) for i, (x, y) in enumerate(pts)], "point_id bigint, x double, y double"
    )
    out = CL.grid_dbscan_clusters(df, side=1.0, minpts=3)
    rows = {r.cluster_id: (r.n_cells, r.n_points) for r in out.collect()}
    key = lambda cx, cy: cx * (1 << 22) + cy
    assert rows == {
        key(0, 0): (2, 6),
        key(5, 5): (1, 4),
        key(10, 10): (2, 6),
    }
    # partition-layout invariance (labels are min keys, not partition ids)
    rows_rep = {
        r.cluster_id: (r.n_cells, r.n_points)
        for r in CL.grid_dbscan_clusters(
            df.repartition(7), side=1.0, minpts=3
        ).collect()
    }
    assert rows_rep == rows


def _mg_stream(spark, items):
    return spark.createDataFrame(
        [(i, it) for i, it in enumerate(items)], "seq bigint, item bigint"
    )


def test_misra_gries_hand_case(spark):
    from bigdata_hwk_spark.operators import sketches as SK

    # chunk0 [1,1,1,2] -> {1:3,2:1} (<=k, no compress)
    # chunk1 [3,1,2,2] -> {2:2,1:1,3:1} -> pivot d=1 -> {2:1}
    # merge: {1:3, 2:2}
    df = _mg_stream(spark, [1, 1, 1, 2, 3, 1, 2, 2])
    got = {
        r.item: r.est_count
        for r in SK.misra_gries_summary(df, k=2, chunk=4, fanin=2).collect()
    }
    assert got == {1: 3, 2: 2}
    # layout invariance: chunking is keyed by seq, not partition
    got_rep = {
        r.item: r.est_count
        for r in SK.misra_gries_summary(
            df.repartition(5), k=2, chunk=4, fanin=2
        ).collect()
    }
    assert got_rep == got


def test_misra_gries_deterministic_bounds_on_fixture(spark):
    from pyspark.sql import functions as F

    from bigdata_hwk_spark.operators import sketches as SK
    from bigdata_hwk_spark.sources.tables import load_table

    ev = load_table(spark, "/root/testdata/sf0.001", "events")
    k = 16
    est = {
        r.item: r.est_count
        for r in SK.user_heavy_hitters_mg(ev, k=k).collect()
    }
    assert 0 < len(est) <= k
    true = {
        r.user_id: r.c
        for r in ev.groupBy("user_id").agg(F.count(F.lit(1)).alias("c")).collect()
    }
    n = sum(true.values())
    bound = (n - sum(est.values())) / (k + 1)
    for item, e in est.items():
        assert e <= true[item], (item, e, true[item])
    for item, t in true.items():
        assert t - est.get(item, 0) <= bound, (item, t, est.get(item, 0), bound)
    # superset property: anything heavier than the dropped-mass bound
    # must be present
    for item, t in true.items():
        if t > bound:
            assert item in est


def test_event_type_daily_trend_hand_case(spark):
    from pyspark.sql import functions as F

    from bigdata_hwk_spark.operators import behavior as BH

    rows = []
    def add(t, day, n):
        rows.extend([(day * 86400 + i, t) for i in range(n)])

    add("up", 0, 1); add("up", 1, 2); add("up", 2, 3)      # perfect line
    add("flat", 0, 2); add("flat", 1, 2)                   # constant counts
    add("one", 0, 5)                                       # single day
    add("noisy", 0, 1); add("noisy", 1, 3); add("noisy", 2, 2)
    ev = spark.createDataFrame(
        rows, "epoch bigint, event_type string"
    ).select(F.col("epoch").cast("timestamp").alias("ts"), "event_type")
    got = {r.event_type: r for r in BH.event_type_daily_trend(ev).collect()}
    up = got["up"]
    assert (up.n_days, up.total_events) == (3, 6)
    assert (up.slope, up.intercept, up.r2) == (1.0, 1.0, 1.0)
    flat = got["flat"]
    assert (flat.slope, flat.intercept, flat.r2) == (0.0, 2.0, 1.0)
    one = got["one"]
    assert (one.n_days, one.slope, one.intercept, one.r2) == (1, 0.0, 5.0, 1.0)
    noisy = got["noisy"]
    # sums: sx=3 sy=6 sxy=7 sxx=5 syy=14 -> slope 0.5, intercept 1.5,
    # r2 = 3^2 / (6 * 6) = 0.25
    assert (noisy.slope, noisy.intercept, noisy.r2) == (0.5, 1.5, 0.25)


def test_release_funnel_python_mirror(spark):
    """Funnel stage counts must equal an independent Python replay of the
    recipe (exact dup keeper, quality+length gate, 8-gram contamination)."""
    from bigdata_hwk_spark.pipeline import (
        RELEASE_EVAL_MOD,
        RELEASE_MIN_TOKENS,
        release_funnel_report,
    )

    long_tail = " ".join(f"tok{i}" for i in range(30))
    eval_gram = "e1 e2 e3 e4 e5 e6 e7 e8"
    rows = [
        (0, f"{eval_gram} {long_tail}"),                    # eval split
        (1, f"alpha beta {long_tail}"),                     # clean survivor
        (2, f"dup body {long_tail}"),                       # exact dup keeper
        (9, f"dup body {long_tail}"),                       # exact dup dropped
        (3, f"{eval_gram} stolen {long_tail}"),             # contaminated
        (4, "short doc"),                                   # token-floor cut
    ]
    docs = spark.createDataFrame(rows, "doc_id bigint, text string")
    got = {
        r.stage_ord: (r.stage, r.n_docs, r.n_tokens)
        for r in release_funnel_report(docs).collect()
    }

    # independent python replay
    toks = {i: len(t.split(" ")) for i, t in rows}
    q = {
        r.doc_id: r.quality_score
        for r in TX.quality_scores(docs).collect()
    }
    corpus = [i for i, _ in rows if i % RELEASE_EVAL_MOD != 0]
    seen, s2 = set(), []
    for i in sorted(corpus):
        t = dict(rows)[i]
        if t not in seen:
            seen.add(t)
            s2.append(i)
    s3 = [
        i for i in s2
        if q[i] >= 0.45 and toks[i] >= RELEASE_MIN_TOKENS
    ]

    def grams(t, w=8):
        ws = t.split(" ")
        return {" ".join(ws[j:j + w]) for j in range(len(ws) - w + 1)}

    eval_sh = set().union(
        *(grams(t) for i, t in rows if i % RELEASE_EVAL_MOD == 0)
    )
    s4 = [i for i in s3 if not (grams(dict(rows)[i]) & eval_sh)]

    def tot(ids):
        return (len(ids), sum(toks[i] for i in ids))

    assert got[0] == ("ingest", len(rows), sum(toks.values()))
    assert got[1] == ("train_side",) + tot(corpus)
    assert got[2] == ("exact_dedup",) + tot(s2)
    assert got[3] == ("quality_gate",) + tot(s3)
    assert got[4] == ("decontaminated",) + tot(s4)
    # the fixture exercises every stage: each cut is non-trivial
    assert len(corpus) < len(rows)
    assert len(s2) < len(corpus)
    assert len(s3) < len(s2)
    assert len(s4) < len(s3)


def test_event_debounce_hand_case(spark):
    from pyspark.sql import functions as F

    from bigdata_hwk_spark.operators import behavior as BH

    rows = [
        # (event_id, epoch, user, type)
        (0, 0, 1, "a"),     # first -> kept
        (1, 30, 1, "a"),    # gap 30 < 60 -> dropped
        (2, 100, 1, "a"),   # gap 70 from the RAW previous -> kept
        (3, 0, 2, "a"),     # other user independent -> kept
        (4, 0, 1, "b"),     # other type independent -> kept
        (5, 59, 1, "b"),    # gap 59 -> dropped
    ]
    ev = spark.createDataFrame(
        rows, "event_id bigint, epoch bigint, user_id bigint, event_type string"
    ).select(
        "event_id", F.col("epoch").cast("timestamp").alias("ts"),
        "user_id", "event_type",
    )
    got = {r.event_type: r for r in BH.event_debounce_stats(ev).collect()}
    assert (got["a"].n_events, got["a"].n_kept, got["a"].n_dropped) == (4, 3, 1)
    assert (got["b"].n_events, got["b"].n_kept, got["b"].n_dropped) == (2, 1, 1)


def test_multitouch_credit_hand_case(spark):
    from pyspark.sql import functions as F

    from bigdata_hwk_spark.operators import behavior as BH

    D = 86400
    rows = [
        # (event_id, epoch, user, type, value, campaign-or-None)
        (1, 10, 1, "click", 0.0, 5),
        (2, 20, 1, "click", 0.0, 7),
        (3, 100, 1, "purchase", 2.00, None),   # 200c over 2 clicks
        (4, 50, 1, "purchase", 1.01, None),    # 101c over 2 clicks (floor)
        (5, 0, 2, "click", 0.0, 5),
        (6, 8 * D, 2, "purchase", 5.0, None),  # click out of window: drops
        (7, 1, 3, "click", 0.0, 5),
        (8, 2, 3, "click", 0.0, 5),
        (9, 3, 3, "click", 0.0, 7),
        (10, 10, 3, "purchase", 0.01, None),   # 1c over 3 clicks: 3333 each
    ]
    ev = spark.createDataFrame(
        [
            (e, t, u, ty, v, '{"k": %d}' % c if c is not None else "{}")
            for e, t, u, ty, v, c in rows
        ],
        "event_id bigint, epoch bigint, user_id bigint, "
        "event_type string, value double, props string",
    ).select(
        "event_id", F.col("epoch").cast("timestamp").alias("ts"),
        "user_id", "event_type", "value", "props",
    )
    got = {r.campaign: r for r in BH.multitouch_credit(ev).collect()}
    assert set(got) == {5, 7}
    c5, c7 = got[5], got[7]
    # camp 5: u1 click credited by both purchases + u3's two clicks
    assert (c5.n_touches, c5.n_purchases) == (4, 3)
    assert c5.credit_micros == 1_000_000 + 505_000 + 2 * 3333
    assert (c7.n_touches, c7.n_purchases) == (3, 3)
    assert c7.credit_micros == 1_000_000 + 505_000 + 3333


def test_hard_negative_topk_hand_case(spark):
    """Band semantics by hand: positives (cos >= pos_tau) and easy
    negatives (cos < neg_lo) are excluded; survivors rank by cosine
    desc with neighbor_id ties."""
    from bigdata_hwk_spark.operators import similarity as SIM

    rows = [
        (0, [1.0, 0.0]),    # anchor
        (1, [1.0, 0.0]),    # duplicate: cos=1.0 -> positive, excluded
        (2, [1.0, 0.2]),    # cos~0.981 -> positive (>= 0.6), excluded
        (3, [1.0, 1.0]),    # cos~0.707 -> positive, excluded
        (4, [1.0, 2.0]),    # cos~0.447 -> hard negative
        (5, [2.0, 4.0]),    # cos~0.447 (same) -> tie by neighbor_id
        (6, [0.1, 1.0]),    # cos~0.0995 -> hard negative (lower rank)
        (7, [0.0, 1.0]),    # cos=0.0 -> below neg_lo, excluded
        (8, [-1.0, 0.0]),   # cos=-1 -> excluded
        (9, [0.0, 0.0]),    # zero norm -> excluded up front
    ]
    embs = spark.createDataFrame(rows, "vec_id bigint, embedding array<double>")
    got = [
        (r.query_id, r.neighbor_id, r.cosine, r.rk)
        for r in SIM.hard_negative_topk(
            embs, n_queries=1, k=10, pos_tau=0.6, neg_lo=0.05
        ).orderBy("rk").collect()
    ]
    import math

    c45 = round(1 / math.sqrt(5), 4)
    c6 = round(0.1 / math.sqrt(0.1 ** 2 + 1.0), 4)
    assert got == [(0, 4, c45, 1), (0, 5, c45, 2), (0, 6, c6, 3)]


def test_event_type_bursts_hand_case(spark):
    """Integer-exact burst predicate by hand: flat baseline then a
    spike; warmup days (< w trailing days) excluded; a mild bump below
    3 sigma stays unflagged."""
    from pyspark.sql import functions as F

    from bigdata_hwk_spark.operators import behavior as BH

    rows = []
    def day(d, n, t="a"):
        rows.extend([(d * 86400 + i, t) for i in range(n)])

    # type a: 3-day trail (w=3): days 0-2 = 10 each; day 3 = 10 (no
    # burst, dev=0); day 4 = 11 (dev=1*3-(10+10+11)=... compute below);
    # day 5 = 40 (clear burst)
    for d in range(3):
        day(d, 10)
    day(3, 10); day(4, 11); day(5, 40)
    df = spark.createDataFrame(rows, "epoch bigint, event_type string").select(
        F.col("epoch").cast("timestamp").alias("ts"),
        "event_type",
        F.lit(0).alias("user_id"),
        F.lit(0.0).alias("value"),
        F.lit(None).cast("string").alias("props"),
        F.monotonically_increasing_id().alias("event_id"),
    )
    got = {
        r.day: (r.y, r.trail_sum, r.burst)
        for r in BH.event_type_bursts(df, w=3, sigmas=3).collect()
    }
    # days 0-2 excluded (fewer than 3 trailing days)
    assert set(got) == {3, 4, 5}
    # day 3: trail {10,10,10}: dev = 10*3-30 = 0 -> no burst
    assert got[3] == (10, 30, 0)
    # day 4: trail {10,10,10}: dev = 11*3-30 = 3; var_n2 = 3*300-900 = 0
    #        -> 9 > 9*0 -> burst (any rise over a ZERO-variance baseline)
    assert got[4] == (11, 30, 1)
    # day 5: trail {10,10,11}: s=31, ss=321; dev = 40*3-31 = 89;
    #        var_n2 = 3*321-961 = 2; 89^2=7921 > 9*2 -> burst
    assert got[5] == (40, 31, 1)

    # mild bump below 3 sigma: noisy trail {8,12,10}: s=30, ss=308,
    # var_n2 = 3*308-900 = 24; day value 12: dev = 36-30 = 6; 36 <= 216?
    # 36 <= 9*24=216 -> NOT a burst
    rows2 = []
    def day2(d, n):
        rows2.extend([(d * 86400 + i, "b") for i in range(n)])
    day2(0, 8); day2(1, 12); day2(2, 10); day2(3, 12)
    df2 = spark.createDataFrame(rows2, "epoch bigint, event_type string").select(
        F.col("epoch").cast("timestamp").alias("ts"), "event_type"
    )
    got2 = {r.day: r.burst for r in BH.event_type_bursts(df2, w=3).collect()}
    assert got2 == {3: 0}


def test_neyman_allocation_hand_case(spark):
    """Largest-remainder arithmetic by hand: two strata with known
    variances; allocations sum exactly to the budget; the zero-variance
    stratum floors at weight 1 (allocatable, near-zero share)."""
    from bigdata_hwk_spark.operators import splits as SP

    rows = []
    # stratum 'a': values 0, 10 repeated 4x -> var_num = 8*200-40^2=0?
    # values [0,10,0,10,0,10,0,10]: n=8 s=40 ss=400 -> 8*400-1600=1600
    rows += [(i, "a", v) for i, v in enumerate([0, 10] * 4)]
    # stratum 'b': constant 7 -> var_num = 0 -> weight floors at 1
    rows += [(100 + i, "b", 7) for i in range(4)]
    docs = spark.createDataFrame(rows, "doc_id bigint, lang string, n_chars bigint")
    got = {
        r.stratum: (r.n_docs, r.weight_q, r.alloc)
        for r in SP.neyman_stratified_allocation(docs, total_n=10).collect()
    }
    # a: sqrt(1600)=40 -> wq = 40_000_000; b: wq = 1
    W = 40_000_000 + 1
    base_a, rem_a = (10 * 40_000_000) // W, (10 * 40_000_000) % W
    base_b, rem_b = 10 // W, 10 % W
    leftover = 10 - base_a - base_b
    # remainder ranking: rem_a vs rem_b
    alloc_a = base_a + (1 if (rem_a, "a") >= (rem_b, "b") and leftover >= 1 else 0)
    alloc_b = 10 - alloc_a
    assert got == {"a": (8, 40_000_000, alloc_a), "b": (4, 1, alloc_b)}
    assert sum(v[2] for v in got.values()) == 10


def test_k_anonymity_audit_hand_case(spark):
    """Violation census by hand: distinct USERS decide (one chatty user
    is still one person), rows-at-risk counts rows."""
    from pyspark.sql import functions as F

    from bigdata_hwk_spark.operators import privacy as PV

    rows = []
    # type 'a', day 0, bucket 0: users 1,2,3 (k=3 distinct) -> safe at k=3
    rows += [(10 + i, 0, "a", 1.0, u) for i, u in enumerate([1, 2, 3])]
    # type 'a', day 0, bucket 1 (value 6.0): user 9 five times -> 1
    # distinct user, 5 rows -> violating, all 5 rows at risk
    rows += [(20 + i, 0, "a", 6.0, 9) for i in range(5)]
    # type 'b', day 1, bucket 0: users 1,2 -> violating at k=3
    rows += [(30 + i, 86400, "b", 2.0, u) for i, u in enumerate([1, 2])]
    df = spark.createDataFrame(
        [(e, t, ty, v, u) for e, t, ty, v, u in rows],
        "event_id bigint, epoch bigint, event_type string, value double, user_id bigint",
    ).select(
        "event_id",
        F.col("epoch").cast("timestamp").alias("ts"),
        "event_type", "value", "user_id",
    )
    got = {
        r.event_type: (
            r.n_cells, r.n_violating_cells, r.n_rows, r.n_rows_at_risk,
            r.risk_pct,
        )
        for r in PV.k_anonymity_audit(df, k=3).collect()
    }
    assert got == {
        "a": (2, 1, 8, 5, 62.5),
        "b": (1, 1, 2, 2, 100.0),
    }
