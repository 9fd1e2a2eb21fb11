"""Round-10b operators: skyline, fuzzy linkage, URL canonicalization
(the LPA pins are in test_graph.py, the association-rule pins in
test_pairs.py). The registry oracle sweep (test_outliers.py) covers
oracle equality at both SFs; these tests pin the operator-level semantics
on hand-built inputs where the fixture data can't isolate them."""

from __future__ import annotations

from pyspark.sql import functions as F


def test_skyline_hand_case_ties_and_dominance(spark):
    from bigdata_hwk_spark.operators import skyline as SKY

    # (id, spend_cents, n_orders, c_acctbal)
    rows = [
        (1, 100, 5, 10.0),   # frontier
        (2, 100, 5, 10.0),   # exact tie of 1 → kept (no strict coordinate)
        (3, 90, 6, 1.0),     # frontier (best n_orders tradeoff)
        (4, 100, 4, 10.0),   # dominated by 1 (strict n_orders)
        (5, 90, 5, 1.0),     # dominated by 3
        (6, 100, 5, 9.0),    # dominated by 1 (strict acctbal)
    ]
    df = spark.createDataFrame(
        rows, "c_custkey bigint, spend_cents bigint, n_orders bigint, c_acctbal double"
    )
    got = sorted(r.c_custkey for r in SKY.skyline_max(df).collect())
    assert got == [1, 2, 3]
    # partition-layout invariance of the local→global prune
    got_rep = sorted(
        r.c_custkey for r in SKY.skyline_max(df.repartition(4)).collect()
    )
    assert got_rep == [1, 2, 3]


def test_skyline_global_gate_refuses_anticorrelated(spark):
    """Anti-correlated data (x + y constant → every row on the frontier)
    must trip the loud single-partition gate, not stall a task."""
    import pytest

    from bigdata_hwk_spark.operators import skyline as SKY

    n = 50
    rows = [(i, i, n - i, 0.0) for i in range(n)]
    df = spark.createDataFrame(
        rows,
        "c_custkey bigint, spend_cents bigint, n_orders bigint, c_acctbal double",
    ).repartition(4)
    with pytest.raises(ValueError, match="anti-correlated"):
        SKY.skyline_max(df, global_max_rows=10).collect()
    # same data passes with the gate above the frontier size
    assert SKY.skyline_max(df, global_max_rows=n).count() == n


def test_skyline_prune_kernel_matches_bruteforce():
    import random

    import pandas as pd

    from bigdata_hwk_spark.operators.skyline import (
        _SKY_COLS,
        _build_prune_kernel,
    )

    _pareto_prune = _build_prune_kernel(_SKY_COLS)

    rng = random.Random(7)
    for _ in range(25):
        n = rng.randrange(1, 40)
        pdf = pd.DataFrame(
            {
                "id": range(n),
                _SKY_COLS[0]: [rng.randrange(0, 6) for _ in range(n)],
                _SKY_COLS[1]: [rng.randrange(0, 6) for _ in range(n)],
                _SKY_COLS[2]: [float(rng.randrange(0, 6)) for _ in range(n)],
            }
        )
        got = set(_pareto_prune(pdf)["id"])
        want = set()
        arr = pdf[_SKY_COLS].to_numpy()
        for i in range(n):
            dominated = any(
                all(arr[j, k] >= arr[i, k] for k in range(3))
                and any(arr[j, k] > arr[i, k] for k in range(3))
                for j in range(n)
                if j != i
            )
            if not dominated:
                want.add(i)
        assert got == want


def test_fuzzy_linkage_blocking_is_lossless_for_ed1(spark):
    """Every ed≤1 relation type (equal / substitution / insertion /
    deletion) must survive the deletion-key blocking; ed=2 pairs must be
    filtered by verification even when they share a block key."""
    from bigdata_hwk_spark.operators import linkage as LK

    canon = spark.createDataFrame(
        [
            (1, "martha"),
            (2, "marta"),    # deletion of 'h' → ed 1 from martha
            (3, "martha"),   # exact duplicate name, different entity
            (4, "murtha"),   # substitution → ed 1 from martha
            (5, "smartha"),  # insertion → ed 1 from martha
            (6, "mart"),     # ed 2 from martha: must NOT match it
        ],
        "c_custkey bigint, c_name string",
    )
    dirty = canon.select(
        F.col("c_custkey").alias("dirty_id"),
        F.col("c_name").alias("dirty_name"),
    )
    dk = LK._with_keys(dirty, "dirty_name")
    ck = LK._with_keys(canon, "c_name")
    verified = (
        dk.join(ck, "bkey")
        .select("dirty_id", "dirty_name", "c_custkey", "c_name")
        .distinct()
        .filter(F.levenshtein("dirty_name", "c_name") <= 1)
    )
    got = {(r.dirty_id, r.c_custkey) for r in verified.collect()}
    # brute-force oracle over all pairs
    import itertools

    def ed(a, b):
        dp = list(range(len(b) + 1))
        for i, ca in enumerate(a, 1):
            prev, dp[0] = dp[0], i
            for j, cb in enumerate(b, 1):
                prev, dp[j] = dp[j], min(
                    dp[j] + 1, dp[j - 1] + 1, prev + (ca != cb)
                )
        return dp[-1]

    rows = canon.collect()
    want = {
        (a.c_custkey, b.c_custkey)
        for a, b in itertools.product(rows, rows)
        if ed(a.c_name, b.c_name) <= 1
    }
    assert got == want
    assert (1, 6) not in got and (6, 1) not in got  # ed-2 excluded

    # depth-2 blocking: the same equivalence at radius 2 (brute force)
    dk2 = LK._with_keys(dirty, "dirty_name", max_ed=2)
    ck2 = LK._with_keys(canon, "c_name", max_ed=2)
    got2 = {
        (r.dirty_id, r.c_custkey)
        for r in dk2.join(ck2, "bkey")
        .select("dirty_id", "dirty_name", "c_custkey", "c_name")
        .distinct()
        .filter(F.levenshtein("dirty_name", "c_name") <= 2)
        .collect()
    }
    want2 = {
        (a.c_custkey, b.c_custkey)
        for a, b in itertools.product(rows, rows)
        if ed(a.c_name, b.c_name) <= 2
    }
    assert got2 == want2
    assert (1, 6) in got2  # martha↔mart is ed 2: now found


def test_fuzzy_linkage_self_recovery_is_total(spark):
    from bigdata_hwk_spark.operators import linkage as LK
    from bigdata_hwk_spark.sources.tables import load_table

    out = LK.fuzzy_link_summary(
        load_table(spark, "/root/testdata/sf0.001", "customer")
    ).collect()
    assert len(out) > 1  # non-degenerate histogram
    for r in out:
        assert r.n_self_matched == r.n_dirty  # ed(dirty, self)=1 always


def test_url_canonicalizer_rules(spark):
    from bigdata_hwk_spark.operators.linkage import canonical_url_col

    cases = [
        # (raw, expected canonical)
        ("https://a.example.com/x", "https://a.example.com/x"),
        ("HTTPS://WWW.A.EXAMPLE.COM/x/", "https://a.example.com/x"),
        ("https://a.example.com:443/x?utm_source=f&utm_campaign=c",
         "https://a.example.com/x"),
        # meaningful param kept; dangling ?& repaired after utm removal
        ("https://www.a.example.com/x?utm_x=1&ref=2",
         "https://a.example.com/x?ref=2"),
        ("https://a.example.com/x?ref=2", "https://a.example.com/x?ref=2"),
    ]
    df = spark.createDataFrame([(r,) for r, _ in cases], "raw string")
    got = [
        r.canon
        for r in df.select(
            canonical_url_col(F.col("raw")).alias("canon")
        ).collect()
    ]
    assert got == [want for _, want in cases]


def test_url_profile_collapses_real_duplicates(spark):
    from bigdata_hwk_spark import registry

    out = registry.QUERIES["url_canonical_profile"](
        spark, "/root/testdata/sf0.001"
    ).collect()
    assert all(r.n_canonical_urls < r.n_raw_urls for r in out), (
        "canonicalization must collapse at least one variant per source"
    )


def test_event_transitions_hand_case(spark):
    from datetime import datetime

    from bigdata_hwk_spark.operators.behavior import event_transition_matrix

    def ev(eid, uid, t, typ):
        return (eid, datetime(2024, 1, 1, 0, 0, t), uid, typ)

    rows = [
        ev(1, 1, 1, "view"), ev(2, 1, 2, "click"), ev(3, 1, 3, "view"),
        ev(4, 2, 1, "view"), ev(5, 2, 2, "click"),
        # same-ts tie within user 3: event_id breaks it (6 before 7)
        ev(6, 3, 5, "signup"), ev(7, 3, 5, "view"),
    ]
    df = spark.createDataFrame(
        rows, "event_id bigint, ts timestamp, user_id bigint, event_type string"
    )
    got = {
        (r.from_type, r.to_type): (r.n_transitions, r.prob)
        for r in event_transition_matrix(df).collect()
    }
    assert got == {
        ("view", "click"): (2, 1.0),       # user 3's last view is terminal
        ("click", "view"): (1, 1.0),
        ("signup", "view"): (1, 1.0),
    }


def test_retention_cohorts_hand_case(spark):
    from datetime import datetime

    from bigdata_hwk_spark.operators.behavior import user_retention_cohorts

    def ev(eid, uid, day, typ="view"):
        # epoch weeks: 2024-01-04 is exactly on a 7*86400 boundary
        return (eid, datetime(2024, 1, day, 12, 0, 0), uid, typ)

    rows = [
        # cohort A (week of Jan 4): users 1, 2 active; user 1 returns
        # next week, user 2 does not
        ev(1, 1, 4), ev(2, 2, 5), ev(3, 1, 12),
        # cohort B (next week): user 3 only
        ev(4, 3, 11),
    ]
    df = spark.createDataFrame(
        rows, "event_id bigint, ts timestamp, user_id bigint, event_type string"
    )
    out = {
        (r.cohort_week, r.week_offset): (r.n_users, r.retention)
        for r in user_retention_cohorts(df).collect()
    }
    weeks = sorted({cw for cw, _ in out})
    a, b = weeks[0], weeks[1]
    assert b == a + 1
    assert out[(a, 0)] == (2, 1.0)
    assert out[(a, 1)] == (1, 0.5)
    assert out[(b, 0)] == (1, 1.0)
    assert (b, 1) not in out


def test_ab_report_hand_case_and_determinism(spark):
    from datetime import datetime

    from bigdata_hwk_spark.operators.behavior import ab_test_report

    # derive each user's arm exactly as the operator does, then plant
    # conversions: every treatment user purchases 1h after first event,
    # every control user only after the 24h activation window
    from bigdata_hwk_spark.functions.hashing import md5_hash64
    arms = {
        r.user_id: r.arm
        for r in spark.createDataFrame(
            [(u,) for u in range(40)], "user_id bigint"
        )
        .select(
            "user_id",
            (md5_hash64(F.concat(F.lit("ab1:"), F.col("user_id"))) % 2).alias(
                "arm"
            ),
        )
        .collect()
    }
    rows = []
    eid = 0
    for u, arm in arms.items():
        eid += 1
        rows.append((eid, datetime(2024, 1, 1, 0, 0, 0), u, "view"))
        eid += 1
        hours = 1 if arm == 1 else 30  # control converts OUTSIDE the window
        rows.append((eid, datetime(2024, 1, 1 + hours // 24, hours % 24), u, "purchase"))
    df = spark.createDataFrame(
        rows, "event_id bigint, ts timestamp, user_id bigint, event_type string"
    )
    r = ab_test_report(df).collect()[0]
    n_t = sum(1 for a in arms.values() if a == 1)
    n_c = len(arms) - n_t
    assert (r.n_control, r.n_treatment) == (n_c, n_t)
    assert r.conv_treatment == n_t and r.conv_control == 0
    assert r.rate_treatment == 1.0 and r.rate_control == 0.0
    assert r.uplift_abs == 1.0
    # assignment is a pure function of user_id: re-run identical
    assert ab_test_report(df.repartition(8)).collect()[0] == r


def test_bag_diff_hand_case(spark):
    from bigdata_hwk_spark import registry

    # registry-level: excess + matched must reconcile with raw counts
    out = registry.QUERIES["returned_month_bag_diff"](
        spark, "/root/testdata/sf0.001"
    )
    from bigdata_hwk_spark.sources.tables import load_table

    li = load_table(spark, "/root/testdata/sf0.001", "lineitem")
    month = F.date_format("l_shipdate", "yyyy-MM").alias("m")
    r_cnt = {
        x.m: x["count"]
        for x in li.filter(F.col("l_returnflag") == "R")
        .groupBy(month)
        .count()
        .collect()
    }
    a_cnt = {
        x.m: x["count"]
        for x in li.filter(F.col("l_returnflag") == "A")
        .groupBy(month)
        .count()
        .collect()
    }
    for row in out.collect():
        r = r_cnt.get(row.ship_month, 0)
        a = a_cnt.get(row.ship_month, 0)
        assert row.n_excess_returns == max(r - a, 0)
        assert row.n_matched == min(r, a)


def test_text_index_roundtrip_is_lossless(spark):
    from bigdata_hwk_spark.operators.retrieval import (
        text_index_roundtrip_profile,
    )

    r = text_index_roundtrip_profile(spark, "/root/testdata/sf0.001").collect()[0]
    assert r.n_postings > 0 and r.topk_rows > 0
    assert r.n_agree == r.topk_rows  # persisted path ≡ in-plan path


def test_bm25_index_args_must_pair(spark):
    import pytest

    from bigdata_hwk_spark.operators.retrieval import _postings, bm25_topk
    from bigdata_hwk_spark.sources.tables import load_table

    docs = load_table(spark, "/root/testdata/sf0.001", "documents")
    with pytest.raises(ValueError, match="both tf and stats"):
        bm25_topk(docs, tf=_postings(docs))


def test_grid_hotspots_hand_case(spark):
    from bigdata_hwk_spark.operators.outliers import cell_side, grid_hotspots

    side = cell_side(1.0)

    def at(i, j):  # center of integer cell (i, j)
        return ((i + 0.5) * side, (j + 0.5) * side)

    pts = []
    # hot cell (0,0): 20 points; neighbors (1,0) and (0,1): 2 each
    pts += [at(0, 0)] * 20 + [at(1, 0)] * 2 + [at(0, 1)] * 2
    # isolated dense cell with NO non-empty neighbors: excluded
    pts += [at(50, 50)] * 50
    # dense cell with an equally dense neighbor: not a hotspot
    pts += [at(80, 80)] * 10 + [at(81, 80)] * 10
    df = spark.createDataFrame(pts, "x double, y double")
    out = grid_hotspots(df, d=1.0, factor=3).collect()
    assert [(r.cx, r.cy, r.cell_cnt, r.nbr_cells, r.nbr_sum) for r in out] == [
        (0, 0, 20, 2, 4)  # 20·2 > 3·4 — the only hotspot
    ]
    assert out[0].ratio == 10.0


def test_forward_asof_hand_case(spark):
    from datetime import datetime

    from bigdata_hwk_spark.plans.relational import asof_join_forward

    left = spark.createDataFrame(
        [
            (1, 10, datetime(2024, 1, 1, 0, 0, 0)),
            (2, 10, datetime(2024, 1, 1, 2, 0, 0)),  # no later right row
            (3, 20, datetime(2024, 1, 1, 1, 0, 0)),  # equal-ts: inclusive
        ],
        "event_id bigint, user_id bigint, ts timestamp",
    )
    right = spark.createDataFrame(
        [
            (10, datetime(2024, 1, 1, 0, 30, 0)),
            (10, datetime(2024, 1, 1, 1, 0, 0)),
            (20, datetime(2024, 1, 1, 1, 0, 0)),
            (20, datetime(2024, 1, 1, 0, 0, 0)),  # earlier: never matches 3
        ],
        "user_id bigint, rts timestamp",
    )
    got = {
        r.event_id: r.asof_rts
        for r in asof_join_forward(
            left, right, on="user_id", left_time="ts", right_time="rts",
            value_cols=["rts"],
        ).collect()
    }
    assert got[1] == datetime(2024, 1, 1, 0, 30, 0)  # nearest following
    assert got[2] is None                            # nothing follows
    assert got[3] == datetime(2024, 1, 1, 1, 0, 0)   # boundary inclusive


def test_gini_closed_form_cases(spark):
    """Perfect equality → 0; one-buyer-takes-all approaches 1 − 1/n; the
    identity is checked against a literal Lorenz-style recompute."""
    from bigdata_hwk_spark import registry
    from bigdata_hwk_spark.plans.relational import revenue_gini_by_segment

    import pandas as pd

    # equality: 4 buyers, identical spend → gini 0 exactly
    orders = spark.createDataFrame(
        [(i, i % 4, 100.0) for i in range(8)],
        "o_orderkey bigint, o_custkey bigint, o_totalprice double",
    )
    customer = spark.createDataFrame(
        [(i, "SEG") for i in range(4)],
        "c_custkey bigint, c_mktsegment string",
    )
    import tempfile

    d = tempfile.mkdtemp(prefix="gini_fixture_")
    orders.write.mode("overwrite").parquet(f"{d}/orders.parquet")
    customer.write.mode("overwrite").parquet(f"{d}/customer.parquet")
    r = revenue_gini_by_segment(spark, d).collect()[0]
    assert r.gini == 0.0 and r.n_buyers == 4

    # winner-takes-all: spends (0.01, 0.01, 0.01, 10000) → G near 0.75·…
    orders2 = spark.createDataFrame(
        [(1, 0, 0.01), (2, 1, 0.01), (3, 2, 0.01), (4, 3, 10000.0)],
        "o_orderkey bigint, o_custkey bigint, o_totalprice double",
    )
    orders2.write.mode("overwrite").parquet(f"{d}/orders.parquet")
    r2 = revenue_gini_by_segment(spark, d).collect()[0]
    # literal recompute: x sorted asc, G = 2*Σ(i·x)/(n·Σx) − (n+1)/n
    xs = sorted([1, 1, 1, 1000000])
    n = len(xs)
    want = round(
        2 * sum((i + 1) * x for i, x in enumerate(xs)) / (n * sum(xs))
        - (n + 1) / n,
        6,
    )
    assert r2.gini == want


def test_fd_audit_partial_violation(spark):
    from bigdata_hwk_spark.operators.audit import functional_dependency_audit

    df = spark.createDataFrame(
        [
            (1, "a", "en"), (2, "a", "en"),        # group a: holds (2 rows)
            (3, "b", "en"), (4, "b", "de"),        # group b: violates (2 rows)
            (5, "c", "fr"), (6, "c", "fr"), (7, "c", "de"),  # violates (3)
        ],
        "doc_id bigint, source string, lang string",
    )
    out = {
        r.fd: r
        for r in functional_dependency_audit(
            df, fds=[("src_lang", "source", "lang"), ("id_lang", "doc_id", "lang")]
        ).collect()
    }
    v = out["src_lang"]
    assert (v.n_lhs_groups, v.n_violating_groups, v.n_rows_in_violation) == (
        3, 2, 5,
    )
    assert v.holds is False
    h = out["id_lang"]
    assert h.holds is True and h.n_rows_in_violation == 0
