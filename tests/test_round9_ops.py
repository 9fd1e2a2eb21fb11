"""Round-9 operator contracts: as-of join, sequence packing, PII
scan/redact, partition checksums, and row-level table diff.

The registry oracle rows pin cross-engine equality at three SFs; these
tests pin the operators' OWN semantics on hand-computable inputs.
"""

from __future__ import annotations

import pyspark.sql.functions as F

from bigdata_hwk_spark.functions import text as TX
from bigdata_hwk_spark.operators import reconcile as RC
from bigdata_hwk_spark.operators.packing import PACK_BUDGET, pack_sequences
from bigdata_hwk_spark.sources.tables import load_table

from .conftest import SF_CORRECT, pick_existing_row


# -------------------------------------------------------------- packing
def test_pack_sequences_invariants(spark):
    """Packing coordinates are a consistent stream layout per shard:
    offsets live in [0, budget); a doc spans a boundary iff its tokens
    run past the budget; per-shard (seq_id, seq_offset) follow the
    running token sum exactly."""
    docs = load_table(spark, SF_CORRECT, "documents")
    packed = pack_sequences(docs).collect()
    by_shard: dict[int, list] = {}
    for r in packed:
        assert 0 <= r.seq_offset < PACK_BUDGET
        assert r.spans_boundary == (r.seq_offset + r.n_tokens > PACK_BUDGET)
        by_shard.setdefault(r.shard, []).append(r)
    assert len(by_shard) > 1  # sharding actually spreads the corpus
    for rows in by_shard.values():
        rows.sort(key=lambda r: r.doc_id)
        cum = 0
        for r in rows:
            assert r.seq_id == cum // PACK_BUDGET
            assert r.seq_offset == cum % PACK_BUDGET
            cum += r.n_tokens


def test_pack_sequences_deterministic_under_repartition(spark):
    """Layout is a pure function of (doc_id, text) — repartitioning the
    input must not move a single document."""
    docs = load_table(spark, SF_CORRECT, "documents")
    a = {r.doc_id: (r.shard, r.seq_id, r.seq_offset)
         for r in pack_sequences(docs).collect()}
    b = {r.doc_id: (r.shard, r.seq_id, r.seq_offset)
         for r in pack_sequences(docs.repartition(17)).collect()}
    assert a == b


# -------------------------------------------------- PII release audit
def test_pii_release_audit_consistent_with_scrub(spark):
    """The per-source audit must agree with the per-doc scrub it
    summarizes: doc counts, mask totals, and the docs-touched count."""
    docs = TX.doctor_pii(load_table(spark, SF_CORRECT, "documents"))
    audit = {r.source: r for r in TX.pii_release_audit(docs).collect()}
    scrub = TX.pii_scrub(docs)
    src = docs.select("doc_id", "source")
    per_src = (
        scrub.join(src, "doc_id")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(
                F.col("n_urls") + F.col("n_emails") + F.col("n_phones")
            ).alias("n_masks"),
            F.sum(
                F.when(
                    F.col("n_urls") + F.col("n_emails") + F.col("n_phones")
                    > 0,
                    1,
                ).otherwise(0)
            ).alias("touched"),
        )
        .collect()
    )
    assert len(per_src) == len(audit)
    for r in per_src:
        a = audit[r.source]
        assert (a.n_docs, a.n_masks, a.n_docs_with_pii) == (
            r.n_docs,
            r.n_masks,
            r.touched,
        )


def test_pii_release_audit_fingerprint_detects_missed_mask(spark):
    """The xor fingerprint is the release gate: an unscrubbed corpus (or
    one doc slipping through) must change the per-source fingerprint."""
    docs = TX.doctor_pii(load_table(spark, SF_CORRECT, "documents"))
    clean = {r.source: r.scrubbed_fingerprint
             for r in TX.pii_release_audit(docs).collect()}
    unscrubbed = {r.source: r.scrubbed_fingerprint
                  for r in TX.pii_release_audit(
                      load_table(spark, SF_CORRECT, "documents")
                  ).collect()}
    # every source contains doctored docs, so every fingerprint moves
    assert all(clean[s] != unscrubbed[s] for s in clean)


# --------------------------------------- checksum-verified maintenance
def test_zorder_relayout_verified_by_checksum(spark, tmp_path):
    """Z-order re-clustering is the other re-layout the checksum family
    gates: writing lineitem Z-ordered on (l_extendedprice, l_quantity)
    must leave the content checksum bit-identical."""
    from bigdata_hwk_spark.sinks.parquet import write_zordered

    li = load_table(spark, SF_CORRECT, "lineitem")
    before = tuple(RC.table_checksum(li, RC.LINEITEM_CANON).collect()[0])
    d = str(tmp_path / "zli")
    write_zordered(li, d, "l_extendedprice", "l_quantity", n_files=8)
    after = tuple(
        RC.table_checksum(
            spark.read.parquet(d), RC.LINEITEM_CANON
        ).collect()[0]
    )
    assert after == before


def test_compaction_verified_by_checksum(spark, tmp_path):
    """The reconciliation checksum as the content gate for a re-layout:
    compacting a fragmented partitioned copy of lineitem must leave
    (n_rows, ck_a, ck_b, ck_m) bit-identical — the O(1)-compare,
    no-collect form of 'the rewrite lost nothing' that actually works at
    100 TB (the pipeline test's sorted-collect equality cannot). Also
    checks the per-partition folds, so a drifted partition would be
    NAMED, not just detected."""
    from bigdata_hwk_spark.sinks.parquet import compact_partitioned

    d = str(tmp_path / "li")
    li = load_table(spark, SF_CORRECT, "lineitem")
    # fragment one partition: 'N' appended as 8 small files
    li.filter("l_returnflag != 'N'").coalesce(1).write.partitionBy(
        "l_returnflag"
    ).parquet(d)
    li.filter("l_returnflag = 'N'").repartition(8).write.mode(
        "append"
    ).partitionBy("l_returnflag").parquet(d)

    def snap():
        df = spark.read.parquet(d)
        total = RC.table_checksum(df, RC.LINEITEM_CANON).collect()[0]
        parts = {
            r.part: (r.n_rows, r.ck_a, r.ck_b, r.ck_m)
            for r in RC.partition_checksums(
                df, RC.LINEITEM_CANON, F.col("l_returnflag"), "part"
            ).collect()
        }
        return tuple(total), parts

    before_total, before_parts = snap()
    assert compact_partitioned(spark, d, ["l_returnflag"], 10**6) >= 1
    after_total, after_parts = snap()
    assert after_total == before_total
    assert after_parts == before_parts


# ------------------------------------------- partition checksums / diff
def test_partition_checksums_sum_to_table_checksum(spark):
    """Per-partition n_rows sum to the table total, and xor-folding the
    per-partition ck_a/ck_b reproduces the table-level fold (xor is
    associative across any partitioning — the property that lets a
    petabyte reconciliation be computed per-partition and combined)."""
    li = load_table(spark, SF_CORRECT, "lineitem")
    parts = RC.partition_checksums(
        li, RC.LINEITEM_CANON, F.date_format("l_shipdate", "yyyy-MM"), "m"
    ).collect()
    total = RC.table_checksum(li, RC.LINEITEM_CANON).collect()[0]
    assert sum(p.n_rows for p in parts) == total.n_rows
    xa = xb = 0
    for p in parts:
        xa ^= p.ck_a
        xb ^= p.ck_b
    assert (xa, xb) == (total.ck_a, total.ck_b)


def test_partition_checksums_localize_drift(spark):
    """A one-cell drift moves ONLY its own partition's checksums."""
    li = load_table(spark, SF_CORRECT, "lineitem")
    month = F.date_format("l_shipdate", "yyyy-MM")
    target, _ = pick_existing_row(
        li.withColumn("m", month), ["m", "l_orderkey", "l_linenumber"]
    )
    drifted = li.withColumn(
        "l_tax",
        F.when(
            (F.col("l_orderkey") == target.l_orderkey)
            & (F.col("l_linenumber") == target.l_linenumber)
            & (month == target.m),
            F.col("l_tax") + 0.01,
        ).otherwise(F.col("l_tax")),
    )
    base = {
        r.m: (r.ck_a, r.ck_b, r.ck_m)
        for r in RC.partition_checksums(
            li, RC.LINEITEM_CANON, month, "m"
        ).collect()
    }
    got = {
        r.m: (r.ck_a, r.ck_b, r.ck_m)
        for r in RC.partition_checksums(
            drifted, RC.LINEITEM_CANON, month, "m"
        ).collect()
    }
    changed = [m for m in base if base[m] != got[m]]
    assert changed == [target.m]


def test_checksum_delta_matches_full_recompute(spark):
    """The O(batch) incremental update reproduces the full rescan:
    apply(checksum(old), delta(old∖new, new∖old)) == checksum(new) on
    n_rows/ck_a/ck_b (ck_m is documented as partition-refresh-only)."""
    li = load_table(spark, SF_CORRECT, "lineitem")
    rep = RC.drifted_replica(li)
    base = RC.table_checksum(li, RC.LINEITEM_CANON).collect()[0]
    full = RC.table_checksum(rep, RC.LINEITEM_CANON).collect()[0]
    delta = RC.checksum_delta(
        li.exceptAll(rep), rep.exceptAll(li), RC.LINEITEM_CANON
    ).collect()[0]
    assert delta.d_rows != 0  # fixture-validity: the drift is non-empty
    assert RC.apply_checksum_delta(base, delta) == (
        full.n_rows,
        full.ck_a,
        full.ck_b,
    )


def test_checksum_delta_empty_batch_is_identity(spark):
    li = load_table(spark, SF_CORRECT, "lineitem")
    empty = li.limit(0)
    delta = RC.checksum_delta(empty, empty, RC.LINEITEM_CANON).collect()[0]
    assert (delta.d_rows, delta.dk_a, delta.dk_b) == (0, 0, 0)
    base = RC.table_checksum(li, RC.LINEITEM_CANON).collect()[0]
    assert RC.apply_checksum_delta(base, delta) == (
        base.n_rows,
        base.ck_a,
        base.ck_b,
    )


def test_table_diff_classifies_drift(spark):
    """Modified rows surface as a (1,0)+(0,1) pair, deletions as (n,0),
    duplications as (n,2n); identical tables diff to empty."""
    li = load_table(spark, SF_CORRECT, "lineitem")
    assert RC.table_diff(li, li, RC.LINEITEM_CANON).count() == 0
    diff = RC.table_diff(
        li, RC.drifted_replica(li), RC.LINEITEM_CANON
    ).collect()
    assert diff  # fixture-validity: the drift moduli hit real orderkeys
    for r in diff:
        ok = int(r.row_canon.split("|")[0])
        if ok % 499 == 0:
            assert r.n_right == 0  # deleted from the replica
        elif ok % 997 == 0:
            # modification: old form only on the left, new form only on
            # the right (possibly duplicated by the 503 rule)
            assert (r.n_left == 0) != (r.n_right == 0)
        elif ok % 503 == 0:
            assert r.n_right == 2 * r.n_left  # duplicated
        else:  # pragma: no cover - would mean a spurious diff row
            raise AssertionError(f"unexpected diff row {r}")


# ------------------------------------------------- cross-doc shared spans
def test_crossdoc_shared_spans_hand_case(spark):
    """Two docs sharing one 15-token span and one 9-token span (k=8,
    min_span=12): only the 15-token span survives, with exact start
    positions on both sides; a doc pair with no >=k-gram overlap is
    absent. Maximality: the 15-token run reports ONE span, not its
    8 constituent k-gram matches."""
    from bigdata_hwk_spark.operators.dedup import crossdoc_shared_spans

    shared15 = " ".join(f"s{i}" for i in range(15))
    shared9 = " ".join(f"t{i}" for i in range(9))
    a = "a0 a1 " + shared15 + " a2 a3 " + shared9
    b = "b0 " + shared15 + " b1 b2 b3 b4 " + shared9 + " b5"
    c = " ".join(f"c{i}" for i in range(30))
    docs = spark.createDataFrame(
        [(1, a), (2, b), (3, c)], "doc_id long, text string"
    )
    out = crossdoc_shared_spans(docs).collect()
    assert len(out) == 1
    [r] = out
    assert (r.doc_a, r.doc_b) == (1, 2)
    assert r.span_tokens == 15
    assert r.a_start == 3 and r.b_start == 2  # 1-based token positions


def test_crossdoc_shared_spans_maximal_runs_split_on_gaps(spark):
    """A mid-span single-token edit splits one long shared region into
    two maximal spans, each reported separately with correct lengths."""
    from bigdata_hwk_spark.operators.dedup import crossdoc_shared_spans

    left = " ".join(f"u{i}" for i in range(14))
    right = " ".join(f"v{i}" for i in range(13))
    a = left + " SAME " + right
    b = left + " DIFF " + right
    docs = spark.createDataFrame(
        [(1, a), (2, b)], "doc_id long, text string"
    )
    spans = {
        (r.a_start, r.span_tokens)
        for r in crossdoc_shared_spans(docs).collect()
    }
    assert spans == {(1, 14), (16, 13)}


def test_crossdoc_span_scrub_drops_only_higher_doc_copy(spark):
    """The lowest-id host keeps its copy; the higher-id host loses
    exactly the shared tokens; untouched docs pass through verbatim."""
    from bigdata_hwk_spark.operators.dedup import crossdoc_span_scrub

    shared = " ".join(f"s{i}" for i in range(15))
    a = "a0 a1 " + shared + " a2"
    b = "b0 " + shared + " b1 b2"
    c = " ".join(f"c{i}" for i in range(20))
    docs = spark.createDataFrame(
        [(1, a), (2, b), (3, c)], "doc_id long, text string"
    )
    out = {r.doc_id: r for r in crossdoc_span_scrub(docs).collect()}
    assert out[1].clean_text == a and out[1].n_dropped_tokens == 0
    assert out[2].clean_text == "b0 b1 b2"
    assert out[2].n_dropped_tokens == 15 and out[2].n_tokens == 18
    assert out[3].clean_text == c and out[3].n_dropped_tokens == 0


def test_crossdoc_span_scrub_merges_overlapping_intervals(spark):
    """A doc that is doc_b against TWO lower docs with overlapping
    spans drops the union of the intervals, not double-counted."""
    from bigdata_hwk_spark.operators.dedup import crossdoc_span_scrub

    run = [f"s{i}" for i in range(20)]
    a = " ".join(run[:15])                  # matches b's prefix region
    b2 = " ".join(run[5:])                  # matches b's suffix region
    big = " ".join(run) + " z0 z1"          # hosts both, overlapping
    docs = spark.createDataFrame(
        [(1, a), (2, b2), (5, big)], "doc_id long, text string"
    )
    out = {r.doc_id: r for r in crossdoc_span_scrub(docs).collect()}
    assert out[5].n_dropped_tokens == 20    # union [1,15] ∪ [6,20]
    assert out[5].clean_text == "z0 z1"
    assert out[1].n_dropped_tokens == 0     # lowest id keeps
