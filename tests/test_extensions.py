"""Slice 6 correctness: dedup / similarity / text / multimodal extensions."""

from __future__ import annotations

import pytest

from bigdata_hwk_spark import registry
from bigdata_hwk_spark.operators import dedup as D
from bigdata_hwk_spark.operators import multimodal as MM
from bigdata_hwk_spark.operators import similarity as SIM
from bigdata_hwk_spark.sources.tables import load_table

from .conftest import SF_CORRECT, SF_SMOKE, assert_matches_oracle, jobs_in_group

EXTENSION_ORACLE_QUERIES = [
    "dedup_exact_summary",
    "dedup_ngram_jaccard",
    "dedup_minhash_lsh",
    "dedup_simhash",
    "text_token_stats",
    "text_quality_scores",
    "text_lang_id",
    "text_fingerprints",
    "text_token_count_bpe",
    "knn_cosine_topk",
    "embedding_similar_pairs",
    # gate-window overflow entries: pytest carries their oracle checks
    "embedding_quantization_stats",
    "token_length_histogram",
    "bloom_membership_check",
    "hll_user_cardinality",
    "windowed_hll_registers",
    "event_value_quantile_sketch",
    "embedding_incremental_ingest",
    "windowed_value_histogram",
    "windowed_cms_cells",
    "windowed_segment_revenue",
    "text_trim_repeated_ngrams",
    "bloom_pruned_revenue",
    "doc_chunks",
    "documents_profile",
    "embedding_norm_by_lang",
    "tfidf_doc_similarity",
    # round-9 additions: reconciliation suite + as-of + packing + PII
    "lineitem_month_checksums",
    "lineitem_replica_diff",
    "lineitem_checksum_delta",
    "windowed_event_checksums",
    "doc_pack_sequences",
    "doc_packing_stats",
    "pii_release_audit",
    "repeated_span_clean_docs",
    "repeated_span_profile",
    "soft_dedup_weights",
    "quality_gated_docs",
    "unigram_surprise_scores",
    # round-9 session-2: first-order Markov surprise + DSIR importance
    # + A-ES weighted sampling
    "bigram_surprise_scores",
    "dsir_importance_weights",
    "weighted_doc_sample",
    "dsir_resample_counts",
    "dedup_quality_keeper",
    "gopher_quality_flags",
    "crossdoc_shared_spans",
    "crossdoc_span_scrub",
    # round-9 additions: mixture materialization + provenance overlap
    "mixture_resample_counts",
    "mixture_upsample_counts",
    "source_overlap_matrix",
    # round-9: PPJoin-style exact prefix-filter join (oracle = the full
    # inverted-index SQL, so the check proves the pruning lossless)
    "dedup_prefix_filter",
    # round-9: curriculum binning + chunk-granularity dedup + coverage audit
    "curriculum_tiers",
    "chunk_dedup_docs",
    "embedding_coverage_audit",
    # round-9 session-3: BPE merge round 0 (the merge loop itself is
    # rows-only, pinned against a Python reference in test_bpe.py)
    "bpe_pair_stats",
    "lineitem_constraint_audit",
    "zipf_head_fit",
    "heaps_law_fit",
    "pmi_top_bigrams",
    "semantic_decontamination",
    "documents_jsonl_roundtrip",
    # round-10: lexical retrieval + asymmetric containment + robust screens
    "bm25_doc_topk",
    "dedup_containment",
    "robust_value_outliers",
    "event_user_skew_profile",
    "winsorized_value_stats",
    "lang_source_independence",
    "documents_orc_roundtrip",
    "shard_release_manifest",
    # round-10 session-2: sorted-neighborhood blocking + HLL set algebra
    # + epoch shuffle
    "dedup_sorted_neighborhood",
    "hll_event_type_overlap",
    "doc_epoch_shuffle",
    "cms_view_purchase_joinsize",
    "doc_length_bucket_padding",
    "phrase_search_hits",
    "windowed_count_anomalies",
    # round-10 session-3: n-gram ladder top rung + drift + grid clustering
    "trigram_backoff_scores",
    "value_drift_psi",
    "grid_dbscan_clusters",
    "copurchase_hop_distances",
    "item_cf_neighbors",
    "event_type_daily_trend",
    "release_funnel_report",
    "event_debounce_stats",
    "copurchase_degree_mixing",
    "assoc_triples_topk",
    "multitouch_credit",
    "forecast_revenue_change",
    # round-11: contrastive-training data prep + burst screen + Neyman
    "hard_negative_topk",
    "event_type_bursts",
    "neyman_allocation",
    "k_anonymity_audit",
    # round-12: the audit's apply side + hybrid retrieval fusion
    "k_anonymity_enforce",
    "rrf_hybrid_topk",
    "l_diversity_audit",
    "linkage_blocking_metrics",
    "quality_gate_by_source",
]


@pytest.mark.parametrize("name", EXTENSION_ORACLE_QUERIES)
def test_extension_matches_oracle(spark, name):
    # documents/embeddings are fixed-size side tables — sf0.01 is the
    # driver's correctness scale, test there directly
    assert_matches_oracle(
        registry.QUERIES[name](spark, SF_CORRECT),
        registry.ORACLES[name],
        SF_CORRECT,
        float_round=6,
    )


def test_doc_shingles_short_docs_drop_out(spark):
    """Docs with fewer than SHINGLE_W words must yield zero shingles — not
    crash. Regression: sequence(1, 0) runs DESCENDING in Spark, so the
    unguarded transform evaluated slice(ws, 0, 3) and threw
    INVALID_PARAMETER_VALUE.START on any 1- or 2-word document."""
    docs = spark.createDataFrame(
        [(1, "one"), (2, "two words"), (3, "now three words"), (4, "")],
        "doc_id bigint, text string",
    )
    rows = D.doc_shingles(docs).collect()
    assert {r.doc_id for r in rows} == {3}
    assert [r.sh for r in rows] == ["now three words"]
    # full pipelines survive a short-doc corpus too
    assert D.ngram_jaccard_pairs(docs).collect() == []
    assert D.minhash_lsh_pairs(docs).collect() == []


def test_shingle_df_cut_drops_hot_shingles(spark):
    """Shingles above the document-frequency cut disappear from the
    inverted index; everything else survives untouched."""
    hot = "the same boilerplate"
    docs = spark.createDataFrame(
        [(i, f"{hot} unique{i} tail{i} end{i}") for i in range(6)],
        "doc_id bigint, text string",
    )
    ex = D.doc_shingles(docs)
    cut, full = D._shingle_index(docs, cut=5)
    assert {r.sh for r in cut.collect()} & {hot} == set()
    # non-hot shingles (df=1 each) all survive
    assert cut.count() == ex.count() - 6
    assert full.count() == ex.count()
    # default cut is a no-op at fixture scale
    same, verify = D._shingle_index(docs)
    assert verify is None and same.count() == ex.count()


def test_shingle_index_builds_with_one_probe(spark):
    """The shingle index is one persisted table (shingles plus their
    document frequency) and one ``max`` probe: 4 Spark jobs at sf0.01
    under the test session (7 with a persisted cut table, a persisted
    uncut table and a count probe on each)."""
    spark.catalog.clearCache()
    docs = load_table(spark, SF_CORRECT, "documents")
    (ex_cut, sh_all), jobs = jobs_in_group(
        spark, "shingle-index", lambda: D._shingle_index(docs)
    )
    assert sh_all is None  # no fixture shingle reaches the default cut
    assert jobs <= 4, jobs


def test_minhash_lsh_full_recall_on_planted_neardups(spark):
    """The fixtures plant near-dup pairs at Jaccard ≈ 0.95-0.99; with
    H=16/bands=4 the LSH collision probability there is ≈ 1, so MinHash
    must recover every exact-Jaccard pair at τ=0.5."""
    docs = load_table(spark, SF_CORRECT, "documents")
    exact = {(r.doc_a, r.doc_b) for r in D.ngram_jaccard_pairs(docs).collect()}
    lsh = {(r.doc_a, r.doc_b) for r in D.minhash_lsh_pairs(docs).collect()}
    assert exact, "fixture should contain near-dup pairs"
    assert lsh == exact


def test_ann_lsh_recall_and_precision(spark):
    emb = load_table(spark, SF_CORRECT, "embeddings")
    bf = {(r.vec_a, r.vec_b) for r in SIM.similar_pairs_threshold(emb).collect()}
    lsh = {(r.vec_a, r.vec_b) for r in SIM.ann_lsh_pairs(emb).collect()}
    assert lsh <= bf  # exact re-scoring → no false positives
    assert len(lsh & bf) / len(bf) >= 0.85  # multi-probe OR-amplified recall
    # multi-probe at HALF the tables must beat single-probe at full tables
    # (measured 0.93 vs 0.75 on this fixture) — the 100 TB trade the
    # module docstring promises
    single_full = {
        (r.vec_a, r.vec_b)
        for r in SIM.ann_lsh_pairs(emb, tables=8, probes=1).collect()
    }
    assert len(lsh & bf) >= len(single_full & bf)


def test_simhash_banding_is_lossless_and_separates(spark):
    """Two properties: (1) the pigeonhole chunk-join finds EXACTLY the
    brute-force Hamming ≤ k pair set (candidate generation loses nothing);
    (2) planted near-dup pairs sit much closer in Hamming space than the
    average pair (the fingerprint carries signal)."""
    docs = load_table(spark, SF_CORRECT, "documents")
    fp = {r.doc_id: r.simhash for r in D.simhash_fingerprints(docs).collect()}
    ids = sorted(fp)
    brute = {
        (a, b)
        for i, a in enumerate(ids)
        for b in ids[i + 1 :]
        if bin(fp[a] ^ fp[b]).count("1") <= D.SIMHASH_K
    }
    banded = {(r.doc_a, r.doc_b) for r in D.simhash_pairs(docs).collect()}
    assert banded == brute

    near = {
        (r.doc_a, r.doc_b)
        for r in D.ngram_jaccard_pairs(docs, tau=0.9).collect()
    }
    near_ham = [bin(fp[a] ^ fp[b]).count("1") for a, b in near]
    import random

    rng = random.Random(0)
    rand_ham = [
        bin(fp[rng.choice(ids)] ^ fp[rng.choice(ids)]).count("1")
        for _ in range(2000)
    ]
    assert near_ham and sum(near_ham) / len(near_ham) < 0.5 * (
        sum(rand_ham) / len(rand_ham)
    )


def test_multimodal_decode_plumbing(spark):
    docs = load_table(spark, SF_CORRECT, "documents")
    media = MM.synth_media(docs)
    feats = MM.decode_features(media)
    rows = feats.collect()
    assert len(rows) == docs.count()
    assert feats.schema.simpleString() == (
        "struct<media_id:bigint,media_type:string,n_bytes:bigint,"
        "width:int,height:int,n_frames:int,checksum:string>"
    )
    by_type = {r.media_type for r in rows}
    assert by_type == {"image", "audio", "video"}
    assert all(r.n_bytes == 16 for r in rows)  # md5 payload stand-in
    assert all(r.n_frames == 1 for r in rows if r.media_type == "image")
    # deterministic: second run identical
    again = sorted((r.media_id, r.checksum) for r in MM.decode_features(media).collect())
    assert again == sorted((r.media_id, r.checksum) for r in rows)


def test_multimodal_real_decode_gated_by_optional_deps(spark):
    """_decode_real is a real decoder behind call-time try-imports: WAV
    audio decodes with the always-available stdlib wave reader; image/
    video raise NotImplementedError only when PIL/PyAV are absent."""
    import io
    import struct
    import wave as wave_mod

    # tiny generated PCM WAV: 2 channels, 8000 Hz, 5 frames
    buf = io.BytesIO()
    with wave_mod.open(buf, "wb") as w:
        w.setnchannels(2)
        w.setsampwidth(2)
        w.setframerate(8000)
        w.writeframes(struct.pack("<10h", *range(10)))
    assert MM._decode_real(buf.getvalue(), "audio") == (2, 8000, 5)

    # the full Spark path over real payloads (stub=False, audio-only rows)
    media = spark.createDataFrame(
        [(1, "audio", bytearray(buf.getvalue()), None)],
        MM.MEDIA_SCHEMA,
    )
    row = MM.decode_features(media, stub=False).collect()[0]
    assert (row.width, row.height, row.n_frames) == (2, 8000, 5)

    # image decode is REAL with or without PIL (vendored PNG reader);
    # garbage bytes still refuse loudly
    with pytest.raises(NotImplementedError):
        MM._decode_real(b"xx", "image")
    with pytest.raises(NotImplementedError):
        MM._decode_real(b"xx", "unknown-type")


def _encode_png(width: int, height: int, pixels: bytes, color_type: int = 2) -> bytes:
    """Tiny test-side PNG ENCODER (stdlib only): 8-bit non-interlaced,
    one IDAT. Each row y is written with filter type y % 5 — so decoding
    it exercises every unfilter branch (None/Sub/Up/Average/Paeth)."""
    import struct
    import zlib

    channels = {0: 1, 2: 3, 4: 2, 6: 4}[color_type]
    stride, bpp = width * channels, channels

    def chunk(typ: bytes, data: bytes) -> bytes:
        return (
            struct.pack(">I", len(data))
            + typ
            + data
            + struct.pack(">I", zlib.crc32(typ + data) & 0xFFFFFFFF)
        )

    raw = bytearray()
    prev = bytearray(stride)
    for y in range(height):
        line = bytearray(pixels[y * stride : (y + 1) * stride])
        ft = y % 5
        filt = bytearray(line)
        if ft == 1:
            for i in range(stride - 1, bpp - 1, -1):
                filt[i] = (line[i] - line[i - bpp]) & 0xFF
        elif ft == 2:
            for i in range(stride):
                filt[i] = (line[i] - prev[i]) & 0xFF
        elif ft == 3:
            for i in range(stride):
                a = line[i - bpp] if i >= bpp else 0
                filt[i] = (line[i] - ((a + prev[i]) >> 1)) & 0xFF
        elif ft == 4:
            for i in range(stride):
                a = line[i - bpp] if i >= bpp else 0
                b = prev[i]
                c = prev[i - bpp] if i >= bpp else 0
                p = a + b - c
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                pr = a if pa <= pb and pa <= pc else (b if pb <= pc else c)
                filt[i] = (line[i] - pr) & 0xFF
        raw += bytes([ft]) + bytes(filt)
        prev = line
    ihdr = struct.pack(">IIBBBBB", width, height, 8, color_type, 0, 0, 0)
    return (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(bytes(raw)))
        + chunk(b"IEND", b"")
    )


def test_multimodal_real_png_decode_full_path(spark):
    """Real-decode matrix, image leg (audio's WAV leg runs above
    unconditionally): a PNG generated by the stdlib test encoder — one
    row per filter type — through the vendored ``_png_decode`` and the
    full mapInPandas path with stub=False must yield exact pixels and
    dimensions. Runs in every environment (round-7 VERDICT item 8
    replaced the PIL-skipped variant)."""
    import hashlib as _hashlib

    w, h = 9, 5  # 5 rows → filters 0,1,2,3,4 all exercised
    pixels = bytes(
        _hashlib.sha256(bytes([i])).digest()[0] for i in range(w * h * 3)
    )
    png = _encode_png(w, h, pixels, color_type=2)

    dw, dh, dpix = MM._png_decode(png)
    assert (dw, dh) == (w, h)
    assert dpix == pixels, "unfiltering did not round-trip the pixel bytes"
    # greyscale + RGBA profiles too
    grey = bytes(range(7 * 5))
    assert MM._png_decode(_encode_png(7, 5, grey, color_type=0))[2] == grey
    rgba = bytes((i * 37) & 0xFF for i in range(6 * 5 * 4))
    assert MM._png_decode(_encode_png(6, 5, rgba, color_type=6))[2] == rgba
    # pixel data not matching declared dims refuses rather than
    # misreporting: bump the IHDR height field (offset 20) by one
    import struct as _struct

    bad = png[:20] + _struct.pack(">I", h + 1) + png[24:]
    with pytest.raises(ValueError):
        MM._png_decode(bad)

    media = spark.createDataFrame(
        [(1, "image", bytearray(png), None)],
        MM.MEDIA_SCHEMA,
    )
    row = MM.decode_features(media, stub=False).collect()[0]
    assert (row.width, row.height, row.n_frames) == (w, h, 1)
    assert row.media_type == "image"


def test_frame_sample_plan(spark):
    docs = load_table(spark, SF_CORRECT, "documents")
    plan = MM.frame_sample_plan(MM.synth_media(docs), every_n=30)
    rows = plan.collect()
    assert rows, "videos should produce sampled frames"
    assert all(r.frame_idx % 30 == 0 for r in rows)


def test_similar_pairs_gate_routes_to_lsh(spark):
    """Above the exact-path row gate, similar_pairs_threshold must degrade
    to the LSH plan (no driver collect of the corpus): same schema, no
    false positives vs the exact answer."""
    from bigdata_hwk_spark.sources.tables import fan_out, load_table

    embs = fan_out(load_table(spark, SF_CORRECT, "embeddings"))
    exact = SIM.similar_pairs_threshold(embs)  # fixture ≪ gate → exact path
    gated = SIM.similar_pairs_threshold(embs, exact_max_rows=10)
    assert gated.columns == exact.columns
    epairs = {(r.vec_a, r.vec_b) for r in exact.collect()}
    gpairs = {(r.vec_a, r.vec_b) for r in gated.collect()}
    assert gpairs <= epairs  # exact re-scoring → precision 1.0
    assert len(gpairs) / len(epairs) >= 0.6  # OR-amplified recall


def test_similar_pairs_matrix_byte_gate(spark, monkeypatch):
    """The exact path is gated by MATRIX BYTES (rows × dim × 8), not just
    rows: a corpus whose float64 matrix would exceed the byte cap routes
    to LSH even when the row count is under the row gate — the driver
    heap stays bounded by the cap, not by whatever dim the corpus has.
    Just under the cap, the exact path runs and its matrix is exactly
    rows × dim × 8 bytes (Arrow flat-buffer reshape — no per-element
    Python object overhead)."""
    from bigdata_hwk_spark.sources.tables import load_table

    embs = load_table(spark, SF_CORRECT, "embeddings")
    n = embs.count()
    dim = 64
    exact = {
        (r.vec_a, r.vec_b) for r in SIM.similar_pairs_threshold(embs).collect()
    }

    # cap just below the fixture matrix → must degrade to LSH (subset,
    # never a superset — precision stays 1.0 through the gate)
    monkeypatch.setattr(
        SIM, "SIMILAR_PAIRS_MATRIX_MAX_BYTES", n * dim * 8 - 1
    )
    gated = {
        (r.vec_a, r.vec_b) for r in SIM.similar_pairs_threshold(embs).collect()
    }
    assert gated <= exact  # LSH path: precision 1.0, recall approximate

    # cap exactly at the fixture matrix → exact path, identical answer
    monkeypatch.setattr(SIM, "SIMILAR_PAIRS_MATRIX_MAX_BYTES", n * dim * 8)
    at_boundary = {
        (r.vec_a, r.vec_b) for r in SIM.similar_pairs_threshold(embs).collect()
    }
    assert at_boundary == exact


def test_resize_media_geometry_and_determinism(spark):
    """Resize plumbing: aspect-preserving geometry, deterministic stub
    payloads, image-only filter, binary output schema."""
    docs = load_table(spark, SF_SMOKE, "documents").limit(60)
    media = MM.synth_media(docs)
    r1 = {r.media_id: r for r in MM.resize_media(media, max_side=64).collect()}
    r2 = {r.media_id: r for r in MM.resize_media(media, max_side=64).collect()}
    assert len(r1) > 0
    assert set(r1) == set(r2)
    for mid, r in r1.items():
        assert r.media_type == "image"
        assert max(r.width, r.height) <= 64
        assert 0 < r.scale <= 1.0
        assert isinstance(r.payload, (bytes, bytearray))
        assert bytes(r.payload) == bytes(r2[mid].payload)  # deterministic


def _brute_jaccard_pairs(texts: dict[int, str], tau: float):
    """Full-shingle-set Jaccard over every doc pair, pure Python."""
    shs = {
        i: {
            " ".join(ws[j : j + D.SHINGLE_W])
            for j in range(len(ws) - D.SHINGLE_W + 1)
        }
        for i, t in texts.items()
        for ws in [t.split(" ")]
        if len(ws) >= D.SHINGLE_W
    }
    out = set()
    ids = sorted(shs)
    for x in ids:
        for y in ids:
            if x < y and shs[x] & shs[y]:
                j = len(shs[x] & shs[y]) / len(shs[x] | shs[y])
                if j >= tau:
                    out.add((x, y, round(j, 6)))
    return out


def test_active_df_cut_still_reports_full_set_jaccard(spark):
    """When the hot-shingle cut actually drops rows, reported Jaccard must
    still be computed over the UNCUT shingle sets (round-2 ADVICE): the
    cut bounds candidate generation, never the verification arithmetic."""
    hot = "zz zz zz zz"  # yields the df=8 shingle "zz zz zz" in every doc
    texts = {
        1: f"{hot} alpha beta gamma delta epsilon zeta eta theta",
        2: f"{hot} alpha beta gamma delta epsilon zeta eta iota",
        3: f"{hot} totally different words here now okay fine",
        4: f"{hot} totally different words here now okay fine yes",
        **{i: f"{hot} unrelated{i} filler{i} tail{i} end{i}" for i in range(5, 9)},
    }
    docs = spark.createDataFrame(
        sorted(texts.items()), "doc_id bigint, text string"
    )
    tau = 0.3
    want = _brute_jaccard_pairs(texts, tau)
    assert want, "test corpus must contain qualifying pairs"

    # cut=4 < df(hot shingles): the cut path is active (probe must NOT
    # take the no-op shortcut), yet values are full-set Jaccard
    got = {
        (r.doc_a, r.doc_b, r.jaccard)
        for r in D.ngram_jaccard_pairs(docs, tau=tau, cut=4).collect()
    }
    assert got == want

    # LSH path: candidates may lose recall under the cut, but every
    # emitted pair must carry the exact full-set Jaccard value
    got_lsh = {
        (r.doc_a, r.doc_b, r.jaccard)
        for r in D.minhash_lsh_pairs(docs, tau=tau, cut=4).collect()
    }
    assert got_lsh <= want
    assert (1, 2, round(next(j for a, b, j in want if (a, b) == (1, 2)), 6)) in got_lsh


def test_registry_gate_window_covers_all_oracles(spark):
    """The driver records correctness rows for the first 50 registered
    queries only: in EVERY rotation, the window must hold exactly 50
    oracle-backed queries, the rotated-out oracle queries must all be in
    the declared overflow, and rows-only entries sit at the tail. Pins
    the module-end reorder against future registration drift."""
    names = list(registry.QUERIES)
    first50 = set(names[:50])
    overflow = set(registry._GATE_OVERFLOW)
    assert all(n in registry.ORACLES for n in names[:50])
    missing = set(registry.ORACLES) - first50
    assert missing == overflow, missing ^ overflow
    for tail_name in names[50:]:
        assert tail_name in overflow or tail_name not in registry.ORACLES


def test_registry_gate_rotation_covers_every_oracle_query():
    """The overflow set rotates by round: the stable core is never
    excluded, consecutive rounds exclude different pool slices, and over
    enough rounds every oracle-backed query is gated at least once (the
    step is co-prime with the pool size, so the walk covers the pool)."""
    import math

    pool = [k for k in registry.ORACLES if k not in registry._GATE_STABLE_CORE]
    assert math.gcd(registry._rotation_step(len(pool)), len(pool)) == 1
    # the derived step stays co-prime for EVERY plausible pool size, not
    # just the current one (the fixed-13 step broke at pool=104=8*13)
    for plen in range(1, 400):
        assert math.gcd(registry._rotation_step(plen), plen) == 1
    ever_gated = set(registry._GATE_STABLE_CORE)
    for rnd in range(1, len(pool) + 1):
        over = registry._rotated_gate_overflow(rnd)
        assert not (set(over) & set(registry._GATE_STABLE_CORE))
        assert len(over) == len(registry.ORACLES) - 50
        ever_gated |= set(registry.ORACLES) - set(over)
    assert ever_gated == set(registry.ORACLES)
    # rotation actually moves between this round and the last
    this_round = registry._gate_round_number()
    assert set(registry._rotated_gate_overflow(this_round)) != set(
        registry._rotated_gate_overflow(this_round - 1 or 1)
    ) or this_round == 1


def _dup_profile_model(docs, w=3):
    """Brute-force python model of duplication_profile."""
    import collections

    shingles = {}
    for doc_id, text in docs:
        ws = text.split(" ")
        shingles[doc_id] = {
            " ".join(ws[i : i + w]) for i in range(len(ws) - w + 1)
        } if len(ws) >= w else set()
    df = collections.Counter(s for shs in shingles.values() for s in shs)
    out = {}
    for doc_id, shs in shingles.items():
        if not shs:
            continue
        dup = sum(1 for s in shs if df[s] >= 2)
        out[doc_id] = (len(shs), dup)
    return out


def test_duplication_profile_random_corpora_match_model(spark):
    """Randomized corpora (shared phrases, repeats, short docs) vs the
    brute-force model — seeded, multiple shapes."""
    import random

    from bigdata_hwk_spark.operators.dedup import duplication_profile

    rng = random.Random(42)
    vocab = [f"w{i}" for i in range(30)]
    for trial in range(5):
        docs = []
        shared = " ".join(rng.choices(vocab, k=rng.randint(3, 6)))
        for doc_id in range(rng.randint(4, 12)):
            words = rng.choices(vocab, k=rng.randint(0, 20))
            if rng.random() < 0.5:
                insert_at = rng.randint(0, len(words))
                words[insert_at:insert_at] = shared.split(" ")
            docs.append((doc_id, " ".join(words)))
        want = _dup_profile_model(docs)
        got = {
            r.doc_id: (r.n_shingles, r.n_dup_shingles)
            for r in duplication_profile(
                spark.createDataFrame(docs, "doc_id bigint, text string")
            ).collect()
        }
        assert got == want, f"trial {trial}: {got} != {want}"


def test_purchase_attribution_random_events_match_model(spark):
    """Randomized event logs vs a brute-force model of the 7-day
    lookback count/max — exercises boundary-equal timestamps."""
    import datetime as dt
    import random

    from bigdata_hwk_spark.plans import relational as R

    rng = random.Random(7)
    base = dt.datetime(2024, 1, 1)
    rows = []
    eid = 0
    for _ in range(120):
        eid += 1
        uid = rng.randint(1, 5)
        # coarse steps make exact 7-day boundary collisions likely
        ts = base + dt.timedelta(days=rng.randint(0, 20), hours=rng.choice([0, 12]))
        et = rng.choice(["purchase", "click", "view"])
        rows.append((eid, uid, ts, et, 0.0, "{}"))
    ev = spark.createDataFrame(
        rows,
        "event_id bigint, user_id bigint, ts timestamp, event_type string, "
        "value double, props string",
    )
    import bigdata_hwk_spark.sources.tables as T

    orig = T.load_table
    try:
        T.load_table = lambda s, d, n: ev
        R.load_table = T.load_table
        got = {
            r.event_id: (r.n_clicks_7d, r.last_click_ts)
            for r in R.purchase_attribution(spark, "x").collect()
        }
    finally:
        T.load_table = orig
        R.load_table = orig
    lookback = dt.timedelta(days=7)
    want = {}
    for eid_, uid, ts, et, _, _ in rows:
        if et != "purchase":
            continue
        clicks = [
            cts
            for _, cu, cts, cet, _, _ in rows
            if cet == "click" and cu == uid and ts - lookback <= cts <= ts
        ]
        want[eid_] = (len(clicks), max(clicks) if clicks else None)
    assert got == want


def test_bloom_membership_properties(spark):
    """No false negatives ever; false positives exist at the fixture's
    deliberately small m but stay bounded; and the filter is mergeable:
    bits(A ∪ B) == bits(A) ∪ bits(B)."""
    from pyspark.sql import functions as F

    from bigdata_hwk_spark.operators import sketches as SK

    docs = registry._docs(spark, SF_CORRECT)
    corpus = docs.filter("doc_id % 4 != 0").select(
        F.col("doc_id").cast("string").alias("key")
    )
    probes = docs.select(F.col("doc_id").cast("string").alias("key"))
    rows = SK.bloom_membership(corpus, probes, m=2048).collect()
    assert rows
    fp = fn = 0
    for r in rows:
        if r.actually_present and not r.claimed_present:
            fn += 1
        if r.claimed_present and not r.actually_present:
            fp += 1
    assert fn == 0  # Bloom filters never report a present key absent
    n_absent = sum(1 for r in rows if not r.actually_present)
    assert 0 < fp < 0.35 * n_absent  # observable but bounded at this m

    a = corpus.filter("key < '250'")
    b = corpus.filter("key >= '250'")
    merged = {
        r.bit
        for r in SK.bloom_bits(a, m=2048).union(SK.bloom_bits(b, m=2048))
        .distinct()
        .collect()
    }
    whole = {r.bit for r in SK.bloom_bits(corpus, m=2048).collect()}
    assert merged == whole


def test_hll_registers_mergeable_and_error_bound(spark):
    """Register tables merge by groupBy(bucket).max — merging the sketches
    of two disjoint halves must equal the sketch of the whole (the
    property that lets per-partition/per-shard sketches combine at 100 TB
    without touching raw data). Estimator error at p=8 stays within 4
    standard errors (1.04/sqrt(256) ≈ 6.5%) on a 10k-distinct synthetic."""
    from pyspark.sql import functions as F

    from bigdata_hwk_spark.operators import sketches as SK

    items = spark.range(10_000).select(F.col("id").alias("item"))
    a = items.filter("item < 6000")
    b = items.filter("item >= 6000")
    merged = {
        (r.bucket, r.max_rho)
        for r in SK.hll_registers(a, p=8)
        .union(SK.hll_registers(b, p=8))
        .groupBy("bucket")
        .agg(F.max("max_rho").alias("max_rho"))
        .collect()
    }
    whole = {(r.bucket, r.max_rho) for r in SK.hll_registers(items, p=8).collect()}
    assert merged == whole

    row = SK.hll_cardinality(items, p=8).collect()[0]
    assert row.n_exact == 10_000
    assert abs(row.n_est - 10_000) / 10_000 < 0.26  # 4σ at m=256
    assert row.v_zero == 0  # 10k distinct saturates 256 registers


def test_hll_linear_counting_small_range(spark):
    """Small cardinalities take the linear-counting branch (empty
    registers present) and stay near-exact there."""
    from pyspark.sql import functions as F

    from bigdata_hwk_spark.operators import sketches as SK

    items = spark.range(12).select(F.col("id").alias("item"))
    row = SK.hll_cardinality(items, p=5).collect()[0]
    assert row.n_exact == 12
    assert row.v_zero > 0
    assert abs(row.n_est - 12) / 12 < 0.35


def test_histogram_sketch_mergeable_and_quantile_error_bound(spark):
    """Per-shard histograms merge by groupBy(bin).sum into the whole-table
    histogram (fixed a-priori bin edges — the mergeability contract), and
    bin-midpoint quantile estimates sit within one bin width of the exact
    percentiles (the error bound the bin count buys)."""
    from pyspark.sql import functions as F

    from bigdata_hwk_spark.operators import sketches as SK
    from bigdata_hwk_spark.plans.relational import event_value_quantiles
    from bigdata_hwk_spark.sources.tables import load_table

    ev = load_table(spark, SF_CORRECT, "events")
    a = ev.filter("event_id % 2 = 0")
    b = ev.filter("event_id % 2 != 0")
    merged = {
        (r.bin, r.cnt)
        for r in SK.histogram_sketch(a)
        .unionByName(SK.histogram_sketch(b))
        .groupBy("bin")
        .agg(F.sum("cnt").alias("cnt"))
        .collect()
    }
    whole = {(r.bin, r.cnt) for r in SK.histogram_sketch(ev).collect()}
    assert merged == whole

    width = (SK.QSK_HI - SK.QSK_LO) / SK.QSK_BINS
    est = {
        r.event_type: (r.p50_est, r.p95_est)
        for r in SK.histogram_quantiles(
            ev, group_cols=("event_type",)
        ).collect()
    }
    exact = {
        r.event_type: (r.p25_value, r.p50_value, r.p75_value)
        for r in event_value_quantiles(spark, SF_CORRECT).collect()
    }
    assert set(est) == set(exact)
    for et, (p50e, _p95e) in est.items():
        assert abs(p50e - exact[et][1]) <= width, (et, p50e, exact[et][1])


def test_incremental_embedding_pairs_equal_full_cross_pairs(spark):
    """The bipartite broadcast-matmul must find EXACTLY the full all-pairs
    result restricted to (batch, corpus) cross pairs — recall 1 is the
    property that makes it oracle-checkable (unlike the LSH variant)."""
    emb = load_table(spark, SF_CORRECT, "embeddings")
    batch = emb.filter("vec_id % 10 = 0")
    corpus = emb.filter("vec_id % 10 != 0")
    got = {
        (r.batch_id, r.corpus_id)
        for r in SIM.incremental_embedding_pairs(batch, corpus).collect()
    }
    full = {
        (r.vec_a, r.vec_b)
        for r in SIM.similar_pairs_threshold(emb).collect()
    }
    want = {
        (a, b) if a % 10 == 0 else (b, a)
        for a, b in full
        if (a % 10 == 0) != (b % 10 == 0)
    }
    assert got == want
    assert got  # fixture must actually produce cross pairs


def test_trim_repeated_ngrams_planted_properties(spark):
    """The in-document n-gram trim's single rule on planted docs:
    a doc with no repeated 3-gram is unchanged; a doubled doc S+S keeps
    the first copy plus at most n-1 boundary tokens; determinism."""
    from bigdata_hwk_spark.functions.text import TRIM_NGRAM_N, trim_repeated_ngrams

    n = TRIM_NGRAM_N
    s = "alpha beta gamma delta epsilon zeta eta theta"
    k = len(s.split())
    docs = spark.createDataFrame(
        [
            (0, s),                       # all 3-grams distinct → unchanged
            (1, s + " " + s),             # doubled → second copy trimmed
            (2, "x y " + "a b c " * 5),   # degenerate loop → one cycle kept
        ],
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in trim_repeated_ngrams(docs).collect()}

    assert out[0].clean_text == s and out[0].n_kept == k

    assert out[1].n_tokens == 2 * k
    assert out[1].n_kept <= k + (n - 1)
    assert out[1].clean_text.startswith(s)

    # "a b c" repeated: after the first cycle every later token's ending
    # 3-gram repeats, so at most the first cycle + n-1 boundary tokens of
    # the second survive past the "x y" prefix
    assert out[2].n_kept <= 2 + 3 + (n - 1)

    # determinism across runs
    again = {r.doc_id: r.clean_text for r in trim_repeated_ngrams(docs).collect()}
    assert again == {d: r.clean_text for d, r in out.items()}


def test_bloom_prune_no_false_negatives_and_effective(spark):
    """bloom_prune must keep EVERY true match (no false negatives), prune
    a meaningful share of non-matching fact rows, and compose with the
    exact join to the plain join's exact result."""
    from pyspark.sql import functions as F

    from bigdata_hwk_spark.operators import sketches as SK

    cust = load_table(spark, SF_CORRECT, "customer").filter(
        F.col("c_mktsegment") == "BUILDING"
    )
    keys = {r.c_custkey for r in cust.collect()}
    orders = load_table(spark, SF_CORRECT, "orders")
    bits = SK.bloom_bits(cust.select(F.col("c_custkey").alias("key")))
    pruned = SK.bloom_prune(orders, bits, "o_custkey")

    n_orders = orders.count()
    n_true = orders.filter(F.col("o_custkey").isin(keys)).count()
    n_pruned = pruned.count()
    # no false negatives: every true match survives the prune
    assert n_pruned >= n_true
    surviving = {r.o_custkey for r in pruned.select("o_custkey").collect()}
    assert keys & {r.o_custkey for r in orders.select("o_custkey").collect()} <= surviving
    # effective: the filter actually prunes (fp rate is ~1e-4 at these
    # parameters; allow a loose bound)
    assert n_pruned <= n_true + 0.05 * n_orders

    # the prune predicate stays map-side: no exchange below the filter
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan


def test_mixture_resample_rate_math_hand_case(spark):
    """Two sources with token totals 100 and 400: the rare source keeps
    everything (r_ppm = 1e6 exactly, so EVERY row passes the ppm
    Bernoulli), the common one gets sqrt(100/400) = 0.5 → 500000 ppm."""
    from bigdata_hwk_spark.operators.splits import mixture_resample_counts

    rows = [(i, " ".join(["w"] * 10), "rare") for i in range(10)]
    rows += [(100 + i, " ".join(["w"] * 10), "common") for i in range(40)]
    docs = spark.createDataFrame(rows, "doc_id bigint, text string, source string")
    out = {r["source"]: r for r in mixture_resample_counts(docs).collect()}
    assert out["rare"]["r_ppm"] == 1_000_000
    assert out["common"]["r_ppm"] == 500_000
    # rarest source keeps every doc and every token, deterministically
    assert out["rare"]["n_kept"] == out["rare"]["n_docs"] == 10
    assert out["rare"]["kept_tokens"] == 100
    # downsampled source keeps a strict subset
    assert 0 < out["common"]["n_kept"] < 40
    assert out["common"]["kept_tokens"] == out["common"]["n_kept"] * 10


def test_mixture_resample_is_append_stable(spark):
    """Appending docs to one source must not redraw another source's kept
    set when the rate table is unchanged: the keep decision is a pure
    per-row hash, so a doc's fate depends only on (salt, doc_id, r_ppm)."""
    from bigdata_hwk_spark.operators.splits import mixture_resample_counts

    base = [(i, " ".join(["w"] * 10), "a") for i in range(20)]
    base += [(100 + i, " ".join(["w"] * 10), "b") for i in range(80)]
    # append 60 more docs to b — a's tokens (and t_min) are unchanged, and
    # b's rate only DROPS, so every b-doc kept after must have been kept
    # before; a's kept set is bit-identical
    more = base + [(300 + i, " ".join(["w"] * 10), "b") for i in range(60)]
    mk = lambda rows: spark.createDataFrame(
        rows, "doc_id bigint, text string, source string"
    )
    before = {r["source"]: r for r in mixture_resample_counts(mk(base)).collect()}
    after = {r["source"]: r for r in mixture_resample_counts(mk(more)).collect()}
    assert after["a"]["n_kept"] == before["a"]["n_kept"]
    assert after["a"]["kept_tokens"] == before["a"]["kept_tokens"]
    assert after["b"]["r_ppm"] < before["b"]["r_ppm"]


def test_source_overlap_matrix_hand_case(spark):
    """A planted cross-source near-dup pair lands in exactly one unordered
    cell; the unrelated doc contributes nothing."""
    from bigdata_hwk_spark.operators.dedup import source_overlap_matrix

    dup = "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu"
    other = "one two three four five six seven eight nine ten eleven twelve"
    docs = spark.createDataFrame(
        [(1, dup, "src_b"), (2, dup, "src_a"), (3, other, "src_a")],
        "doc_id bigint, text string, source string",
    )
    got = [tuple(r) for r in source_overlap_matrix(docs).collect()]
    assert got == [("src_a", "src_b", 1)]


def test_prefix_filter_equals_full_inverted_index(spark):
    """The prefix-filter lemma's whole claim: pruning loses NOTHING. The
    pair set (jaccard values included) must equal the full inverted-index
    join's, on the fixture (which plants near-dups) and at a lower tau
    where mid-similarity pairs stress the length filter."""
    docs = load_table(spark, SF_CORRECT, "documents")
    for tau in (0.5, 0.3):
        full = {tuple(r) for r in D.ngram_jaccard_pairs(docs, tau=tau).collect()}
        pref = {tuple(r) for r in D.prefix_filter_pairs(docs, tau=tau).collect()}
        assert full, f"fixture should contain pairs at tau={tau}"
        assert pref == full


def test_prefix_filter_short_and_hot_docs(spark):
    """Sub-shingle docs drop out (no crash), and identical docs built
    ENTIRELY of one hot boilerplate shingle set are still found — the
    prefix runs on the full table, so the hot-shingle cut can't cost
    exactness."""
    hot = "the same boilerplate phrase again and again forever"
    docs = spark.createDataFrame(
        [(1, "one"), (2, "two words"), (3, hot), (4, hot)],
        "doc_id bigint, text string",
    )
    got = [tuple(r) for r in D.prefix_filter_pairs(docs).collect()]
    assert got == [(3, 4, 1.0)]


def test_mixture_upsample_hand_case(spark):
    """Sources with token totals 400 (common) and 100 (rare): common keeps
    exactly one copy per doc (r = 1.0 exactly); rare gets r = 2.0 exactly,
    so EVERY rare doc appears exactly twice — no fractional draw at all.
    A 200-token middle source gets r = sqrt(2): base 1 plus a hash-decided
    extra, so sum_repeats lands strictly between n_docs and 2*n_docs."""
    from bigdata_hwk_spark.operators.splits import (
        mixture_upsample,
        mixture_upsample_counts,
    )

    rows = [(i, " ".join(["w"] * 10), "common") for i in range(40)]
    rows += [(100 + i, " ".join(["w"] * 10), "rare") for i in range(10)]
    rows += [(200 + i, " ".join(["w"] * 10), "mid") for i in range(20)]
    docs = spark.createDataFrame(rows, "doc_id bigint, text string, source string")
    out = {r["source"]: r for r in mixture_upsample_counts(docs).collect()}
    assert out["common"]["sum_repeats"] == 40
    assert out["common"]["upsampled_tokens"] == 400
    assert out["rare"]["sum_repeats"] == 20
    assert out["rare"]["upsampled_tokens"] == 200
    assert 20 < out["mid"]["sum_repeats"] < 40
    # the materialized expansion agrees with the counts: copy indices are
    # dense 1..rep per doc
    exp = mixture_upsample(docs)
    per_doc = {
        (r["doc_id"], r["copy"]) for r in exp.filter("source = 'rare'").collect()
    }
    assert per_doc == {(100 + i, c) for i in range(10) for c in (1, 2)}


def test_mixture_realized_shares_hit_the_target(spark):
    """The SEMANTIC claim of both mixture materializations: after
    down/upsampling, each source's realized token share approximates the
    α=0.5 target w_i ∝ sqrt(p_i) — not just "the rate math is right" but
    "the corpus that comes out is the corpus source_mix_weights planned".
    Tolerance is loose (hash Bernoulli on finite fixtures) but tight
    enough to catch an inverted ratio, a wrong exponent, or rates applied
    to the wrong source."""
    import math

    from pyspark.sql import functions as F

    from bigdata_hwk_spark.operators.splits import (
        mixture_resample_counts,
        mixture_upsample_counts,
    )

    docs = load_table(spark, SF_CORRECT, "documents")
    base = {
        r["source"]: r["t"]
        for r in docs.selectExpr(
            "source", "size(split(text, ' ')) as n"
        ).groupBy("source").agg(F.sum("n").alias("t")).collect()
    }
    total = sum(base.values())
    target = {s: math.sqrt(t / total) for s, t in base.items()}
    tsum = sum(target.values())
    target = {s: w / tsum for s, w in target.items()}

    for counts, col in (
        (mixture_resample_counts(docs), "kept_tokens"),
        (mixture_upsample_counts(docs), "upsampled_tokens"),
    ):
        got = {r["source"]: r[col] for r in counts.collect()}
        gsum = sum(got.values())
        for s in base:
            realized = got[s] / gsum
            assert abs(realized - target[s]) < 0.25 * target[s], (
                s, realized, target[s], col
            )


def test_curriculum_tiers_quartiles_hand_case(spark):
    """Tier boundaries are exact order statistics: with the default
    quartile cuts every tier gets ~N/4 docs on the fixture, boundaries
    are inclusive (score == threshold -> higher tier), and tier is
    monotone in score."""
    from bigdata_hwk_spark.functions.text import curriculum_tiers

    docs = load_table(spark, SF_CORRECT, "documents")
    rows = curriculum_tiers(docs).collect()
    n = len(rows)
    by_tier = {}
    for r in rows:
        by_tier.setdefault(r["tier"], []).append(r["quality_score"])
    assert set(by_tier) == {0, 1, 2, 3}
    for t in (0, 1, 2):  # monotone: every tier-t score < every tier-t+1 min
        assert max(by_tier[t]) <= min(by_tier[t + 1])
    # quartile-ish sizes (ties can shift boundaries, not by much)
    for t, scores in by_tier.items():
        assert 0.15 * n < len(scores) < 0.35 * n, (t, len(scores), n)


def test_chunk_dedup_keeps_first_occurrence_and_rebuilds(spark):
    """Cross-doc duplicate chunks drop in the later doc, intra-doc
    repeats keep only the first, clean docs pass through verbatim, and
    empty docs survive with empty clean_text."""
    from bigdata_hwk_spark.operators.dedup import chunk_dedup_docs

    docs = spark.createDataFrame(
        [
            (1, "a b c d e f"),
            (2, "a b c x y z"),
            (3, "p q r p q r"),
            (4, ""),
        ],
        "doc_id bigint, text string",
    )
    got = {r["doc_id"]: r for r in chunk_dedup_docs(docs, w=3).collect()}
    assert (got[1]["n_chunks"], got[1]["n_dropped"], got[1]["clean_text"]) == (
        2, 0, "a b c d e f"
    )
    assert (got[2]["n_chunks"], got[2]["n_dropped"], got[2]["clean_text"]) == (
        2, 1, "x y z"
    )
    assert (got[3]["n_chunks"], got[3]["n_dropped"], got[3]["clean_text"]) == (
        2, 1, "p q r"
    )
    assert (got[4]["n_chunks"], got[4]["n_dropped"], got[4]["clean_text"]) == (
        0, 0, ""
    )


def test_embedding_coverage_audit_flags_planted_defects(spark):
    """Orphans on both sides, a NaN vector, a zero vector and a short
    vector each land in exactly the right counter."""
    from bigdata_hwk_spark.operators.similarity import embedding_coverage_audit

    docs = spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, "c")], "doc_id bigint, text string"
    )
    embs = spark.createDataFrame(
        [
            (1, [1.0, 2.0]),
            (2, [float("nan"), 1.0]),
            (3, [0.0, 0.0]),
            (9, [1.0]),  # orphan AND off-dim
        ],
        "vec_id bigint, embedding array<float>",
    )
    r = embedding_coverage_audit(docs, embs).collect()[0]
    assert (r["n_docs"], r["n_vecs"]) == (3, 4)
    assert (r["docs_without_vec"], r["vecs_without_doc"]) == (0, 1)
    assert (r["min_dim"], r["max_dim"]) == (1, 2)
    assert (r["nan_vecs"], r["zero_norm_vecs"]) == (1, 1)


def test_embedding_coverage_audit_clean_fixture(spark):
    """The driver fixture pairs every doc with one healthy 64-dim vector."""
    from bigdata_hwk_spark.operators.similarity import embedding_coverage_audit

    docs = load_table(spark, SF_CORRECT, "documents")
    embs = load_table(spark, SF_CORRECT, "embeddings")
    r = embedding_coverage_audit(docs, embs).collect()[0]
    assert r["n_docs"] == r["n_vecs"] == 500
    assert r["docs_without_vec"] == r["vecs_without_doc"] == 0
    assert r["min_dim"] == r["max_dim"] == 64
    assert r["nan_vecs"] == r["zero_norm_vecs"] == 0
