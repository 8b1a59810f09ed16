"""Property tests for the probabilistic LLM operators (the ones the
SQL oracle can't express): LSH recall vs exact baselines, SimHash
structure, multimodal batch semantics."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from end_end_data_pipeline__spark.operators import dedup, multimodal, similarity
from end_end_data_pipeline__spark.sources import lake
from tests.conftest import SF_SMOKE


@pytest.fixture(scope="module")
def docs(spark):
    return lake.load_table(spark, "documents", SF_SMOKE).cache()


@pytest.fixture(scope="module")
def emb(spark):
    return lake.load_table(spark, "embeddings", SF_SMOKE).cache()


def test_ngram_jaccard_exact_over_hot_shingles(spark):
    """Ten identical boilerplate docs make every boilerplate shingle
    hot (df 12); the exact path must still emit every pair at or above
    the threshold, each with its exact jaccard."""
    boiler = "terms of service apply here"
    rows = [(i, boiler) for i in range(10)]  # identical boilerplate docs
    rows += [(100, boiler + " unique alpha beta"),
             (101, boiler + " unique alpha gamma")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in dedup.ngram_jaccard_pairs(
            df, "text", "doc_id", threshold=0.3
        ).collect()
    }
    # boilerplate has 3 shingles; docs 100/101 have 6 each, sharing 5
    expected = {(a, b): 1.0 for a in range(10) for b in range(a + 1, 10)}
    expected.update({(a, d): 0.5 for a in range(10) for d in (100, 101)})
    expected[(100, 101)] = 5 / 7
    assert len(expected) == 66
    assert out == pytest.approx(expected)


def test_simhash_chunk_candidates_near_linear(spark):
    """Structural bound of the pigeonhole candidate join: with n docs
    of ~uniform signatures, candidates ≈ n²·k/2^w — far below n²/2 for
    w=16, and narrowing the chunks (same bits, w=8) must inflate the
    candidate set, demonstrating why width is the scale knob."""
    n = 2000
    sig = spark.range(n).select(
        F.col("id").alias("doc"), F.xxhash64("id").alias("simhash")
    )
    n_wide = dedup.simhash_chunk_candidates(sig, 4, 16).count()
    # expected ~ n^2/2 * 4/65536 ≈ 122; near-linear means O(n), not O(n²)
    assert n_wide < 5 * n, n_wide
    n_narrow = dedup.simhash_chunk_candidates(sig, 8, 8).count()
    # 8-bit buckets hold n/256 docs each -> quadratic tail shows up
    assert n_narrow > 20 * n_wide, (n_narrow, n_wide)


def test_simhash_chunking_validation(spark):
    sig = spark.range(4).select(F.col("id").alias("doc"), F.xxhash64("id").alias("simhash"))
    with pytest.raises(ValueError, match="exceed the 64-bit"):
        dedup.simhash_chunk_candidates(sig, 5, 16)
    df = spark.createDataFrame([(1, "a b c")], "doc_id long, text string")
    with pytest.raises(ValueError, match="cannot guarantee recall"):
        dedup.simhash_neardup_pairs(df, "text", "doc_id", max_hamming=3, n_chunks=2)
    # chunking must be validated against the FAMILY's signature width:
    # 4x16 fits 64-bit xxhash64 but overhangs the 60-bit md5 family
    # (bits 60-63 are always zero — dead selectivity)
    with pytest.raises(ValueError, match="exceed the 60-bit"):
        dedup.simhash_neardup_pairs(
            df, "text", "doc_id", max_hamming=3,
            n_chunks=4, chunk_width=16, hash_family="md5",
        )


def test_shingles_takes_plain_column_name(spark):
    """``shingles`` splices its argument into SQL text, so only a plain
    identifier is accepted: a dotted name, a backticked name and a
    Column expression are each rejected."""
    assert "`toks`" in str(dedup.shingles("toks", 3))
    for bad in ("doc.toks", "`toks`", F.col("toks")):
        with pytest.raises(ValueError, match="plain column name"):
            dedup.shingles(bad, 3)


def test_minhash_lsh_recall_vs_exact(spark, docs):
    """Every exact-jaccard pair ≥ 0.7 must be found by the banded LSH
    (32/8 S-curve ⇒ ~99.9% collision at j=0.7; the fixture is fixed, so
    this is deterministic)."""
    exact = {
        (r["doc_a"], r["doc_b"])
        for r in dedup.ngram_jaccard_pairs(docs, "text", "doc_id", threshold=0.7).collect()
    }
    lsh = {
        (r["doc_a"], r["doc_b"])
        for r in dedup.minhash_lsh_pairs(
            docs, "text", "doc_id", verify_threshold=0.7
        ).collect()
    }
    assert exact, "fixture should contain high-jaccard pairs"
    missed = exact - lsh
    assert not missed, f"LSH missed high-similarity pairs: {missed}"
    # precision is exact by construction (verified candidates)
    assert lsh <= exact


def test_minhash_lsh_precision_threshold(spark, docs):
    out = dedup.minhash_lsh_pairs(docs, "text", "doc_id", verify_threshold=0.5)
    assert out.filter(F.col("jaccard") < 0.5).count() == 0


def test_simhash_identical_texts_equal_sigs(spark):
    df = spark.createDataFrame(
        [(1, "spark window agg join"), (2, "spark window agg join"),
         (3, "completely different words entirely")],
        "doc_id long, text string",
    )
    sigs = {r["doc"]: r["simhash"] for r in dedup.simhash(df, "text", "doc_id").collect()}
    assert sigs[1] == sigs[2]
    assert sigs[1] != sigs[3]
    pairs = dedup.simhash_neardup_pairs(df, "text", "doc_id", max_hamming=3).collect()
    assert {(r["doc_a"], r["doc_b"]) for r in pairs} == {(1, 2)}


def test_ann_lsh_recall_at_10(spark, emb):
    """Multi-probe sign-LSH must recover a solid share of the true
    top-10 (fixed data + fixed hyperplanes ⇒ deterministic)."""
    probes = emb.filter(F.col("vec_id") < 5)
    truth = similarity.brute_force_topk(emb, probes, k=10).collect()
    approx = similarity.lsh_topk(emb, probes, k=10).collect()
    t = {(r["probe_id"], r["neighbor_id"]) for r in truth}
    a = {(r["probe_id"], r["neighbor_id"]) for r in approx}
    recall = len(t & a) / len(t)
    assert recall >= 0.8, f"recall@10 {recall:.2f}"


def test_neardup_pairs_find_injected_duplicates(spark, emb):
    base = emb.select("vec_id", similarity.as_double("embedding").alias("e"))
    inj = base.filter(F.col("vec_id") % 50 == 0).select(
        (F.col("vec_id") + 100000).alias("vec_id"),
        F.transform(F.col("e"), lambda x, i: F.when(i == 0, x + 0.05).otherwise(x)).alias("e"),
    )
    corpus = base.unionByName(inj)
    found = similarity.cosine_neardup_pairs(
        corpus, "e", "vec_id", threshold=0.99
    ).collect()
    expected = {(r["vec_id"], r["vec_id"] + 100000) for r in inj.select(
        (F.col("vec_id") - 100000).alias("vec_id")).collect()}
    got = {(r["doc_a"], r["doc_b"]) for r in found}
    assert expected <= got, f"missed {expected - got}"


def test_multimodal_batch_shapes(spark, docs):
    media = multimodal.attach_media(docs, F.encode(F.col("text"), "utf-8"), "image", "raw")
    feats = multimodal.extract_features(media, "media", "doc_id", dims=8)
    row = feats.first()
    assert len(row["feature"]) == 8
    assert abs(sum(row["feature"]) - 1.0) < 1e-6  # L1-normalized
    assert feats.count() == docs.count()
    # metadata struct carries byte length
    m = media.select("media_meta.n_bytes", F.length("text").alias("n")).first()
    assert m["n_bytes"] == m["n"]


def test_multimodal_compressed_video_decoder_is_stubbed(spark, docs):
    media = multimodal.attach_media(docs, F.encode(F.col("text"), "utf-8"), "video", "raw")
    with pytest.raises(NotImplementedError):
        multimodal.extract_features(media, "media", "doc_id", decoder="mp4")
    with pytest.raises(NotImplementedError):
        multimodal.sample_frames(media, "media", "doc_id", decoder="h264")


def test_wav_codec_roundtrip_and_features():
    samples = multimodal.render_test_audio(7, 480)
    raw = multimodal.encode_wav(48000, samples)
    sr, back = multimodal.decode_audio(raw)
    assert (sr, back) == (48000, samples)
    with pytest.raises(ValueError, match="RIFF"):
        multimodal.decode_audio(b"not audio")


def test_image_codec_roundtrips():
    """encode→decode is the identity for all three real containers;
    the PNG leg covers every scanline filter (height > 5 rows, filter
    = y % 5)."""
    rgb = multimodal.render_test_image(99, 16, 12)
    for enc, name in [
        (multimodal.encode_png, "png"),
        (multimodal.encode_bmp, "bmp"),
        (multimodal.encode_ppm, "ppm"),
    ]:
        fmt, w, h, out = multimodal.decode_image(enc(16, 12, rgb))
        assert (fmt, w, h) == (name, 16, 12)
        assert out == rgb
    with pytest.raises(ValueError, match="unrecognized"):
        multimodal.decode_image(b"not an image at all")


def test_extract_features_real_decode_is_container_invariant(spark):
    """The SAME pixels through different containers → the SAME feature
    (the real decoder strips framing/compression); the fake
    container-byte path must differ between those containers."""
    import pandas as pd  # noqa: F401

    rgb = multimodal.render_test_image(7, 16, 12)
    rows = [
        (1, multimodal.encode_png(16, 12, rgb)),
        (2, multimodal.encode_bmp(16, 12, rgb)),
        (3, multimodal.encode_ppm(16, 12, rgb)),
    ]
    df = spark.createDataFrame(rows, "doc_id long, media binary")
    real = multimodal.extract_features(df, "media", "doc_id", decoder="image")
    feats = {r["doc_id"]: tuple(r["feature"]) for r in real.collect()}
    assert feats[1] == feats[2] == feats[3]
    fake = multimodal.extract_features(df, "media", "doc_id", decoder="fake")
    ffeats = {r["doc_id"]: tuple(r["feature"]) for r in fake.collect()}
    assert len(set(ffeats.values())) > 1


def test_resize_images_real_decode_nearest_neighbor(spark):
    rgb = multimodal.render_test_image(5, 16, 12)
    df = spark.createDataFrame(
        [(1, multimodal.encode_png(16, 12, rgb))], "doc_id long, media binary"
    )
    out = multimodal.resize_images(
        df, "media", "doc_id", width=8, height=6, decoder="image"
    ).first()
    assert out["media_meta"]["format"] == "rgb24"
    assert out["media_meta"]["n_bytes"] == 8 * 6 * 3
    expected = bytearray()
    for ty in range(6):
        sy = ty * 12 // 6
        for tx in range(8):
            sx = tx * 16 // 8
            s = (sy * 16 + sx) * 3
            expected += rgb[s : s + 3]
    assert bytes(out["media"]) == bytes(expected)


def test_winnow_shared_substring_guarantee(spark):
    """Winnowing guarantee: any shared substring of length >= k+w-1
    (= 11 here) produces at least one shared fingerprint."""
    from end_end_data_pipeline__spark.operators import text as text_ops

    shared = "identical-shared-run-of-text"
    df = spark.createDataFrame(
        [(1, f"left padding {shared} tail one"),
         (2, f"other start {shared} different end"),
         (3, "nothing in common here at all")],
        "doc_id long, text string",
    )
    fps = text_ops.winnow_fingerprints(df, "text", "doc_id", k=8, w=4)
    sets = {r["doc"]: set(r["fp"]) for r in fps.collect()}
    assert sets[1] & sets[2], "shared substring must share a fingerprint"
    assert not (sets[1] & sets[3] and sets[2] & sets[3])
    # density: winnowing keeps far fewer than all grams
    n_chars = len(f"left padding {shared} tail one")
    assert len(sets[1]) < n_chars - 7


def test_pii_redaction(spark):
    """The scrub replaces every PII class with its placeholder, counts
    agree with the replacements, and clean text passes untouched."""
    from end_end_data_pipeline__spark.operators import text as text_ops

    df = spark.createDataFrame(
        [
            (1, "mail a.b@c.org and x_1@y.co.uk now"),
            (2, "server at 10.0.255.3 port open"),
            (3, "card 4111111111111111 exp 12/26"),
            (4, "call +44 20 7946 0958 today"),
            (5, "perfectly clean text with no identifiers"),
        ],
        "doc_id long, text string",
    )
    counts = text_ops.pii_counts("text")
    out = {
        r["doc_id"]: r
        for r in df.select(
            "doc_id",
            *[counts[n].alias(n) for n, _, _ in text_ops.PII_PATTERNS],
            text_ops.redact_pii("text").alias("red"),
        ).collect()
    }
    assert out[1]["email"] == 2 and "[EMAIL]" in out[1]["red"] and "@" not in out[1]["red"]
    assert out[2]["ip"] == 1 and "[IP]" in out[2]["red"]
    assert out[3]["card"] == 1 and "4111" not in out[3]["red"]
    assert out[4]["phone"] == 1 and "[PHONE]" in out[4]["red"]
    assert out[5]["red"] == "perfectly clean text with no identifiers"
    assert all(out[5][n] == 0 for n, _, _ in text_ops.PII_PATTERNS)


def test_quantize_int8_bounds_and_roundtrip(spark, emb):
    """Every quantized component is in [-127, 127], the reconstruction
    error respects the 0.5/scale bound, and dequantized cosine stays
    close to the float cosine (the property ANN actually relies on)."""
    from end_end_data_pipeline__spark.operators import similarity as sim

    qz = sim.quantize_int8(emb)
    row = qz.filter(F.col("id") == 0).first()
    assert all(-127 <= v <= 127 for v in row["q"])
    assert qz.filter(
        F.col("max_abs_err") > 0.5 / F.col("scale") + 1e-12
    ).count() == 0
    # dequantized self-cosine with the original vector ≈ 1
    orig = emb.filter(F.col("vec_id") == 0).first()["embedding"]
    deq = [v / row["scale"] for v in row["q"]]
    import math

    dot = sum(a * b for a, b in zip(orig, deq))
    cos = dot / (
        math.sqrt(sum(a * a for a in orig)) * math.sqrt(sum(b * b for b in deq))
    )
    assert cos > 0.999, cos


def test_ivf_recall_floor_and_exactness(spark, emb):
    """IVF on the unclustered fixture: recall ~ n_probe/n_centroids;
    every returned score must equal the brute-force cosine."""
    from end_end_data_pipeline__spark.operators import similarity as sim

    probes = emb.filter(F.col("vec_id") < 5)
    truth = sim.brute_force_topk(emb, probes, k=10).collect()
    approx = sim.ivf_topk(emb, probes, k=10, n_centroids=16, n_probe=8).collect()
    t = {(r["probe_id"], r["neighbor_id"]): r["cos"] for r in truth}
    a = {(r["probe_id"], r["neighbor_id"]): r["cos"] for r in approx}
    recall = len(set(t) & set(a)) / len(t)
    assert recall >= 0.3, f"recall@10 {recall:.2f}"
    for pair in set(t) & set(a):
        assert t[pair] == a[pair]  # exact re-scoring of candidates


def test_multimodal_resize_shapes(spark, docs):
    media = multimodal.attach_media(
        docs, F.encode(F.col("text"), "utf-8"), "image", "raw"
    )
    out = multimodal.resize_images(media, "media", "doc_id", width=8, height=4)
    rows = out.collect()
    assert len(rows) == docs.count()
    for r in rows[:20]:
        assert len(bytes(r["media"])) == 32
        assert (r["media_meta"]["width"], r["media_meta"]["height"]) == (8, 4)
    # 'image' is REAL now; a non-image decoder stays stubbed
    with pytest.raises(NotImplementedError):
        multimodal.resize_images(media, decoder="tiff")


def test_multimodal_frame_sample_fanout(spark, docs):
    small = docs.limit(25)
    media = multimodal.attach_media(
        small, F.encode(F.col("text"), "utf-8"), "video", "raw"
    )
    frames = multimodal.sample_frames(media, "media", "doc_id", n_frames=4)
    rows = frames.collect()
    assert len(rows) == 25 * 4
    per_doc = {}
    for r in rows:
        per_doc.setdefault(r["doc_id"], []).append(r["frame_idx"])
    assert all(sorted(v) == [0, 1, 2, 3] for v in per_doc.values())
    # decoder='video' is REAL now (Y4M); compressed codecs stay stubbed
    with pytest.raises(NotImplementedError):
        multimodal.sample_frames(media, decoder="h264")


def test_approx_count_distinct_error_bound(spark):
    from end_end_data_pipeline__spark.plans.catalog import load_all

    out = load_all()["approx_distinct_users_daily"].fn(spark, SF_SMOKE)
    rows = out.collect()
    assert rows and all(r["approx_within_3rsd"] for r in rows)
    assert all(r["exact_users"] > 0 for r in rows)


def test_contamination_flags_detects_injected_overlap(spark):
    """A corpus doc embedding a verbatim benchmark passage is flagged;
    clean docs are not; short docs (< k tokens) count as clean."""
    from end_end_data_pipeline__spark.operators import text as text_ops

    bench = spark.createDataFrame(
        [(1, "the quick brown fox jumps over the lazy dog tonight")],
        "doc_id long, text string",
    )
    corpus = spark.createDataFrame(
        [(10, "prefix words the quick brown fox jumps over and more"),
         (11, "completely unrelated content with different words here"),
         (12, "tiny doc")],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: (r["n_shared_grams"], r["contaminated"])
           for r in text_ops.contamination_flags(
               corpus, bench, k=5).collect()}
    assert out[10][1] is True and out[10][0] >= 1
    assert out[11] == (0, False)
    assert out[12] == (0, False)


def test_semantic_dedup_drops_planted_near_dups(spark, emb):
    """SemDeDup recovers the planted perturbations: every salted copy
    (cos ~0.999 to its original) is dropped, every original is kept,
    the keep-lowest-id rule holds, and at tau above the planted
    similarity nothing is dropped."""
    base = emb.select("vec_id", similarity.as_double("embedding").alias("e"))
    salted = base.filter(F.col("vec_id") % 50 == 0).select(
        (F.col("vec_id") + 100000).alias("vec_id"),
        F.transform(
            F.col("e"), lambda x, i: F.when(i == 0, x + 0.05).otherwise(x)
        ).alias("e"),
    )
    corpus = base.unionByName(salted)
    n_orig = base.count()
    n_salt = salted.count()
    kept = similarity.semantic_dedup(
        corpus, vec_col="e", id_col="vec_id", n_centroids=16, tau=0.99
    ).collect()
    kept_ids = {r["vec_id"] for r in kept}
    assert len(kept) == n_orig  # exactly the salted copies are gone
    assert all(v < 100000 for v in kept_ids)
    # cluster ids come from the assignment (every kept row carries one)
    assert all(r["cid"] is not None for r in kept)
    # tau above the planted cosine -> nothing qualifies as a dup
    all_kept = similarity.semantic_dedup(
        corpus, vec_col="e", id_col="vec_id", n_centroids=16, tau=1.0 - 1e-12
    )
    assert all_kept.count() == n_orig + n_salt


def test_y4m_codec_roundtrip_and_real_frame_sampling(spark):
    """Y4M encode→decode is lossless; the REAL video path in
    sample_frames emits uniformly-spaced DECODED frames with source
    indices; malformed payloads raise instead of returning garbage."""
    frames = [multimodal.render_test_frame(5, i) for i in range(6)]
    raw = multimodal.encode_y4m(8, 6, frames)
    w, h, back = multimodal.decode_y4m(raw)
    assert (w, h) == (8, 6) and back == frames
    with pytest.raises(ValueError, match="YUV4MPEG2"):
        multimodal.decode_y4m(b"RIFF garbage")
    with pytest.raises(ValueError, match="C444"):
        multimodal.decode_y4m(b"YUV4MPEG2 W8 H6 C420jpeg\n")
    with pytest.raises(ValueError, match="truncated"):
        multimodal.decode_y4m(raw[:-10])

    df = spark.createDataFrame([(5, bytearray(raw))], "doc_id long, media binary")
    out = multimodal.sample_frames(df, "media", "doc_id", n_frames=3,
                                   decoder="video").collect()
    assert [r["frame_idx"] for r in out] == [0, 2, 4]
    assert all(bytes(r["frame"]) == frames[r["frame_idx"]] for r in out)
    # real video features: same content, container framing stripped
    feats = multimodal.extract_features(df, "media", "doc_id",
                                        decoder="video").collect()
    assert len(feats) == 1 and abs(sum(feats[0]["feature"]) - 1.0) < 1e-6


def test_kmeans_fixed_point_determinism_and_seeds(spark):
    """Init vectors must assign to themselves on the first round, the
    fixed-point path must be run-to-run identical, and separated
    clusters must be recovered exactly."""
    from end_end_data_pipeline__spark.operators.similarity import (
        kmeans_fixed_point,
    )

    # two tight, well-separated groups in 4-d
    rows = [(i, [float(i % 7) * 0.01 + 0.9, 0.9, -0.9, 0.0]) for i in range(6)]
    rows += [(i, [-0.9, -0.9, 0.9, float(i % 5) * 0.01]) for i in range(6, 12)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")

    a1 = kmeans_fixed_point(emb, k=2, iterations=1)
    got1 = {r["vec_id"]: r["centroid_id"] for r in a1.collect()}
    assert got1[0] == 0 and got1[1] == 1  # seeds assign to themselves

    a2 = kmeans_fixed_point(emb, k=2, iterations=3)
    got2 = {r["vec_id"]: r["centroid_id"] for r in a2.collect()}
    # group A all together, group B all together, different clusters
    assert len({got2[i] for i in range(6)}) == 1
    assert len({got2[i] for i in range(6, 12)}) == 1
    assert got2[0] != got2[6]
    # run-to-run bit-identical
    rerun = {
        r["vec_id"]: r["centroid_id"]
        for r in kmeans_fixed_point(emb, k=2, iterations=3).collect()
    }
    assert rerun == got2


def test_grid_radius_pairs_matches_brute_force(spark):
    """Grid-bucketed radius join must equal the brute-force answer and
    produce every pair exactly once (no distinct in the plan)."""
    import itertools

    from end_end_data_pipeline__spark.operators.spatial import (
        grid_radius_pairs,
        radius_neighbor_stats,
    )

    pts = [(i, (i * 37) % 100, (i * 61) % 100) for i in range(60)]
    df = spark.createDataFrame(pts, "id long, x long, y long")
    got = sorted(
        (r["a_id"], r["b_id"], r["dist2"])
        for r in grid_radius_pairs(df, radius=15).collect()
    )
    want = sorted(
        (a[0], b[0], (a[1] - b[1]) ** 2 + (a[2] - b[2]) ** 2)
        for a, b in itertools.combinations(pts, 2)
        if (a[1] - b[1]) ** 2 + (a[2] - b[2]) ** 2 <= 225
    )
    assert got == want and len(got) == len(set(got))
    stats = radius_neighbor_stats(grid_radius_pairs(df, radius=15))
    deg = {r["id"]: r["n_neighbors"] for r in stats.collect()}
    brute_deg = {}
    for a, b, _ in want:
        brute_deg[a] = brute_deg.get(a, 0) + 1
        brute_deg[b] = brute_deg.get(b, 0) + 1
    assert deg == brute_deg
    with pytest.raises(ValueError, match="radius"):
        grid_radius_pairs(df, radius=0)


def test_bpe_learn_merges_semantics(spark):
    """Frequency BPE on a controlled corpus: argmax pair with
    lexicographic tie-break, vocabulary rewrite between rounds, and
    non-overlapping left-to-right merge application."""
    from end_end_data_pipeline__spark.operators.text import learn_bpe_merges

    # "aaab" x3, "ab" x2  ->  round 1 pairs: (a,a): 2 per aaab x3 = 6
    # (overlapping occurrences both count), (a,b): 3 + 2 = 5
    docs = spark.createDataFrame(
        [(1, "aaab aaab aaab ab ab")], "doc_id long, text string"
    )
    got = [
        (r["merge_rank"], r["left_sym"], r["right_sym"], r["pair_count"])
        for r in learn_bpe_merges(docs, n_merges=2).orderBy("merge_rank").collect()
    ]
    assert got[0] == (1, "a", "a", 6)
    # after merging 'a a' -> 'aa': "aaab" becomes "aa a b" (left-to-right
    # non-overlapping), so round 2 pairs: (aa,a):3, (a,b):3+2=5 -> (a,b) wins
    assert got[1] == (2, "a", "b", 5)


def test_incremental_minhash_reuses_corpus_signatures(spark):
    """The incremental path with PRECOMPUTED corpus signatures must
    equal the from-scratch run, and find a planted near-dup of a
    corpus doc arriving in the batch."""
    corpus_rows = [
        (i, f"alpha beta gamma delta epsilon zeta eta theta doc{i} x y z")
        for i in range(10)
    ]
    # batch doc 100 = near-copy of corpus doc 3; 101 = novel
    batch_rows = [
        (100, "alpha beta gamma delta epsilon zeta eta theta doc3 x y w"),
        (101, "totally different words with no overlap at all here now"),
    ]
    corpus = spark.createDataFrame(corpus_rows, "doc_id long, text string")
    batch = spark.createDataFrame(batch_rows, "doc_id long, text string")
    fresh = {
        (r["doc_new"], r["doc_old"])
        for r in dedup.minhash_lsh_pairs_incremental(
            corpus, batch, "text", "doc_id", verify_threshold=0.5
        ).collect()
    }
    assert (100, 3) in fresh
    assert all(new != 101 for new, _ in fresh)
    sig = dedup.minhash_signatures(corpus, "text", "doc_id")
    cached = {
        (r["doc_new"], r["doc_old"])
        for r in dedup.minhash_lsh_pairs_incremental(
            corpus, batch, "text", "doc_id",
            verify_threshold=0.5, corpus_sig=sig,
        ).collect()
    }
    assert cached == fresh
    # r13: precomputed shingle-set halves of ONE source table (the
    # single-scan shape dedup_incremental_batch uses) must also equal
    # the from-scratch run
    both = corpus.unionByName(batch)
    ds_all = dedup.doc_shingle_sets(both, "text", "doc_id").localCheckpoint(
        eager=False
    )
    shared = {
        (r["doc_new"], r["doc_old"])
        for r in dedup.minhash_lsh_pairs_incremental(
            corpus, batch, "text", "doc_id", verify_threshold=0.5,
            corpus_shingles=ds_all.filter("doc < 100"),
            batch_shingles=ds_all.filter("doc >= 100"),
        ).collect()
    }
    assert shared == fresh


def test_augment_images_pixel_exact(spark):
    """Flip+crop must move EXACT pixels: augmenting a known pattern and
    decoding the output reproduces the expected source pixels."""
    import pandas as pd

    src = multimodal.render_test_image(42, 16, 12)
    payload = multimodal.encode_png(16, 12, src)
    df = spark.createDataFrame([(42, bytearray(payload))], "doc_id long, media binary")
    out = multimodal.augment_images(df, crop=(8, 6), flip=True, out_format="ppm")
    raw = bytes(out.collect()[0]["media"])
    fmt, w, h, rgb = multimodal.decode_image(raw)
    assert (fmt, w, h) == ("ppm", 8, 6)
    for y in range(6):
        for x in range(8):
            sx, sy = 11 - x, 3 + y  # flip of center crop
            j_out = (y * 8 + x) * 3
            j_src = (sy * 16 + sx) * 3
            assert rgb[j_out:j_out + 3] == src[j_src:j_src + 3], (x, y)
    import pytest as _p

    with _p.raises(Exception, match="crop"):
        multimodal.augment_images(df, crop=(99, 6)).collect()


def test_kmeans_rejects_duplicate_or_missing_seed_ids(spark):
    from end_end_data_pipeline__spark.operators.similarity import (
        kmeans_fixed_point,
    )

    # ids {0, 0, 2}: two rows pass the id < 2 filter but seed 1 is
    # missing — must refuse, not cluster degenerately
    emb = spark.createDataFrame(
        [(0, [0.1, 0.2]), (0, [0.3, 0.4]), (2, [0.5, 0.6])],
        "vec_id long, embedding array<float>",
    )
    with pytest.raises(ValueError, match="no duplicates"):
        kmeans_fixed_point(emb, k=2, iterations=1)


def test_bpe_token_stats_semantics(spark):
    """Tokenizer application on the controlled corpus: counts follow
    the learned merges under the documented rewrite variant."""
    from end_end_data_pipeline__spark.operators.text import bpe_token_stats

    # same corpus as the learn test: merges are (a,a)->aa then (a,b)->ab.
    # "aaab": round 1 ' a a a b ' -> ' aa a b ', round 2's ' a b '
    # pattern merges the tail -> ' aa ab ' = 2 symbols; "ab" -> 1.
    docs = spark.createDataFrame(
        [(1, "aaab aaab aaab ab ab"), (2, "ab aaab")],
        "doc_id long, text string",
    )
    rows = {r["doc_id"]: r for r in bpe_token_stats(docs, n_merges=2).collect()}
    # doc 1: 3 x aaab (2 syms each) + 2 x ab (1 sym) = 8 tokens, 5 words
    assert rows[1]["n_words"] == 5
    assert rows[1]["n_bpe_tokens"] == 3 * 2 + 2 * 1
    # chars: 3*4 + 2*2 = 16 over 8 tokens
    assert rows[1]["chars_per_token"] == 16 / 8
    # doc 2: ab (1) + aaab (2) = 3 tokens, 2 words
    assert rows[2]["n_words"] == 2
    assert rows[2]["n_bpe_tokens"] == 3


def test_bpe_token_stats_degenerate_corpus_raises(spark):
    """A corpus with fewer learnable merges than requested must raise
    (the oracle is only defined on fully-learnable corpora; a silent
    partial tokenizer would mislabel the counts)."""
    from end_end_data_pipeline__spark.operators.text import bpe_token_stats

    docs = spark.createDataFrame(
        [(1, "a b c a b")], "doc_id long, text string"
    )
    with pytest.raises(ValueError, match="merges"):
        bpe_token_stats(docs, n_merges=3)


def test_cms_merge_equals_whole_and_overestimates(spark):
    """CMS mergeability (cell-wise sum of per-half sketches == sketch
    of the whole) and the one-sided error guarantee (estimate >= exact
    for every present key)."""
    from end_end_data_pipeline__spark.operators import sketches

    events = lake.load_table(spark, "events", SF_SMOKE)
    whole = sketches.cms_build(events, "user_id", depth=4, width=64)
    lo = sketches.cms_build(
        events.filter(F.col("event_id") % 2 == 0), "user_id", depth=4, width=64
    )
    hi = sketches.cms_build(
        events.filter(F.col("event_id") % 2 == 1), "user_id", depth=4, width=64
    )
    merged = sketches.cms_merge(lo, hi)
    want = {(r["j"], r["cell"]): r["cnt"] for r in whole.collect()}
    got = {(r["j"], r["cell"]): r["cnt"] for r in merged.collect()}
    assert got == want

    exact = events.groupBy("user_id").agg(F.count(F.lit(1)).alias("n"))
    est = sketches.cms_estimate(whole, exact.select("user_id"), "user_id", 4, 64)
    joined = exact.join(est, "user_id").collect()
    assert joined and all(r["cms_est"] >= r["n"] for r in joined)


def test_skyline_2d_matches_brute_force(spark):
    """The two-phase skyline must equal the quadratic dominance
    definition, for every minimize/maximize combination, with
    duplicates and co-linear points in the input."""
    from end_end_data_pipeline__spark.operators.relational import skyline_2d

    pts = [(1, 1.0), (1, 1.0), (2, 3.0), (3, 2.0), (3, 2.0), (2, 2.0),
           (5, 0.5), (0, 9.0), (4, 2.0), (2, 7.0), (5, 0.5), (3, 9.0)]
    df = spark.createDataFrame(
        spark.sparkContext.parallelize(pts, 4), "x int, y double"
    )
    uniq = sorted(set(pts))

    def dominates(p, q, mx, my):
        bx = (lambda a, b: a <= b) if mx else (lambda a, b: a >= b)
        by = (lambda a, b: a <= b) if my else (lambda a, b: a >= b)
        return bx(p[0], q[0]) and by(p[1], q[1]) and p != q

    for mx in (False, True):
        for my in (False, True):
            want = {
                p for p in uniq
                if not any(dominates(q, p, mx, my) for q in uniq)
            }
            got = {
                (r["x"], r["y"])
                for r in skyline_2d(df, "x", "y", mx, my).collect()
            }
            assert got == want, (mx, my, got, want)


def test_pq_adc_matches_python_recomputation(spark):
    """The ADC scan's literal-table lookups must equal a direct Python
    recomputation of sum-of-subspace distances from the returned
    codebooks and codes — and the codes must be valid centroid ids."""
    import math

    from end_end_data_pipeline__spark.operators.similarity import (
        pq_adc_topk,
        pq_encode,
    )

    emb = lake.load_table(spark, "embeddings", SF_SMOKE)
    m, k, dim, scale = 4, 4, 64, 1_000_000
    codes, books = pq_encode(emb, m=m, k=k, dim=dim, iterations=2)
    code_rows = {r["vec_id"]: [r[f"code_{s}"] for s in range(m)]
                 for r in codes.collect()}
    assert all(0 <= c < k for cs in code_rows.values() for c in cs)

    query = [float(x) for x in emb.filter(F.col("vec_id") == 0).first()["embedding"]]
    w = dim // m
    qq = [int(math.floor(x * scale)) for x in query]
    tab = {
        (s, cid): sum(
            (a - b) * (a - b)
            for a, b in zip(qq[s * w:(s + 1) * w], cvec)
        )
        for s, cent in books.items()
        for cid, cvec in cent
    }
    want = {
        vid: sum(tab[(s, cs[s])] for s in range(m))
        for vid, cs in code_rows.items()
    }
    expected_top = sorted(want.items(), key=lambda kv: (kv[1], kv[0]))[:10]
    got = [(r["vec_id"], r["adc_dist"])
           for r in pq_adc_topk(codes, books, query, k_top=10).collect()]
    assert got == expected_top


def test_bloom_no_false_negatives_and_merge(spark):
    """Bloom guarantee: every built key probes as a member (no false
    negatives), absent keys mostly don't, and the union of two half
    filters equals the filter of the whole."""
    from end_end_data_pipeline__spark.operators import sketches

    orders = lake.load_table(spark, "orders", SF_SMOKE)
    build = orders.select(F.col("o_custkey").alias("k"))
    bloom = sketches.bloom_build(build, "k", n_bits=2048, n_hashes=3)

    members = sketches.bloom_probe(
        bloom, build.distinct(), "k", n_bits=2048, n_hashes=3
    ).collect()
    assert members and all(r["bloom_member"] for r in members)

    lo = sketches.bloom_build(
        build.filter(F.col("k") % 2 == 0), "k", n_bits=2048, n_hashes=3
    )
    hi = sketches.bloom_build(
        build.filter(F.col("k") % 2 == 1), "k", n_bits=2048, n_hashes=3
    )
    merged = sketches.bloom_merge(lo, hi)
    assert {r["pos"] for r in merged.collect()} == {
        r["pos"] for r in bloom.collect()
    }

    # keys far outside the build domain: FPR must be well under 50%
    absent = spark.range(10**9, 10**9 + 200).select(F.col("id").alias("k"))
    fp = (
        sketches.bloom_probe(bloom, absent, "k", n_bits=2048, n_hashes=3)
        .filter("bloom_member")
        .count()
    )
    assert fp < 100


def test_bigram_lm_scores_tiny_corpus_exact(spark):
    """Hand-checked fixed-point LM arithmetic: corpus 'a b' x2 + 'a c'
    gives P(b|a)=2/3, P(c|a)=1/3 — doc scores are the exact scaled
    integers, no float drift."""
    from end_end_data_pipeline__spark.operators.text import bigram_lm_scores

    docs = spark.createDataFrame(
        [(1, "a b"), (2, "a b"), (3, "a c")], "doc_id long, text string"
    )
    rows = {
        r["doc_id"]: r
        for r in bigram_lm_scores(docs, scale=10**6).collect()
    }
    assert rows[1]["lm_sum_scaled"] == 666666
    assert rows[1]["avg_cond_prob_scaled"] == 666666
    assert rows[3]["lm_sum_scaled"] == 333333
    assert rows[1]["n_bigrams"] == 1 and rows[3]["n_bigrams"] == 1


def test_bigram_lm_single_token_docs_dropped(spark):
    """Docs with <2 tokens have no bigrams and must be absent from the
    scored frame (not scored 0 — undefined, mirrors the oracle)."""
    from end_end_data_pipeline__spark.operators.text import bigram_lm_scores

    docs = spark.createDataFrame(
        [(1, "solo"), (2, "two tokens here")], "doc_id long, text string"
    )
    got = {r["doc_id"] for r in bigram_lm_scores(docs).collect()}
    assert got == {2}


def test_phash_neardup_finds_planted_pairs(spark):
    """Every planted near-dup pair (doc 3k vs 3k+1: same pattern, one
    bumped pixel, different real codecs) must surface with Hamming <= 2,
    and no pair may straddle content groups UNLESS its hashes genuinely
    collide (hamming is always <= 3 by the filter)."""
    from end_end_data_pipeline__spark.plans import queries_llm

    got = queries_llm.multimodal_phash_neardup(spark, SF_SMOKE).collect()
    pairs = {(r["doc_a"], r["doc_b"]): r["hamming"] for r in got}

    n_docs = lake.load_table(spark, "documents", SF_SMOKE).count()
    planted = [(3 * k, 3 * k + 1) for k in range((n_docs - 1) // 3 + 1)
               if 3 * k + 1 < n_docs]
    for p in planted:
        assert p in pairs, f"planted near-dup {p} missed"
        assert pairs[p] <= 2
    assert all(h <= 3 for h in pairs.values())


def test_dhash_bands_rejects_wrong_geometry(spark):
    """The band packer is specified for 9x8 — a different geometry must
    refuse rather than emit a silently different hash."""
    import pandas as pd
    from end_end_data_pipeline__spark.operators import multimodal

    raw = multimodal.encode_ppm(4, 4, bytes(48))
    media = spark.createDataFrame(
        pd.DataFrame({"doc_id": [1], "media": [raw]})
    )
    with pytest.raises(Exception, match="9x8"):
        multimodal.dhash_bands(media, "media", "doc_id").collect()


def test_phash256_neardup_finds_planted_pairs(spark):
    """The 256-bit twin's pigeonhole contract: every planted pair
    surfaces (the one-pixel bump flips <= 2 of 256 difference bits, so
    >= 1 of the 4 bands still matches exactly), and at 256 bits the
    hamming <= 3 filter is tight enough that NO accidental cross-group
    pair survives on the smoke fixture (the 64-bit variant does admit
    a birthday term there — that looseness is exactly why the wide
    hash exists)."""
    from end_end_data_pipeline__spark.plans import queries_llm

    got = queries_llm.multimodal_phash256_neardup(spark, SF_SMOKE).collect()
    pairs = {(r["doc_a"], r["doc_b"]): r["hamming"] for r in got}

    n_docs = lake.load_table(spark, "documents", SF_SMOKE).count()
    planted = [(3 * k, 3 * k + 1) for k in range((n_docs - 1) // 3 + 1)
               if 3 * k + 1 < n_docs]
    for p in planted:
        assert p in pairs, f"planted near-dup {p} missed"
        assert pairs[p] <= 2
    assert set(pairs) == set(planted), (
        f"unexpected non-planted pairs: {set(pairs) - set(planted)}"
    )


def test_dhash256_bands_packing_and_geometry(spark):
    """The 4x64-bit packer: band layout is band = y DIV 4, bit = x +
    16*(y MOD 4); every band row carries all four words with ``val``
    equal to its own band's word; sign bit (position 63 = pixel x=15,
    y%4=3) round-trips through the signed long column.  Wrong geometry
    refuses."""
    import pandas as pd
    from end_end_data_pipeline__spark.operators import multimodal

    # image whose gradient sets ONLY the bit at (x=15, y=3): gray rises
    # at x=15->16 in row 3, monotonically non-increasing elsewhere
    rows = []
    for y in range(16):
        vals = [100] * 17
        if y == 3:
            vals[16] = 200  # gray(16,3) > gray(15,3) -> bit (15, 3)
        rows.append(vals)
    rgb = bytes(v for row in rows for v in row for _ in range(3))
    raw = multimodal.encode_ppm(17, 16, rgb)
    media = spark.createDataFrame(
        pd.DataFrame({"doc_id": [7], "media": [raw]})
    )
    out = multimodal.dhash256_bands(media, "media", "doc_id").collect()
    assert len(out) == 4
    by_band = {r["band"]: r for r in out}
    # bit (15, 3) -> band 0, position 15 + 16*3 = 63 -> sign bit
    assert by_band[0]["val"] == -(1 << 63)
    for b in range(1, 4):
        assert by_band[b]["val"] == 0
    for r in out:  # each row carries the full 256-bit hash
        assert (r["h0"], r["h1"], r["h2"], r["h3"]) == (-(1 << 63), 0, 0, 0)
        assert r["val"] == r[f"h{r['band']}"]

    bad = spark.createDataFrame(
        pd.DataFrame({"doc_id": [1], "media": [multimodal.encode_ppm(4, 4, bytes(48))]})
    )
    with pytest.raises(Exception, match="17x16"):
        multimodal.dhash256_bands(bad, "media", "doc_id").collect()


def test_hll_merge_and_both_estimate_branches(spark):
    """HLL registers must merge by per-register MAX (halves == whole),
    the small-range linear-counting branch must be accurate on the
    fixture cardinality, and the raw-HLL branch (many distinct keys)
    must land within the ~3x sigma of 1.04/sqrt(256)."""
    from end_end_data_pipeline__spark.operators import sketches

    events = lake.load_table(spark, "events", SF_SMOKE)
    whole = sketches.hll_build(events, "user_id")
    lo = sketches.hll_build(events.filter(F.col("event_id") % 2 == 0), "user_id")
    hi = sketches.hll_build(events.filter(F.col("event_id") % 2 == 1), "user_id")
    merged = sketches.hll_merge(lo, hi)
    assert {(r["idx"], r["m"]) for r in merged.collect()} == {
        (r["idx"], r["m"]) for r in whole.collect()
    }

    # linear-counting branch: fixture has few distinct users
    exact = events.select("user_id").distinct().count()
    est = sketches.hll_estimate(whole).collect()[0]
    assert est["n_zero_registers"] > 0
    assert abs(est["hll_estimate"] - exact) <= max(3, exact // 5)

    # raw branch: 50k distinct keys >> 2.5m
    big = spark.range(50_000).select(F.col("id").alias("k"))
    regs = sketches.hll_build(big, "k")
    est2 = sketches.hll_estimate(regs).collect()[0]
    assert abs(est2["hll_estimate"] - 50_000) < 50_000 * 0.2


def test_hll_rolling_equals_direct_seven_day_build(spark):
    """Register algebra over time: the rolling 7-day merge at the last
    fixture day must equal hll_build run directly on that day's
    trailing 7-day event slice — the property that makes daily sketch
    rows reusable for any window."""
    from end_end_data_pipeline__spark.operators import sketches

    events = lake.load_table(spark, "events", SF_SMOKE).filter(
        F.col("user_id").isNotNull()
    )
    ev = events.select(F.to_date("ts").alias("day"), "user_id")
    last = ev.agg(F.max("day")).collect()[0][0]

    direct = sketches.hll_build(
        ev.filter(
            (F.col("day") <= F.lit(last))
            & (F.col("day") >= F.date_sub(F.lit(last), 6))
        ),
        "user_id",
    )

    daily = sketches.hll_build(ev, "user_id", "day")
    rolled = (
        daily.filter(
            (F.col("day") <= F.lit(last))
            & (F.col("day") >= F.date_sub(F.lit(last), 6))
        )
        .groupBy("idx")
        .agg(F.max("m").alias("m"))
    )
    assert {(r["idx"], r["m"]) for r in rolled.collect()} == {
        (r["idx"], r["m"]) for r in direct.collect()
    }


def _lev(a: str, b: str) -> int:
    prev = list(range(len(b) + 1))
    for i, ca in enumerate(a, 1):
        cur = [i]
        for j, cb in enumerate(b, 1):
            cur.append(min(prev[j] + 1, cur[j - 1] + 1, prev[j - 1] + (ca != cb)))
        prev = cur
    return prev[len(b)]


_DELNBR_ROWS = [
    (1, "apple"), (2, "aple"), (3, "apples"), (4, "aXple"), (5, "banana"),
    (6, "ab"), (7, "ba"), (8, "abc"), (9, "acb"), (10, ""), (11, "a"),
    (12, "åpple"), (13, "grape"), (14, "grapé"), (15, "xyzzy"),
]


@pytest.mark.parametrize("k", [1, 2])
def test_deletion_neighborhood_matches_brute_force(spark, k):
    """Full recall AND exact precision vs an all-pairs python oracle,
    covering substitution, insertion, deletion, unicode, the empty
    string, and the ed-2 transposition false candidate ("ab"/"ba"
    collides in the variant join at k=1 but must be verified out)."""
    df = spark.createDataFrame(_DELNBR_ROWS, ["id", "s"])
    got = sorted(
        tuple(r)
        for r in dedup.deletion_neighborhood_pairs(
            df, "id", "s", max_dist=k
        ).collect()
    )
    want = sorted(
        (a_id, b_id, _lev(a, b))
        for i, (a_id, a) in enumerate(_DELNBR_ROWS)
        for b_id, b in _DELNBR_ROWS[i + 1 :]
        if _lev(a, b) <= k
    )
    assert got == want


def test_deletion_neighborhood_each_pair_once(spark):
    """Pairs sharing MANY variants (identical strings share all of
    them) still come out exactly once, canonically ordered."""
    df = spark.createDataFrame(
        [(3, "same"), (1, "same"), (2, "same")], ["id", "s"]
    )
    got = sorted(
        tuple(r)
        for r in dedup.deletion_neighborhood_pairs(df, "id", "s").collect()
    )
    assert got == [(1, 2, 0), (1, 3, 0), (2, 3, 0)]


def test_deletion_neighborhood_length_guard(spark):
    df = spark.createDataFrame([(1, "short"), (2, "much too long")], ["id", "s"])
    with pytest.raises(Exception, match="longer than"):
        dedup.deletion_neighborhood_pairs(df, "id", "s", max_len=8).collect()


def test_deletion_neighborhood_max_dist_validated(spark):
    df = spark.createDataFrame([(1, "a")], ["id", "s"])
    with pytest.raises(ValueError, match="max_dist 1 or 2"):
        dedup.deletion_neighborhood_pairs(df, "id", "s", max_dist=3)


def _afp_levels(c: int, v: int, quantum: int = 128) -> list[int]:
    samples = multimodal.render_fingerprint_audio(c, v)
    return [
        (sum(abs(x) for x in samples[p * 32 : (p + 1) * 32]) // 32) // quantum
        for p in range(len(samples) // 32)
    ]


def test_audio_energy_levels_roundtrip(spark):
    """encode_wav → decode_audio → frame levels equals the closed-form
    python replay, for base/planted/disjoint variants."""
    import pandas as pd

    rows = [(0, 5, 0), (1, 5, 1), (2, 1000008, 2)]

    def gen(it):
        for pdf in it:
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "media": [
                        multimodal.encode_wav(
                            48000,
                            multimodal.render_fingerprint_audio(
                                int(c), int(v)
                            ),
                        )
                        for c, v in zip(pdf["c"], pdf["v"])
                    ],
                }
            )

    df = spark.createDataFrame(rows, ["doc_id", "c", "v"]).coalesce(1)
    media = df.mapInPandas(gen, "doc_id long, media binary")
    lv = multimodal.audio_energy_levels(media, "media", "doc_id", quantum=128)
    got = {
        (r["doc_id"], r["pos"]): r["level"] for r in lv.collect()
    }
    for doc_id, c, v in rows:
        want = _afp_levels(c, v)
        assert [got[(doc_id, p)] for p in range(15)] == want


def test_audio_fingerprint_pigeonhole_and_separation():
    """The planted variant differs in exactly ONE frame (so ≥4 of the 5
    bands stay equal — the pigeonhole the banding join relies on),
    while a disjoint clip differs in far more than 4."""
    for c in (0, 7, 123):
        base, planted = _afp_levels(c, 0), _afp_levels(c, 1)
        diff = [p for p in range(15) if base[p] != planted[p]]
        assert diff and all(p // 3 == 7 // 3 for p in diff)  # only frame-7 band
        far = _afp_levels(c + 1000003, 2)
        assert sum(1 for p in range(15) if base[p] != far[p]) > 4


# ---------------------------------------------------------------------------
# round-6 retrieval wave: PMI / RRF / KMV brute-force cross-checks
# ---------------------------------------------------------------------------


def _doc_tokens():
    import duckdb

    from tests.conftest import SF_SMOKE

    pdf = duckdb.sql(
        "SELECT doc_id, source, string_split_regex(trim(text), '\\s+') AS t"
        f" FROM '{SF_SMOKE}/documents.parquet'"
    ).df()
    return [(int(r.doc_id), r.source, list(r.t)) for r in pdf.itertuples()]


def test_pmi_collocations_vs_python(spark):
    """Top-30 PMI list must match an exact-int Python replay of the
    rational-lift ranking."""
    from collections import Counter

    from end_end_data_pipeline__spark.plans.catalog import load_all
    from tests.conftest import SF_SMOKE

    got = [
        (r["bg"], r["c_xy"], r["c_left"], r["c_right"], r["pmi_scaled"])
        for r in load_all()["text_pmi_collocations"].fn(spark, SF_SMOKE).collect()
    ]
    big: Counter = Counter()
    for _, _, toks in _doc_tokens():
        for a, b in zip(toks, toks[1:]):
            big[f"{a} {b}"] += 1
    w = sum(big.values())
    left: Counter = Counter()
    right: Counter = Counter()
    for bg, c in big.items():
        w1, w2 = bg.split(" ")
        left[w1] += c
        right[w2] += c
    scored = [
        (bg, c, left[bg.split(" ")[0]], right[bg.split(" ")[1]],
         c * w * 1_000_000 // (left[bg.split(" ")[0]] * right[bg.split(" ")[1]]))
        for bg, c in big.items()
        if c >= 5
    ]
    want = sorted(scored, key=lambda x: (-x[4], x[0]))[:30]
    assert got == want


def test_rrf_vs_python(spark):
    """RRF fusion must match a Python replay of both rankers."""
    from end_end_data_pipeline__spark.plans.catalog import load_all
    from tests.conftest import SF_SMOKE

    got = [
        (r["doc_id"], r["rank_a"], r["rank_b"], r["rrf_score"])
        for r in load_all()["search_reciprocal_rank_fusion"]
        .fn(spark, SF_SMOKE)
        .collect()
    ]
    docs = _doc_tokens()

    def rank(term):
        hits = [(sum(1 for t in toks if t == term), did) for did, _, toks in docs]
        hits = [(tf, did) for tf, did in hits if tf > 0]
        hits.sort(key=lambda x: (-x[0], x[1]))
        return {did: i + 1 for i, (tf, did) in enumerate(hits[:100])}

    ra, rb = rank("spark"), rank("table")
    fused = {}
    for did in set(ra) | set(rb):
        s = 0
        if did in ra:
            s += 1_000_000_000 // (60 + ra[did])
        if did in rb:
            s += 1_000_000_000 // (60 + rb[did])
        fused[did] = (ra.get(did), rb.get(did), s)
    want = sorted(
        ((did, a, b, s) for did, (a, b, s) in fused.items()),
        key=lambda x: (-x[3], x[0]),
    )[:20]
    assert got == want


def test_kmv_jaccard_vs_python_sketch(spark):
    """One pair's KMV merge must match a hashlib.md5 Python replay;
    all pairs obey the sketch invariants."""
    import hashlib

    from end_end_data_pipeline__spark.plans.catalog import load_all
    from tests.conftest import SF_SMOKE

    rows = load_all()["sketch_kmv_jaccard"].fn(spark, SF_SMOKE).collect()
    assert rows, "no source pairs"
    for r in rows:
        assert 0 < r["k_used"] <= 128
        assert 0 <= r["matches"] <= r["k_used"]
        assert r["jaccard_ppm"] == r["matches"] * 1_000_000 // r["k_used"]

    def u32(s):
        return int(hashlib.md5(s.encode()).hexdigest()[:8], 16)

    shingle_sets = {}
    for _, source, toks in _doc_tokens():
        ss = shingle_sets.setdefault(source, set())
        ss.update(
            " ".join(toks[i : i + 3]) for i in range(len(toks) - 2)
        )
    srcs = sorted(shingle_sets)
    a, b = srcs[0], srcs[1]
    bottom = lambda src: set(
        sorted(((u32(s), s) for s in shingle_sets[src]))[:128]
    )
    ka, kb = bottom(a), bottom(b)
    merged = sorted(ka | kb)[:128]
    matches = sum(1 for hs in merged if hs in ka and hs in kb)
    row = next(r for r in rows if r["src_a"] == a and r["src_b"] == b)
    assert row["k_used"] == len(merged)
    assert row["matches"] == matches
    if len(merged) == 128:
        assert row["est_union_distinct"] == 127 * 4294967296 // merged[-1][0]


def test_vocab_growth_curve_vs_python(spark):
    """The one-pass min-doc trick must equal ten literal prefix
    distinct-counts; the curve is nondecreasing and ends at the full
    vocabulary."""
    from end_end_data_pipeline__spark.plans.catalog import load_all
    from tests.conftest import SF_SMOKE

    rows = (
        load_all()["corpus_vocab_growth_curve"].fn(spark, SF_SMOKE).collect()
    )
    docs = _doc_tokens()
    n_docs = max(did for did, _, _ in docs) + 1

    def shingles(toks):
        return {" ".join(toks[i : i + 3]) for i in range(len(toks) - 2)}

    assert [r["decile"] for r in rows] == list(range(1, 11))
    for r in rows:
        cutoff = r["decile"] * n_docs // 10
        assert r["n_docs_prefix"] == cutoff
        vocab = set()
        for did, _, toks in docs:
            if did < cutoff:
                vocab |= shingles(toks)
        assert r["vocab_size"] == len(vocab), r["decile"]
    sizes = [r["vocab_size"] for r in rows]
    assert sizes == sorted(sizes)


def test_k_anonymity_audit_vs_python(spark):
    """Risk cells must match a dict-count replay, and every reported
    cell is genuinely below k."""
    import duckdb
    from collections import Counter

    from end_end_data_pipeline__spark.plans.catalog import load_all
    from tests.conftest import SF_SMOKE

    got = {
        (r["nation"], r["segment"], r["balance_band"]): r["cell_size"]
        for r in load_all()["privacy_k_anonymity_audit"]
        .fn(spark, SF_SMOKE)
        .collect()
    }
    pdf = duckdb.sql(
        "SELECT n.n_name AS nation, c.c_mktsegment AS segment,"
        " CAST(CAST(c.c_acctbal AS DECIMAL(13,2)) * 100 AS BIGINT) AS cents"
        f" FROM '{SF_SMOKE}/customer.parquet' c"
        f" JOIN '{SF_SMOKE}/nation.parquet' n ON c.c_nationkey = n.n_nationkey"
    ).df()

    def tdiv(a, b):
        q = abs(a) // b
        return q if a >= 0 else -q

    cells = Counter(
        (r.nation, r.segment, tdiv(int(r.cents), 100000))
        for r in pdf.itertuples()
    )
    want = {k: v for k, v in cells.items() if v < 5}
    assert got == want
    assert all(v < 5 for v in got.values())


def test_rake_keyphrases_vs_python(spark):
    """Top-25 RAKE phrases must match a pure-Python replay of the
    stopword-run segmentation and degree/frequency scoring."""
    from collections import Counter, defaultdict

    from end_end_data_pipeline__spark.operators.text import LANG_STOPWORDS
    from end_end_data_pipeline__spark.plans.catalog import load_all
    from tests.conftest import SF_SMOKE

    got = [
        (r["phrase"], r["n_occurrences"], r["rake_score"])
        for r in load_all()["text_rake_keyphrases"].fn(spark, SF_SMOKE).collect()
    ]
    sw = {w.lower() for w in LANG_STOPWORDS["en"]}
    phrase_occ = []
    for _, _, toks in _doc_tokens():
        run = []
        for w in toks + ["<STOP>"]:
            if w.lower() in sw or w == "<STOP>":
                if run and len(run) <= 3:
                    phrase_occ.append(tuple(run))
                run = []
            else:
                run.append(w)
    freq: Counter = Counter()
    degree: Counter = Counter()
    for ph in phrase_occ:
        for w in ph:
            freq[w] += 1
            degree[w] += len(ph)
    wscore = {w: degree[w] * 1_000_000 // freq[w] for w in freq}
    by_phrase = defaultdict(int)
    score = {}
    for ph in phrase_occ:
        key = " ".join(ph)
        by_phrase[key] += 1
        score[key] = sum(wscore[w] for w in ph)
    want = sorted(
        ((p, n, score[p]) for p, n in by_phrase.items()),
        key=lambda t: (-t[2], t[0]),
    )[:25]
    assert got == want


def test_shot_boundaries_find_planted_cuts(spark):
    """The detector must flag EXACTLY the planted scene cut per doc
    (frame doc_id % 5 + 2), never the drift-only transitions."""
    from collections import defaultdict

    from end_end_data_pipeline__spark.plans.catalog import load_all
    from tests.conftest import SF_SMOKE

    rows = (
        load_all()["multimodal_video_shot_boundaries"]
        .fn(spark, SF_SMOKE)
        .collect()
    )
    flagged = defaultdict(list)
    per_doc = defaultdict(int)
    for r in rows:
        per_doc[r["doc_id"]] += 1
        if r["is_boundary"]:
            flagged[r["doc_id"]].append(r["frame_idx"])
    assert per_doc and all(n == 7 for n in per_doc.values())
    for doc, cuts in flagged.items():
        assert cuts == [doc % 5 + 2], (doc, cuts)
    assert set(flagged) == set(per_doc)  # every clip has its one cut


def test_pq_adc_non_contiguous_codebook(spark):
    """r07 ADVICE regression: a Lloyd round that EMPTIES a cluster
    drops its cid from the codebook, leaving non-contiguous ids (e.g.
    {0, 2, 3}).  The cid-keyed LUT must still map every code to its
    own centroid's distance — a positional LUT would shift codes past
    the gap onto wrong slots (and the old element_at could read NULL,
    which sorted FIRST and corrupted the top-k)."""
    from end_end_data_pipeline__spark.operators.similarity import pq_adc_topk

    # hand-built frame of (id, code_0, code_1) over a gapped codebook
    codes = spark.createDataFrame(
        [(1, 0, 0), (2, 2, 3), (3, 3, 2), (4, 2, 0)],
        "vec_id long, code_0 int, code_1 int",
    )
    # subspace width 2; cid 1 "emptied" during training in BOTH books
    books = {
        0: [(0, [0, 0]), (2, [10, 0]), (3, [0, 10])],
        1: [(0, [5, 5]), (2, [0, 0]), (3, [20, 20])],
    }
    query = [0.0, 0.0, 0.0, 0.0]
    got = {
        r["vec_id"]: r["adc_dist"]
        for r in pq_adc_topk(codes, books, query, k_top=4).collect()
    }
    want = {
        1: (0 + 0) + (25 + 25),     # code (0,0)
        2: (100 + 0) + (400 + 400),  # code (2,3)
        3: (0 + 100) + (0 + 0),      # code (3,2)
        4: (100 + 0) + (25 + 25),    # code (2,0)
    }
    assert got == want


def test_bloom_probe_duplicate_keys(spark):
    """r07 ADVICE regression: duplicated probe keys must NOT break the
    no-false-negatives guarantee (a repeated member key used to count
    2×n_hashes hits against an n_hashes threshold → reported False).
    Output is one row per DISTINCT probe key."""
    from end_end_data_pipeline__spark.operators import sketches

    build = spark.createDataFrame([(7,), (8,), (9,)], "k long")
    bloom = sketches.bloom_build(build, "k", n_bits=512, n_hashes=4)
    probe = spark.createDataFrame(
        [(7,), (7,), (7,), (8,), (1000001,), (1000001,)], "k long"
    )
    rows = sketches.bloom_probe(
        bloom, probe, "k", n_bits=512, n_hashes=4
    ).collect()
    got = {r["k"]: r["bloom_member"] for r in rows}
    assert len(rows) == 3  # distinct keys only
    assert got[7] is True and got[8] is True


def test_bloom_probe_null_key_is_nonmember(spark):
    """r07 review regression: a NULL probe key must report
    bloom_member=false (bloom_build skips NULLs, so NULL is never a
    member) — hashing it would drop the null from the concat_ws salt
    and probe the bare salt strings, a bogus verdict that could read
    true and diverge from a NULL-propagating SQL replica."""
    from end_end_data_pipeline__spark.operators import sketches

    build = spark.createDataFrame([(7,), (8,), (9,)], "k long")
    # tiny dense filter: salt-only positions are very likely set, which
    # is exactly the configuration where the unguarded NULL hashed true
    bloom = sketches.bloom_build(build, "k", n_bits=8, n_hashes=4)
    probe = spark.createDataFrame([(7,), (None,), (None,)], "k long")
    rows = sketches.bloom_probe(
        bloom, probe, "k", n_bits=8, n_hashes=4
    ).collect()
    got = {r["k"]: r["bloom_member"] for r in rows}
    assert len(rows) == 2  # NULL de-duplicates like any key
    assert got[7] is True
    assert got[None] is False


def test_cms_estimate_null_probe_key(spark):
    """r07 review: a NULL probe key must estimate 0 (cms_build never
    counts NULLs) — hashing it probed the bare row-salt cells and
    returned a bogus nonzero estimate."""
    from end_end_data_pipeline__spark.operators import sketches

    build = spark.createDataFrame([(i % 5,) for i in range(50)], "k long")
    sk = sketches.cms_build(build, "k", depth=4, width=64)
    probe = spark.createDataFrame([(0,), (None,)], "k long")
    got = {
        r["k"]: r["cms_est"]
        for r in sketches.cms_estimate(sk, probe, "k", depth=4, width=64).collect()
    }
    assert got[0] >= 10  # CMS overestimates, never under
    assert got[None] == 0


def test_minhash_banded_validates_band_count(spark):
    """r07 review: bands must divide num_hashes with >=1 row per band —
    bands > num_hashes gave every doc an identical empty band key (an
    all-pairs join), non-divisible bands silently dropped hashes."""
    import pytest as _pytest

    from end_end_data_pipeline__spark.operators import dedup

    docs = spark.createDataFrame(
        [(1, "alpha beta gamma"), (2, "delta epsilon zeta")],
        "doc_id long, text string",
    )
    for bad_bands in (64, 5):
        with _pytest.raises(ValueError, match="must divide"):
            dedup.minhash_lsh_pairs(
                docs, "text", "doc_id", num_hashes=32, bands=bad_bands
            ).collect()


def test_deletion_pairs_null_text_dropped(spark):
    """r07 review: NULL text must be dropped like every other text
    operator — the max_len CASE guard's NULL condition used to fall
    through to raise_error with a misleading 'longer than' message."""
    from end_end_data_pipeline__spark.operators import dedup

    df = spark.createDataFrame(
        [(1, "kitten"), (2, "sitten"), (3, None)], "id long, name string"
    )
    got = {
        (r["a_id"], r["b_id"], r["dist"])
        for r in dedup.deletion_neighborhood_pairs(df, "id", "name").collect()
    }
    assert got == {(1, 2, 1)}


def test_multiprobe_bits_two_probes_hamming2_buckets(spark):
    """r07 review: multiprobe_bits=2 must actually probe hamming-2
    bucket variants (it used to behave exactly like 1).  A probe whose
    bucket differs from a corpus vector's in exactly 2 bits is only
    reachable at multiprobe_bits>=2, so its candidate set must be a
    strict superset of the 1-bit run on a fixed tiny corpus."""
    from end_end_data_pipeline__spark.operators.similarity import _probe_masks

    m1 = _probe_masks(4, 1)
    m2 = _probe_masks(4, 2)
    assert sorted(m1) == [1, 2, 4, 8]
    assert set(m1) < set(m2) and len(m2) == 4 + 6
    assert all(bin(m).count("1") <= 2 for m in m2)


def test_probe_masks_expression_count_cap():
    """r07 advice: mask count is sum C(planes, w) and each mask is a
    per-table PLAN expression — unbounded settings balloon Catalyst
    analysis/codegen.  Over 1,024 masks the helper refuses with the
    remediation in the message; at the cap boundary it still works."""
    import pytest

    from end_end_data_pipeline__spark.operators.similarity import _probe_masks

    assert len(_probe_masks(16, 2)) == 16 + 120  # comfortably inside
    with pytest.raises(ValueError, match="1024"):
        _probe_masks(16, 4)  # 16+120+560+1820 = 2516 masks


def test_multimodal_null_payload_dropped(spark):
    """r07 review: NULL media payloads are dropped JVM-side — bytes(None)
    used to kill the worker with a TypeError in image/audio stats,
    augment, energy levels, and dhash bands."""
    from end_end_data_pipeline__spark.operators import multimodal as mm

    img = mm.encode_ppm(2, 2, bytes(range(12)))
    df = spark.createDataFrame(
        [(1, bytearray(img)), (2, None)], "doc_id long, media binary"
    )
    assert mm.image_stats(df, "media", "doc_id").count() == 1
    assert mm.dhash_bands is not None  # shape-specific; covered by filter
