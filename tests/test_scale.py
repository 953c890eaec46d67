"""Unit tests for the scale extensions' primitives.

The oracle-parity suite checks Spark-vs-DuckDB end to end; these pin the
*algorithms* against pure-Python reimplementations so a change that
breaks both engines identically (and would slip past parity) still
fails.
"""

from __future__ import annotations

import hashlib

import pytest
from pyspark.sql import functions as F

from etl_validator_github_spark.scale import dedup, flac, multimodal, similarity
from etl_validator_github_spark.scale.text import LANG_MARKERS, lang_scores


def _docs(spark, rows):
    return spark.createDataFrame(
        [(i, t, "en") for i, t in enumerate(rows)],
        "doc_id: long, text: string, lang: string",
    )


def _py_minhash(text: str, i: int) -> int:
    toks = text.split(" ")
    shingles = [" ".join(toks[j:j + 3]) for j in range(len(toks) - 2)]
    a, b = dedup._minhash_ab(i)
    hs = [
        int(hashlib.md5(s.encode()).hexdigest()[:15], 16) % dedup.MINHASH_P
        for s in shingles
    ]
    return min((a * h + b) % dedup.MINHASH_P for h in hs)


def test_minhash_matches_pure_python(spark):
    text = "the quick brown fox jumps over the lazy dog again and again"
    df = dedup.minhash_signatures(_docs(spark, [text]))
    row = df.collect()[0]
    for i in range(dedup.N_MINHASH):
        assert row[f"sig_{i}"] == _py_minhash(text, i), f"sig_{i}"


def test_minhash_identical_docs_share_all_bands(spark):
    text = "alpha beta gamma delta epsilon zeta eta theta"
    pairs = dedup.minhash_candidate_pairs(
        _docs(spark, [text, text, "totally different words here now ok yes"])
    ).collect()
    assert len(pairs) == 1
    p = pairs[0]
    assert (p["d1"], p["d2"]) == (0, 1)
    assert p["n_shared_bands"] == dedup.N_BANDS


def test_minhash_skips_short_docs(spark):
    df = dedup.minhash_signatures(_docs(spark, ["one two", "a b c d e"]))
    assert [r["doc_id"] for r in df.collect()] == [1]


def test_minhash_mega_bucket_guard_drops_degenerate_buckets(spark):
    """The max_bucket_size guard: a 20-member boilerplate bucket is
    dropped before O(size²) pair expansion while a genuine 2-doc
    near-dup pair in the same corpus survives."""
    boiler = "terms of service apply to all users of this site always"
    pair = "alpha beta gamma delta epsilon zeta eta theta"
    docs = _docs(spark, [boiler] * 20 + [pair, pair])
    capped = dedup.minhash_candidate_pairs(docs, max_bucket_size=10).collect()
    assert {(p["d1"], p["d2"]) for p in capped} == {(20, 21)}
    # Guard disabled: the boilerplate bucket expands (190 pairs) + 1.
    uncapped = dedup.minhash_candidate_pairs(docs, max_bucket_size=None)
    assert uncapped.count() == 20 * 19 // 2 + 1


def test_band_stats_cand_pairs_match_capped_pair_join(spark):
    """n_cand_pairs reports what the CAPPED pair join actually emits
    (r11 advice: over-ceiling buckets used to inflate the column): the
    per-band sum equals the total shared-band count from
    minhash_candidate_pairs under the same cap, and the boilerplate
    mega-bucket shows up only in n_capped_buckets/max_pop."""
    boiler = "terms of service apply to all users of this site always"
    pair = "alpha beta gamma delta epsilon zeta eta theta"
    docs = _docs(spark, [boiler] * 20 + [pair, pair])
    stats = dedup.minhash_band_stats(docs, max_bucket_size=10).collect()
    n_cand = sum(r["n_cand_pairs"] for r in stats)
    shared = dedup.minhash_candidate_pairs(docs, max_bucket_size=10).agg(
        F.coalesce(F.sum("n_shared_bands"), F.lit(0)).alias("s")
    ).collect()[0]["s"]
    assert n_cand == shared > 0
    assert sum(r["n_capped_buckets"] for r in stats) > 0
    assert max(r["max_pop"] for r in stats) == 20


def test_jaccard_verifies_lsh_candidates_exactly(spark):
    """The LSH-candidates → exact-verify path: an exact copy pair (all
    bands shared, Jaccard 1.0) survives, a moderately similar pair that
    LSH surfaces is rejected by the exact threshold, and the reported
    intersection/union sizes match a pure-Python recompute."""
    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    near = base + " lambda"       # high shingle overlap → LSH candidate
    other = "completely different words in this document right here now"
    docs = _docs(spark, [base, base, near, other])
    got = {(r.d1, r.d2): r for r in
           dedup._jaccard_pairs(docs, dedup.JACCARD_THRESHOLD).collect()}
    assert set(got) == {(0, 1)}
    r = got[(0, 1)]
    assert (r.n_common, r.n_union, r.jaccard) == (10, 10, 1.0)
    # Lower threshold: the near pair passes exact verification too, with
    # set sizes matching Python's set algebra.
    loose = {(r.d1, r.d2): r for r in
             dedup._jaccard_pairs(docs, 0.5).collect()}
    for d1, d2 in [(0, 2), (1, 2)]:
        s1, s2 = set(base.split()), set(near.split())
        r = loose[(d1, d2)]
        assert r.n_common == len(s1 & s2)
        assert r.n_union == len(s1 | s2)


def test_fuzzy_dedup_keep_end_to_end(spark):
    """The composed pass: exact copies + a one-token-appended near-dup
    form one cluster keeping the min id; the unrelated doc keeps
    itself."""
    base = " ".join(f"w{i}" for i in range(30))      # 30 distinct tokens
    near = base + " w30"                             # jaccard 30/31 ≈ 0.968
    other = "totally different content in this unrelated document here"
    docs = _docs(spark, [base, base, near, other])
    got = {r.doc_id: (r.cluster_id, r.keep)
           for r in dedup.fuzzy_dedup_keep(docs).collect()}
    assert got[0] == (0, 1)          # canonical survivor
    assert got[1] == (0, 0)          # exact copy: dropped
    assert got[2] == (0, 0)          # verified near-dup: dropped
    assert got[3] == (3, 1)          # singleton: kept
    assert len(got) == 4             # full corpus, not just cluster members


def test_simhash_identical_distance_zero(spark):
    text = "spark scales out not up across many machines"
    out = dedup.simhash_pairs(_docs(spark, [text, text]))
    rows = out.collect()
    assert len(rows) == 1
    assert rows[0]["hamming"] == 0


def _py_simhash(text: str) -> int:
    votes = [0] * dedup.SIMHASH_BITS
    for tok in text.split(" "):
        hx = hashlib.md5(tok.encode()).hexdigest()
        h_lo, h_hi = int(hx[:8], 16), int(hx[8:16], 16)
        for j in range(dedup.SIMHASH_BITS):
            bit = (h_lo >> j) & 1 if j < 32 else (h_hi >> (j - 32)) & 1
            votes[j] += 1 if bit else -1
    packed = sum(1 << j for j, v in enumerate(votes) if v > 0)
    # Signed two's complement, as both engines store it in a BIGINT.
    return packed - (1 << 64) if packed >= (1 << 63) else packed


def test_simhash_matches_pure_python(spark):
    text = "the quick brown fox jumps over the lazy dog"
    row = dedup.simhash(_docs(spark, [text])).collect()[0]
    assert row["simhash"] == _py_simhash(text)


def test_exact_dedup_keeps_min_doc_id(spark):
    df = _docs(spark, ["same text here", "same text here", "other text now"])
    groups = {r["keep_id"]: r["n_copies"]
              for r in dedup.exact_dedup_groups(df).collect()}
    assert groups == {0: 2, 2: 1}


def test_plane_signs_are_stable(spark):
    signs = similarity._plane_signs()
    assert len(signs) == similarity.N_PLANES
    assert all(len(p) == similarity.EMBED_DIM for p in signs)
    assert all(s in (-1, 1) for p in signs for s in p)
    # Regression pin: derivation change would silently re-bucket vectors.
    assert signs[0][:8] == [-1, 1, 1, 1, -1, -1, -1, -1]


def test_cosine_topk_self_similarity(spark):
    rows = [(i, [float(i + 1)] * 4) for i in range(3)]
    df = spark.createDataFrame(rows, "vec_id: long, embedding: array<float>")
    out = similarity.cosine_topk(df, n_queries=1, k=2).collect()
    # All vectors are parallel → cosine 1.0 for every neighbor.
    assert [r["neighbor_id"] for r in out] == [1, 2]
    assert all(abs(r["cos_sim"] - 1.0) < 1e-12 for r in out)


def test_embedding_outliers_flags_anti_aligned_vector(spark):
    """A vector pointing against its label's direction must flag; the
    aligned majority must not — even though the outlier itself is part
    of the summed centroid."""
    rows = [
        (0, [1.0, 0.0, 0.0, 0.0] + [0.0] * 60, 0),
        (1, [1.0, 0.0, 0.0, 0.0] + [0.0] * 60, 0),
        (2, [-1.0, 0.0, 0.0, 0.0] + [0.0] * 60, 0),  # anti-aligned
        (3, [0.0, 1.0, 0.0, 0.0] + [0.0] * 60, 1),
    ]
    df = spark.createDataFrame(
        rows, "vec_id: long, embedding: array<float>, label: int"
    )
    got = {r.vec_id: r.asDict()
           for r in similarity.embedding_outliers(df).collect()}
    # label-0 centroid = (1, 0, …): aligned pair → cos 1.0, outlier → -1.
    assert got[0]["cos_milli"] == 1000 and got[0]["is_outlier"] == 0
    assert got[2]["cos_milli"] == -1000 and got[2]["is_outlier"] == 1
    assert got[3]["cos_milli"] == 1000 and got[3]["is_outlier"] == 0


def test_embedding_near_dups_finds_seeded_copies(spark):
    """with_vector_copies must make the near-dup query non-vacuous: the
    exact copy scores cos 1.0 (found), the +0.01 jitter scores just
    under 1.0 (found), and the reversed decoy never clears 0.9."""
    import random

    rng = random.Random(11)
    rows = [
        (i, [rng.uniform(-1.0, 1.0) for _ in range(similarity.EMBED_DIM)])
        for i in range(75)  # covers residues 0, 1, 2 of the mod-25 stride
    ]
    df = spark.createDataFrame(rows, "vec_id: long, embedding: array<float>")
    aug = similarity.with_vector_copies(df)
    assert aug.count() == 75 + 3 + 3 + 3
    out = {(r.v1, r.v2): r.cos_sim
           for r in similarity.embedding_near_dups(aug).collect()}
    assert out, "seeded copies must produce at least one near-dup pair"
    off = similarity.VEC_COPY_OFFSET
    # Exact copies: cos 1.0 up to the sqrt(n)*sqrt(n) != n ulp wobble.
    for vid in (0, 25, 50):
        assert abs(out[(vid, vid + off)] - 1.0) < 1e-12
    for vid in (1, 26, 51):            # jittered copies: near but found
        cos = out[(vid, vid + 2 * off)]
        assert 0.9 <= cos <= 1.0 and cos != out[(vid - 1, vid - 1 + off)]
    # Reversed decoys never clear the threshold against their source.
    for vid in (2, 27, 52):
        assert (vid, vid + 3 * off) not in out


def test_decode_image_rejects_codec_formats():
    # PNG/JPEG now dispatch to the native decoders (which reject a
    # truncated stream as corrupt rather than unsupported); unknown
    # magics and progressive JPEG stay declared gaps.
    with pytest.raises(ValueError, match="not a PNG"):
        multimodal.decode_image(b"\x89PNG")
    with pytest.raises(ValueError, match="truncated"):
        multimodal.decode_image(b"\xff\xd8\xff\xe0jfif")
    with pytest.raises(NotImplementedError, match="progressive"):
        multimodal.decode_image(b"\xff\xd8\xff\xc2")
    with pytest.raises(NotImplementedError, match="no codec"):
        multimodal.decode_image(b"\x00\x01??")


def test_ppm_decode_hand_computed():
    # 2x1 RGB image, hand-assembled bytes.
    raster = bytes([10, 20, 30, 40, 50, 60])
    payload = multimodal.encode_ppm(2, 1, raster)
    assert payload == b"P6\n2 1\n255\n" + raster
    w, h, nch, out = multimodal.decode_image(payload)
    assert (w, h, nch, out) == (2, 1, 3, raster)


def test_ppm_decoder_handles_comments_and_whitespace():
    raster = bytes([7, 8, 9])
    payload = b"P6 # magic comment\n# full line\n 1\t1 # dims\n255\n" + raster
    assert multimodal.decode_ppm(payload) == (1, 1, 3, raster)
    # P5 grayscale.
    g = multimodal.encode_ppm(2, 2, bytes([1, 2, 3, 4]), channels=1)
    assert multimodal.decode_ppm(g) == (2, 2, 1, bytes([1, 2, 3, 4]))


def test_ppm_decoder_rejects_malformed():
    ok = multimodal.encode_ppm(2, 2, bytes(range(12)))
    with pytest.raises(ValueError, match="truncated raster"):
        multimodal.decode_ppm(ok[:-1])
    with pytest.raises(ValueError, match="not a binary netpbm"):
        multimodal.decode_ppm(b"P3\n1 1\n255\n1 2 3")  # ASCII ppm
    with pytest.raises(ValueError, match="maxval"):
        multimodal.decode_ppm(b"P6\n1 1\n65535\n" + bytes(6))
    with pytest.raises(ValueError):
        multimodal.encode_ppm(2, 2, bytes(5))  # wrong raster length
    # Concatenated/corrupt payloads with bytes past the raster must not
    # silently decode (trailing-byte check, ADVICE r6).
    with pytest.raises(ValueError, match="trailing bytes"):
        multimodal.decode_ppm(ok + b"\x00")
    with pytest.raises(ValueError, match="trailing bytes"):
        multimodal.decode_ppm(ok + ok)  # two images glued together


def test_ppm_roundtrip_property():
    """Property fuzz: encode→decode is the identity for every valid
    (w, h, raster, channels), and junk prefixes never mis-decode."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    @settings(max_examples=60, deadline=None)
    @given(
        w=st.integers(1, 9),
        h=st.integers(1, 9),
        channels=st.sampled_from([1, 3]),
        data=st.data(),
    )
    def roundtrip(w, h, channels, data):
        raster = bytes(
            data.draw(st.lists(st.integers(0, 255),
                               min_size=w * h * channels,
                               max_size=w * h * channels))
        )
        payload = multimodal.encode_ppm(w, h, raster, channels=channels)
        assert multimodal.decode_ppm(payload) == (w, h, channels, raster)

    roundtrip()

    @settings(max_examples=40, deadline=None)
    @given(junk=st.binary(min_size=0, max_size=64))
    def junk_never_misdecodes(junk):
        if junk[:2] in (b"P6", b"P5"):
            return  # may legitimately parse
        with pytest.raises((NotImplementedError, ValueError)):
            multimodal.decode_image(junk)

    junk_never_misdecodes()


def test_image_pixel_stats_hand_computed(spark):
    """End-to-end through Spark: the decoded stats must equal a pure
    Python recomputation from the md5-derived synthesis formula."""
    text = "hello world of binary payloads"
    docs = _docs(spark, [text])
    row = multimodal.image_pixel_stats(
        multimodal.attach_image_payload(docs)
    ).collect()[0]
    h32 = int(hashlib.md5(text.encode()).hexdigest()[:8], 16)
    w = 1 + h32 % multimodal.IMG_W_MOD
    h = 1 + h32 % multimodal.IMG_H_MOD
    px = [(h32 + multimodal.PIXEL_STRIDE * i) % 256 for i in range(w * h * 3)]
    assert (row.width, row.height, row.n_pixels) == (w, h, w * h)
    assert row.sum_r == sum(px[0::3])
    assert row.sum_g == sum(px[1::3])
    assert row.sum_b == sum(px[2::3])
    assert (row.min_byte, row.max_byte) == (min(px), max(px))
    assert row.mean_luma_milli == (1000 * sum(px)) // (3 * w * h)


def test_multimodal_features_match_hashlib(spark):
    docs = _docs(spark, ["hello world of binary payloads"])
    row = multimodal.extract_features(multimodal.attach_payload(docs)).collect()[0]
    h = hashlib.md5(b"hello world of binary payloads").hexdigest()
    h32 = int(h[:8], 16)
    assert row["content_hash"] == h
    assert row["n_bytes"] == 30
    assert row["fake_width"] == 1 + h32 % 1920
    assert row["fake_height"] == 1 + h32 % 1080


def test_lang_scores_argmax_tiebreak(spark):
    # 'la' scores for both es and fr; tie breaks deterministically to es.
    df = _docs(spark, ["la la la"])
    row = lang_scores(df).collect()[0]
    assert row["score_es"] == 3 and row["score_fr"] == 3
    assert row["predicted_lang"] == "es"


def test_clean_corpus_drops_low_quality_and_copies(spark):
    good = " ".join(["word"] * 30)
    short = "too short"
    df = _docs(spark, [good, short])
    out = dedup.clean_corpus(dedup.with_copies(df))
    kept = [r["doc_id"] for r in out.collect()]
    assert kept == [0]


def _vecs(spark, rows):
    # rows: list of (vec_id, [floats], label)
    return spark.createDataFrame(
        rows, "vec_id: long, embedding: array<float>, label: int"
    )


def test_ivf_topk_finds_exact_neighbor_in_probed_cell(spark):
    # Two well-separated directions; labels match the geometry, so the
    # nearest neighbor always lives in the probed cell and IVF == exact.
    rows = [
        (0, [1.0, 0.0, 0.01], 0),
        (1, [0.99, 0.01, 0.0], 0),
        (2, [0.98, 0.0, 0.02], 0),
        (3, [0.0, 1.0, 0.01], 1),
        (4, [0.01, 0.99, 0.0], 1),
    ]
    out = similarity.ivf_topk(_vecs(spark, rows), n_queries=1, k=2).collect()
    # cos(v0,v2) > cos(v0,v1): v2's tiny third component aligns with v0's.
    assert [r.neighbor_id for r in sorted(out, key=lambda r: r.rank)] == [2, 1]
    assert all(-1.0 <= r.cos_sim <= 1.0 for r in out)


def test_semantic_dedup_keeps_lowest_id_per_near_dup_group(spark):
    """Within-cell near-dups drop to the lowest id; near-identical
    vectors in DIFFERENT cells both survive (the SemDeDup contract:
    comparisons never cross a cluster boundary)."""
    # Two well-separated directions -> two cells (labels 0 / 1).
    rows = [
        (0, [1.0, 0.0, 0.0, 0.0], 0),
        (1, [1.0, 0.0, 0.0, 0.0], 0),      # exact dup of 0 -> dropped
        (2, [0.99, 0.01, 0.0, 0.0], 0),    # near-dup of 0 -> dropped
        (3, [0.0, 1.0, 0.0, 0.0], 1),
        (4, [0.0, 0.99, 0.1, 0.0], 1),     # near-dup of 3 -> dropped
        (5, [0.5, 0.0, 0.8, 0.0], 0),      # same cell, below threshold
    ]
    df = _vecs(spark, rows)
    out = {r.vec_id: (r.cell, r.keep)
           for r in similarity.semantic_dedup_keep(df, df).collect()}
    assert len(out) == 6
    assert out[0][1] == 1 and out[1][1] == 0 and out[2][1] == 0
    assert out[3][1] == 1 and out[4][1] == 0
    assert out[5][1] == 1
    # Exact dup pair split across cells is kept on both sides when the
    # centroids separate them: vectors 0 and 1 share cell, so same-cell
    # grouping was the only reason 1 dropped.
    assert out[0][0] == out[1][0]


def test_kmeans_matches_pure_python_lloyd(spark):
    """The 2-iteration Lloyd clustering must equal a pure-Python mirror
    (same quantization, same first-K seeding, same cos-desc/label-asc
    assignment order, integer (sum, count) centroids)."""
    import math

    rows = [(i, [float((i * 3 + d * 7) % 11) / 10 for d in range(4)], 0)
            for i in range(10)]
    k, iters = 3, 2
    out = similarity.kmeans_clusters(_vecs(spark, rows), k=k, n_iters=iters)
    got = {}
    for r in out.collect():
        got.setdefault(r.cell, {})[r.dim] = (r.n_vecs, r.sum_q)

    # Pure-Python mirror.
    qv = {i: [round(x * 1_000_000) for x in emb] for i, emb, _ in rows}
    norm = {i: sum(x * x for x in v) for i, v in qv.items()}
    cells = {i: (qv[i], norm[i]) for i in range(k)}
    assign = {}
    for _ in range(iters):
        assign = {}
        for i, v in qv.items():
            best = min(
                cells.items(),
                key=lambda kv: (
                    -sum(a * b for a, b in zip(v, kv[1][0]))
                    / (math.sqrt(norm[i]) * math.sqrt(kv[1][1])),
                    kv[0],
                ),
            )[0]
            assign[i] = best
        cells = {}
        for c in set(assign.values()):
            members = [qv[i] for i in assign if assign[i] == c]
            cv = [sum(col) for col in zip(*members)]
            cells[c] = (cv, sum(x * x for x in cv))
    expect = {}
    for c in set(assign.values()):
        members = [qv[i] for i in assign if assign[i] == c]
        for d in range(4):
            expect.setdefault(c, {})[d + 1] = (
                len(members), sum(v[d] for v in members)
            )
    assert got == expect


def test_semantic_dedup_mega_cell_cap(spark):
    """A cell whose population exceeds max_cell_pop contributes no
    pairs: its vectors all keep (and an incremental probe into it finds
    no hits), while normal cells still deduplicate."""
    rows = [
        (0, [1.0, 0.0, 0.0, 0.0], 0),
        (1, [1.0, 0.0, 0.0, 0.0], 0),      # hot cell: 3 exact copies
        (2, [1.0, 0.0, 0.0, 0.0], 0),
        (3, [0.0, 1.0, 0.0, 0.0], 1),
        (4, [0.0, 1.0, 0.0, 0.0], 1),      # normal cell: 1 dup pair
    ]
    df = _vecs(spark, rows)
    out = {r.vec_id: r.keep
           for r in similarity.semantic_dedup_keep(
               df, df, max_cell_pop=2).collect()}
    assert out[0] == out[1] == out[2] == 1     # capped cell: no drops
    assert out[3] == 1 and out[4] == 0         # normal cell still dedups

    delta = spark.createDataFrame(
        [(100, [1.0, 0.0, 0.0, 0.0]), (101, [0.0, 1.0, 0.0, 0.0])],
        "vec_id: long, embedding: array<float>",
    )
    inc = {r.vec_id: r.is_semantic_dup
           for r in similarity.semantic_dedup_incremental(
               delta, df, max_cell_pop=2).collect()}
    assert inc == {100: 0, 101: 1}             # capped base cell: no hits


def test_semantic_dedup_incremental_flags_only_delta(spark):
    """The probe reports delta vectors only: an exact re-send and a
    jittered copy flag against the base; a novel direction does not —
    and base vectors are never pairwise-compared with themselves."""
    base = _vecs(spark, [
        (0, [1.0, 0.0, 0.0, 0.0], 0),
        (1, [0.0, 1.0, 0.0, 0.0], 1),
    ])
    delta = spark.createDataFrame(
        [
            (100, [1.0, 0.0, 0.0, 0.0]),      # exact re-send of 0
            (101, [0.99, 0.05, 0.0, 0.0]),    # near-dup of 0
            (102, [0.0, 0.0, 1.0, 0.0]),      # novel direction
        ],
        "vec_id: long, embedding: array<float>",
    )
    out = {r.vec_id: (r.n_base_near_dups, r.is_semantic_dup)
           for r in similarity.semantic_dedup_incremental(
               delta, base).collect()}
    assert set(out) == {100, 101, 102}          # delta rows only
    assert out[100] == (1, 1)
    assert out[101] == (1, 1)
    assert out[102][1] == 0


def test_snapshot_schema_drift_detects_all_classes(spark):
    from pyspark.sql import functions as F

    from etl_validator_github_spark.scale.snapshots import (
        snapshot_schema_drift,
    )

    old = spark.createDataFrame(
        [(1, "a", 1.0)], "doc_id: long, text: string, score: double"
    )
    new = (
        old.drop("score")
        .withColumn("lang", F.lit("en"))
        .withColumn("doc_id", F.col("doc_id").cast("int"))
    )
    drift = snapshot_schema_drift(old, new)
    assert drift == {
        "added": ["lang"],
        "removed": ["score"],
        "type_changed": [("doc_id", "bigint", "int")],
    }
    same = snapshot_schema_drift(old, old)
    assert same == {"added": [], "removed": [], "type_changed": []}


def test_quality_drift_exact_milli(spark):
    from etl_validator_github_spark.scale.snapshots import quality_drift

    good = " ".join(f"tok{i}" for i in range(30))
    short = "too short"
    old = _docs(spark, [good, good, short])          # 2/3 quality
    new = _docs(spark, [good, short, short, short])  # 1/4 quality
    row = quality_drift(old, new).collect()[0]
    assert (row.n_docs_old, row.n_docs_new) == (3, 4)
    assert row.quality_milli_old == 2000 // 3        # 666
    assert row.quality_milli_new == 1000 // 4        # 250
    assert row.quality_drift_milli == 250 - 666
    assert row.tokens_per_doc_milli_old == (1000 * (30 + 30 + 2)) // 3


def test_ivf_assignment_is_deterministic_and_total(spark):
    rows = [(i, [float((i * 7 + d) % 5) for d in range(4)], i % 3)
            for i in range(12)]
    df = _vecs(spark, rows)
    cells = similarity.ivf_cells(df)
    assert cells.count() == 3
    out1 = similarity.ivf_topk(df, n_queries=3, k=4).collect()
    out2 = similarity.ivf_topk(df, n_queries=3, k=4).collect()
    key = lambda r: (r.query_id, r.rank)  # noqa: E731
    assert sorted(out1, key=key) == sorted(out2, key=key)
    for r in out1:
        assert 1 <= r.rank <= 4 and r.neighbor_id != r.query_id


def test_chunk_documents_edges(spark):
    from etl_validator_github_spark.scale.text import chunk_documents

    docs = _docs(spark, [
        "a b c",                      # shorter than one chunk
        " ".join(f"t{i}" for i in range(100)),  # exactly 2 chunks at 50
        " ".join(f"t{i}" for i in range(101)),  # 2 full + 1 single-token
    ])
    out = chunk_documents(docs, chunk_tokens=50).collect()
    by_doc = {}
    for r in out:
        by_doc.setdefault(r.doc_id, []).append((r.chunk_idx, r.chunk_tokens))
    assert by_doc[0] == [(0, 3)]
    assert sorted(by_doc[1]) == [(0, 50), (1, 50)]
    assert sorted(by_doc[2]) == [(0, 50), (1, 50), (2, 1)]


def test_dhash_pairs_brightened_reencode_despite_hash_change(spark):
    """The dHash headline claim: a brightness-shifted re-encode has a
    DIFFERENT content hash (exact dedup is blind to it) but must still
    pair with its original within the Hamming threshold."""
    from etl_validator_github_spark.scale import dedup as ddp
    from etl_validator_github_spark.scale.multimodal import (
        DHASH_BRIGHTEN,
        DHASH_HAMMING,
        attach_image_payload,
        dhash_neardup_pairs,
        image_dhash,
    )

    rows = ["alpha beta gamma delta", "wholly different text content",
            "third unrelated doc body", "fourth document words here"]
    docs = _docs(spark, rows)
    pairs = {(r.d1, r.d2): r.hamming
             for r in dhash_neardup_pairs(docs).collect()}
    # doc 0 is the only doc_id % 5 == 0 → exactly its copy-pair must be
    # found (plus any accidental base-base near-collisions).
    copy_pair = (0, ddp.COPY_OFFSET)
    assert copy_pair in pairs
    assert pairs[copy_pair] <= DHASH_HAMMING
    # …and the content hashes of the two payloads genuinely differ.
    orig = {r.doc_id: r.content_hash
            for r in image_dhash(attach_image_payload(docs)).collect()}
    bright = {r.doc_id: r.content_hash
              for r in image_dhash(
                  attach_image_payload(docs, brighten=DHASH_BRIGHTEN)
              ).collect()}
    assert orig[0] != bright[0]


def test_dhash_invariant_under_unsaturated_brighten(spark):
    """Brightening by a multiple of 3 shifts every unsaturated luma
    uniformly, so the gradient-sign bits — the hash — are unchanged
    when no byte clips at 255."""
    from etl_validator_github_spark.scale.multimodal import (
        attach_image_payload,
        image_dhash,
    )

    docs = _docs(spark, ["some doc text for a dark image fixture"])
    h0 = image_dhash(attach_image_payload(docs)).collect()[0]
    h6 = image_dhash(
        attach_image_payload(docs, brighten=6)
    ).collect()[0]
    # This fixture image has no byte ≥ 250 on the sampled grid — if it
    # did, pick different text; determinism makes the check stable.
    assert bin(h0.dhash ^ h6.dhash).count("1") <= 3
    assert h0.content_hash != h6.content_hash


def test_resize_preserves_aspect_and_caps_edge(spark):
    docs = _docs(spark, ["wide payload text here", "another doc body"])
    feats = multimodal.image_pixel_stats(multimodal.attach_image_payload(docs))
    out = {r.doc_id: r for r in multimodal.resize_images(feats).collect()}
    src = {r.doc_id: r for r in feats.collect()}
    for doc_id, r in out.items():
        w, h = src[doc_id].width, src[doc_id].height
        long_edge = max(w, h)
        assert max(r.out_width, r.out_height) == multimodal.TARGET_EDGE * max(w, h) // long_edge
        assert r.out_width == w * multimodal.TARGET_EDGE // long_edge
        assert r.out_height == h * multimodal.TARGET_EDGE // long_edge
        assert (r.scale_num, r.scale_den) == (multimodal.TARGET_EDGE, long_edge)


def test_frame_dedup_stats_flags_copied_videos(spark):
    """Two payload-identical videos share every sampled frame; a unique
    video shares none."""
    docs = spark.createDataFrame(
        [(0, "shared video payload text", "en"),
         (1, "shared video payload text", "en"),
         (2, "a completely different clip", "en")],
        "doc_id: long, text: string, lang: string",
    )
    frames = multimodal.sample_frames(
        multimodal.extract_features(multimodal.attach_payload(docs))
    )
    got = {r.doc_id: r for r in
           multimodal.frame_dedup_stats(frames).collect()}
    assert got[0].n_shared_frames == got[0].n_frames > 0
    assert got[1].n_shared_frames == got[1].n_frames
    assert got[0].shared_ratio == 1.0
    assert got[2].n_shared_frames == 0 and got[2].shared_ratio == 0.0


def test_sample_frames_stride_and_hashes(spark):
    import hashlib as hl

    docs = _docs(spark, ["some video-ish payload"])
    feats = multimodal.extract_features(multimodal.attach_payload(docs))
    meta = feats.collect()[0]
    rows = sorted(multimodal.sample_frames(feats).collect(), key=lambda r: r.frame_idx)
    expect_idx = list(range(0, meta.fake_n_frames, multimodal.FRAME_STRIDE))
    assert [r.frame_idx for r in rows] == expect_idx
    for r in rows:
        assert r.frame_hash == hl.md5(f"{meta.content_hash}|{r.frame_idx}".encode()).hexdigest()


def test_duplicate_clusters_transitive(spark):
    # A≈B, B≈C, and a separate pair D≈E: two components, min-id labels.
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11)], "d1: long, d2: long"
    )
    out = {r.doc_id: r.cluster_id
           for r in dedup.duplicate_clusters(pairs).collect()}
    assert out == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10}


def test_duplicate_clusters_chain_beyond_one_hop(spark):
    # A 6-vertex path: min label must travel the whole chain.
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(5)], "d1: long, d2: long"
    )
    out = {r.doc_id: r.cluster_id
           for r in dedup.duplicate_clusters(pairs).collect()}
    assert out == {i: 0 for i in range(6)}


def test_simhash_segment_blocking_finds_all_pairs(spark):
    # Segment-blocked candidates must equal the naive all-pairs answer —
    # pigeonhole guarantees no qualifying pair is missed.
    import random

    rng = random.Random(7)
    vocab = [f"w{i}" for i in range(30)]
    rows = [" ".join(rng.choice(vocab) for _ in range(12)) for _ in range(40)]
    docs = _docs(spark, rows)
    got = sorted(
        (r.d1, r.d2, r.hamming) for r in dedup.simhash_pairs(docs).collect()
    )
    sh = dedup.simhash(docs).alias("a")
    b = dedup.simhash(docs).alias("b")
    ham = F.bit_count(F.col("a.simhash").bitwiseXOR(F.col("b.simhash")))
    naive = sorted(
        (r.d1, r.d2, r.hamming)
        for r in sh.join(
            b,
            (F.col("a.lang") == F.col("b.lang"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("d1"), F.col("b.doc_id").alias("d2"),
                ham.alias("hamming"))
        .filter(F.col("hamming") <= dedup.HAMMING_THRESHOLD)
        .collect()
    )
    assert got == naive


def test_lsh_banding_recall_catches_exact_pairs(spark):
    """Exact-copy pairs are truth AND candidates (all bands shared), so
    recall is 1000‰; unrelated docs contribute to neither side."""
    t1 = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    t2 = "one two three four five six seven eight nine ten"
    other = "completely different words living in this document body"
    docs = _docs(spark, [t1, t1, t2, t2, other])
    row = dedup.lsh_banding_recall(docs, max_id=10).collect()[0]
    assert row.n_truth == 2          # the two identical pairs
    assert row.n_hit == 2
    assert row.recall_milli == 1000
    assert row.n_cand >= 2


def test_lsh_banding_recall_rejects_oversized_slice(spark):
    """The quadratic all-pairs truth join is bounded by a hard ceiling:
    a parameter bump past it must fail loudly, before any join runs."""
    import pytest

    docs = _docs(spark, ["a b c d e f"])
    with pytest.raises(ValueError, match="exceeds the ceiling"):
        dedup.lsh_banding_recall(docs, max_id=dedup.LSH_EVAL_ID_CEILING + 1)


def test_fuzzy_dedup_keep_matches_union_find(spark):
    """Invariant check on a collision-heavy random corpus: the Spark
    keep-list must equal a pure-Python union-find over the SAME verified
    pairs — every doc labeled, cluster label = component min, exactly
    one keep per cluster."""
    import random

    rng = random.Random(17)
    vocab = [f"t{i}" for i in range(12)]          # tiny vocab → collisions
    rows = []
    for i in range(60):
        n = rng.randint(8, 14)
        rows.append(" ".join(rng.choice(vocab) for _ in range(n)))
    # Seed guaranteed clusters: exact copies and near-copies.
    rows[50] = rows[0]
    rows[51] = rows[0]
    rows[52] = rows[1] + " " + vocab[0]
    docs = _docs(spark, rows)

    pairs = [(r.d1, r.d2) for r in
             dedup._jaccard_pairs(docs, dedup.JACCARD_THRESHOLD)
             .select("d1", "d2").collect()]
    parent = list(range(len(rows)))

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    expected = {i: find(i) for i in range(len(rows))}

    got = {r.doc_id: (r.cluster_id, r.keep)
           for r in dedup.fuzzy_dedup_keep(docs).collect()}
    assert len(got) == len(rows)
    for i in range(len(rows)):
        assert got[i][0] == expected[i], f"doc {i}"
        assert got[i][1] == int(i == expected[i])
    # The seeded group actually formed one cluster.
    assert expected[50] == expected[51] == expected[0] == 0


def test_quality_budget_select_histogram_cutoff(spark):
    """Whole-bucket budget semantics: best-score buckets accumulate
    until the budget; the first bucket that would overflow is dropped
    atomically, and a lang whose best bucket alone overflows keeps
    nothing."""
    from etl_validator_github_spark.scale.text import quality_budget_select

    def doc(i, lang, n_distinct, n_total):
        # n_distinct unique tokens padded to n_total with repeats.
        toks = [f"{lang}{i}w{j}" for j in range(n_distinct)]
        toks += [toks[0]] * (n_total - n_distinct)
        return (i, " ".join(toks), lang)

    rows = [
        doc(0, "en", 30, 40),   # score 30, 40 tokens  -> kept (cum 40)
        doc(1, "en", 20, 50),   # score 20, 50 tokens  -> kept (cum 90)
        doc(2, "en", 10, 30),   # score 10, 30 tokens  -> dropped (cum 120)
        doc(3, "de", 25, 200),  # best de bucket overflows alone -> nothing
    ]
    df = spark.createDataFrame(rows, "doc_id: long, text: string, lang: string")
    got = {r.doc_id: (r.score, r.n_tokens)
           for r in quality_budget_select(df, budget=100).collect()}
    assert got == {0: (30, 40), 1: (20, 50)}


def test_quality_budget_select_matches_brute_force(spark):
    """Random corpus: the histogram-cutoff selection equals a plain
    Python recompute of the whole-bucket budget rule per language."""
    import random
    from collections import defaultdict

    from etl_validator_github_spark.scale.text import quality_budget_select

    rng = random.Random(23)
    rows = []
    for i in range(40):
        lang = rng.choice(["en", "de"])
        n_distinct = rng.randint(3, 15)
        n_total = n_distinct + rng.randint(0, 10)
        toks = [f"{lang}{i}w{j}" for j in range(n_distinct)]
        toks += [toks[0]] * (n_total - n_distinct)
        rows.append((i, " ".join(toks), lang))
    budget = 150
    df = spark.createDataFrame(rows, "doc_id: long, text: string, lang: string")

    # Brute force: per lang, bucket tokens by score, walk buckets
    # best-first, keep whole buckets while the running total fits.
    buckets = defaultdict(lambda: defaultdict(int))
    docs_by_key = defaultdict(list)
    for i, text, lang in rows:
        toks = text.split(" ")
        score, n = len(set(toks)), len(toks)
        buckets[lang][score] += n
        docs_by_key[(lang, score)].append((i, n))
    expected = {}
    for lang, by_score in buckets.items():
        cum = 0
        for score in sorted(by_score, reverse=True):
            cum += by_score[score]
            if cum > budget:
                break
            for i, n in docs_by_key[(lang, score)]:
                expected[i] = (score, n)

    got = {r.doc_id: (r.score, r.n_tokens)
           for r in quality_budget_select(df, budget=budget).collect()}
    assert got == expected
    assert expected, "fixture must select at least one doc"


def test_gopher_quality_matches_pure_python(spark):
    from collections import Counter

    from etl_validator_github_spark.scale.text import gopher_quality

    rows = [
        "a b c d e f g h i j k l m n o p q r s t u v",   # clean, 22 toks
        "spam " * 30 + "end",                            # one dominant token
        "x y x y x y x y x y x y x y x y x y x y x y",  # repeated bigrams
        "tiny doc",                                      # under min tokens
    ]
    got = {
        r["doc_id"]: r.asDict()
        for r in gopher_quality(_docs(spark, rows)).collect()
    }
    for doc_id, text in enumerate(rows):
        toks = text.split(" ")
        bigrams = [f"{a} {b}" for a, b in zip(toks, toks[1:])]
        exp_top = max(Counter(toks).values())
        exp_dup = len(bigrams) - len(set(bigrams))
        row = got[doc_id]
        assert row["n_tokens"] == len(toks)
        assert row["top_token_count"] == exp_top
        assert row["n_dup_bigrams"] == exp_dup
    assert got[0]["gopher_keep"] == 1
    assert got[1]["gopher_keep"] == 0        # top-token dominated
    assert got[2]["gopher_keep"] == 0        # bigram repetition
    assert got[3]["gopher_keep"] == 0        # too short


def test_pii_scrub_counts_and_redacts(spark):
    from etl_validator_github_spark.scale.text import scrub_pii

    df = spark.createDataFrame(
        [
            (1, "write to bob@mail.com or sue@corp.io today"),
            (2, "ssn is 123-45-6789 ip is 10.0.0.1"),
            (3, "nothing sensitive here"),
        ],
        "doc_id: long, text: string",
    )
    got = {r["doc_id"]: r for r in scrub_pii(df).collect()}
    assert (got[1]["n_emails"], got[1]["n_ssns"], got[1]["n_ips"]) == (2, 0, 0)
    assert (got[2]["n_emails"], got[2]["n_ssns"], got[2]["n_ips"]) == (0, 1, 1)
    assert (got[3]["n_emails"], got[3]["n_ssns"], got[3]["n_ips"]) == (0, 0, 0)
    # The hash is of the REDACTED text: doc 2 scrubbed == hash of the
    # placeholder form.
    import hashlib

    exp = hashlib.md5(b"ssn is <SSN> ip is <IP>").hexdigest()
    assert got[2]["scrubbed_hash"] == exp


def test_chunk_dedup_stats_matches_brute_force(spark):
    from etl_validator_github_spark.scale.dedup import chunk_dedup_stats

    shared = " ".join(f"w{i}" for i in range(20))         # one full chunk
    uniq_a = " ".join(f"a{i}" for i in range(20))
    uniq_b = " ".join(f"b{i}" for i in range(7))          # ragged tail
    rows = [f"{shared} {uniq_a}", f"{shared} {uniq_b}", uniq_b]
    got = {
        r["doc_id"]: r.asDict()
        for r in chunk_dedup_stats(_docs(spark, rows)).collect()
    }
    # Doc 0: chunks [shared, uniq_a] — shared repeats in doc 1.
    assert (got[0]["n_chunks"], got[0]["n_shared_chunks"]) == (2, 1)
    # Doc 1: [shared, uniq_b] — both repeat elsewhere (uniq_b is doc 2).
    assert (got[1]["n_chunks"], got[1]["n_shared_chunks"]) == (2, 2)
    assert (got[2]["n_chunks"], got[2]["n_shared_chunks"]) == (1, 1)
    assert got[0]["chunk_keep"] == 1 and got[1]["chunk_keep"] == 0


def test_substring_span_stats_hand_computed(spark):
    """Coverage is an exact interval union: overlapping duplicated
    windows must not double-count token positions, and gaps must split
    the union (doc 3 covers [1-10] ∪ [11-14] = 14 of 14 tokens)."""
    from etl_validator_github_spark.scale.dedup import substring_span_stats

    rows = [
        "a b c d e f g h",                    # 'a b c d' at pos 1
        "x y a b c d z w",                    # 'a b c d' at pos 3
        "p q r",                              # shorter than one window
        "a b c d q q q q q q a b c d",        # dup at 1, 5-7, 11
    ]
    got = {
        r["doc_id"]: r.asDict()
        for r in substring_span_stats(_docs(spark, rows),
                                      span_tokens=4).collect()
    }
    assert (got[0]["n_windows"], got[0]["n_dup_windows"],
            got[0]["covered_tokens"]) == (5, 1, 4)
    assert got[0]["coverage_milli"] == 500 and got[0]["span_keep"] == 1
    assert (got[1]["n_dup_windows"], got[1]["covered_tokens"]) == (1, 4)
    assert (got[2]["n_windows"], got[2]["n_dup_windows"],
            got[2]["covered_tokens"], got[2]["span_keep"]) == (0, 0, 0, 1)
    # doc 3: dup starts {1, 5, 6, 7, 11}; 'q q q q' repeats INSIDE the
    # doc (starts 5-7), overlapping by 3 — union must count 14, not
    # 5 windows * 4 tokens = 20.
    assert (got[3]["n_windows"], got[3]["n_dup_windows"],
            got[3]["covered_tokens"]) == (11, 5, 14)
    assert got[3]["coverage_milli"] == 1000 and got[3]["span_keep"] == 0


def test_importance_resample_prefers_target_like_docs(spark):
    """DSIR weights: a doc sharing the target slice's vocabulary must
    outweigh one with disjoint vocabulary, and acceptance must stay a
    valid per-mille probability."""
    from etl_validator_github_spark.scale.text import importance_resample

    rows = [
        "apple banana apple banana cherry date",   # doc 0: the target slice
        "apple banana cherry date apple banana",   # target-like
        "zebra yak xylo walrus viper umbra",       # disjoint
        "apple banana zebra yak cherry viper",     # mixed
    ]
    got = {
        r["doc_id"]: r.asDict()
        for r in importance_resample(_docs(spark, rows)).collect()
    }
    assert set(got) == {0, 1, 2, 3}
    assert got[1]["weight_milli"] > got[2]["weight_milli"]
    assert (got[1]["weight_milli"] >= got[3]["weight_milli"]
            >= got[2]["weight_milli"])
    for r in got.values():
        assert 0 <= r["accept_milli"] <= 1000
        assert r["accepted"] in (0, 1)
        # 11 features per 6-token doc: 6 unigrams + 5 bigrams.
        assert r["n_feats"] == 11


def test_temperature_mixture_rates_hand_computed(spark):
    """Alpha=0.5 rebalance: the smallest language keeps everything
    (rate 10000), every other language's rate is exactly
    round(10000 * sqrt(min_tokens / own_tokens)), and kept counts obey
    the md5 threshold doc-by-doc."""
    import hashlib
    import math

    from etl_validator_github_spark.scale.packing import temperature_mixture

    rows = [
        # 3 langs: en 3 docs x 8 tokens, de 1 doc x 8, zh 2 docs x 4.
        (0, "a b c d e f g h", "en"),
        (1, "a b c d e f g h", "en"),
        (2, "a b c d e f g h", "en"),
        (3, "a b c d e f g h", "de"),
        (4, "a b c d", "zh"),
        (5, "a b c d", "zh"),
    ]
    docs = spark.createDataFrame(
        rows, "doc_id: long, text: string, lang: string"
    )
    got = {r["lang"]: r.asDict() for r in temperature_mixture(docs).collect()}
    toks = {"en": 24, "de": 8, "zh": 8}
    for lang, n in toks.items():
        expect_rate = round(10_000 * math.sqrt(8 / n))
        assert got[lang]["rate_milli"] == expect_rate, lang
        kept = [
            doc_id for doc_id, _, l2 in rows
            if l2 == lang
            and int(hashlib.md5(str(doc_id).encode()).hexdigest()[:8], 16)
            % 10_000 < expect_rate
        ]
        assert got[lang]["n_docs_out"] == len(kept), lang
    assert got["de"]["rate_milli"] == got["zh"]["rate_milli"] == 10_000
    assert got["de"]["n_docs_out"] == 1 and got["zh"]["n_docs_out"] == 2
    assert got["en"]["rate_milli"] < 10_000


def test_distinct_sketch_matches_pure_python_hll(spark):
    """The md5-HLL registers, zero-register count, scaled harmonic sum,
    and raw estimate all match a pure-Python mirror exactly — and the
    estimate lands within 3 standard errors (1.04/sqrt(64)) of truth in
    the accurate (n >> m) regime."""
    import hashlib

    from etl_validator_github_spark.scale.sketches import (
        HLL_ALPHA,
        HLL_M,
        distinct_sketch,
    )

    n = 5000
    df = spark.createDataFrame(
        [(i % 7, i) for i in range(n)], "grp int, k long"
    )
    got = {r["grp"]: r.asDict()
           for r in distinct_sketch(df, "grp", "k", "k").collect()}

    for g in range(7):
        regs = {}
        keys = [i for i in range(n) if i % 7 == g]
        for key in keys:
            h = hashlib.md5(str(key).encode()).hexdigest()
            bucket = int(h[13:15], 16) % HLL_M
            w = int(h[:13], 16)
            # bin(w) has a '0b' prefix → bit length = len - 2.
            rho = 53 if w == 0 else 53 - (len(bin(w)) - 2)
            regs[bucket] = max(regs.get(bucket, 0), rho)
        v_zero = HLL_M - len(regs)
        sum_pow = sum(1 << (53 - m) for m in regs.values()) + v_zero * (1 << 53)
        est = round(HLL_ALPHA * HLL_M * HLL_M * float(1 << 53) / sum_pow)
        r = got[g]
        assert r["n_true"] == len(keys)
        assert r["v_zero"] == v_zero
        assert r["sum_pow"] == sum_pow
        assert r["n_est"] == est
        # Accuracy in the n >> m regime: 3σ with σ = 1.04/sqrt(m).
        assert abs(est - len(keys)) / len(keys) < 3 * 1.04 / (HLL_M ** 0.5)


def test_hll_overlap_matches_python_on_partial_overlap(spark):
    """Overlap sketch on three sets with KNOWN partial overlap (the
    fixture's event types share identical user sets, which would let a
    broken pair-merge pass): registers, union estimates (including
    buckets present in only ONE sketch — the case an inner bucket-join
    silently drops), inclusion-exclusion intersections, and exact
    intersections all match a pure-Python mirror."""
    import hashlib

    from etl_validator_github_spark.scale.sketches import (
        HLL_ALPHA,
        HLL_M,
        hll_overlap,
    )

    # Overlap must DOMINATE the union: inclusion-exclusion subtracts
    # three ±13% estimates, so its sigma is ~sqrt(3)·13% of the union —
    # a thin overlap would drown in estimator noise (a real property of
    # the method, noted in the module docstring).
    sets = {
        "a": set(range(0, 500)),          # 500 users
        "b": set(range(100, 600)),        # 500 users, 400 shared with a
        "c": set(range(10_000, 10_050)),  # 50 users, disjoint
    }
    rows = [(g, u) for g, us in sets.items() for u in us]
    df = spark.createDataFrame(rows, "grp string, user long")
    got = {(r["grp_a"], r["grp_b"]): r.asDict()
           for r in hll_overlap(df, "grp", "user").collect()}

    def regs_of(users):
        regs = {}
        for u in users:
            h = hashlib.md5(str(u).encode()).hexdigest()
            bucket = int(h[13:15], 16) % HLL_M
            w = int(h[:13], 16)
            rho = 53 if w == 0 else 53 - (len(bin(w)) - 2)
            regs[bucket] = max(regs.get(bucket, 0), rho)
        return regs

    def est_of(regs):
        v = HLL_M - len(regs)
        sp = sum(1 << (53 - m) for m in regs.values()) + v * (1 << 53)
        return round(HLL_ALPHA * HLL_M * HLL_M * float(1 << 53) / sp)

    for ga, gb in [("a", "b"), ("a", "c"), ("b", "c")]:
        ra, rb = regs_of(sets[ga]), regs_of(sets[gb])
        ru = dict(ra)
        for k, v in rb.items():
            ru[k] = max(ru.get(k, 0), v)
        r = got[(ga, gb)]
        assert r["est_a"] == est_of(ra)
        assert r["est_b"] == est_of(rb)
        assert r["est_union"] == est_of(ru)
        assert r["est_inter"] == max(0, est_of(ra) + est_of(rb) - est_of(ru))
        assert r["n_inter_true"] == len(sets[ga] & sets[gb])
    # Ordering sanity (absolute error at m=64 is ~13% of the union, so
    # pin the ranking, not tight bands): the truly-overlapping pair
    # estimates more shared users than the disjoint pair.
    assert got[("a", "b")]["est_inter"] > got[("a", "c")]["est_inter"]
    # a/c exercises one-sided buckets: c's 50 users cannot cover all 64.
    assert len(regs_of(sets["c"])) < HLL_M


def test_hll_overlap_group_values_may_contain_delimiters(spark):
    """Pair identity survives group names containing '|' (the old
    concat_ws('|')/split pair key corrupted exactly this case: 'a|b'
    paired with 'c' collided with 'a' paired with 'b|c')."""
    from etl_validator_github_spark.scale.sketches import hll_overlap

    sets = {
        "a|b": set(range(0, 300)),
        "a": set(range(0, 300)),          # identical to "a|b"
        "b|c": set(range(1000, 1040)),    # disjoint small set
    }
    rows = [(g, u) for g, us in sets.items() for u in us]
    df = spark.createDataFrame(rows, "grp string, user long")
    got = {(r["grp_a"], r["grp_b"]): r.asDict()
           for r in hll_overlap(df, "grp", "user").collect()}
    assert set(got) == {("a", "a|b"), ("a", "b|c"), ("a|b", "b|c")}
    # identical sets: union estimate == each single estimate, exact
    # intersection = 300; disjoint pairs: exact intersection = 0.
    r = got[("a", "a|b")]
    assert r["n_inter_true"] == 300
    assert r["est_union"] == r["est_a"] == r["est_b"]
    assert got[("a", "b|c")]["n_inter_true"] == 0
    assert got[("a|b", "b|c")]["n_inter_true"] == 0


def test_cms_counts_match_pure_python_and_never_undercount(spark):
    """Count-min invariants on a skewed synthetic stream: counters and
    point estimates match a pure-Python mirror exactly, and every
    estimate is >= the true count (collisions only add)."""
    import hashlib
    from collections import Counter

    from etl_validator_github_spark.scale.sketches import (
        CMS_D,
        CMS_W,
        cms_token_report,
    )

    # Zipf-ish: token t{i} appears 200//(i+1) times.
    stream = [f"t{i}" for i in range(30) for _ in range(200 // (i + 1))]
    docs = spark.createDataFrame(
        [(0, " ".join(stream), "en")],
        "doc_id: long, text: string, lang: string",
    )
    got = {r["tok"]: r.asDict() for r in cms_token_report(docs).collect()}

    true = Counter(stream)
    counters = Counter()
    for tok, n in true.items():
        for i in range(CMS_D):
            h = hashlib.md5(f"cms{i}:{tok}".encode()).hexdigest()
            counters[(i, int(h[:8], 16) % CMS_W)] += n
    top10 = sorted(true.items(), key=lambda kv: (-kv[1], kv[0]))[:10]
    assert set(got) == {t for t, _ in top10}
    for tok, n in top10:
        est = min(
            counters[(i, int(hashlib.md5(f"cms{i}:{tok}".encode())
                             .hexdigest()[:8], 16) % CMS_W)]
            for i in range(CMS_D)
        )
        r = got[tok]
        assert r["n_true"] == n
        assert r["n_est"] == est
        assert r["n_est"] >= r["n_true"]
        assert r["overcount"] == est - n >= 0


def test_quantile_sketch_matches_pure_python_and_brackets_truth(spark):
    """Base-2 DDSketch: bucket walk matches a pure-Python mirror on a
    skewed synthetic distribution, and every reported bucket BRACKETS
    the exact quantile value (the sketch's relative-error contract)."""
    from etl_validator_github_spark.scale.sketches import (
        DD_QUANTILES,
        quantile_sketch,
    )

    # Skewed positives spanning many buckets: v = (i % 97 + 1)^3.
    vals = [(i % 97 + 1) ** 3 for i in range(1000)]
    df = spark.createDataFrame([(v,) for v in vals], "v: long")
    got = {r["quantile_pct"]: r.asDict()
           for r in quantile_sketch(df).collect()}

    hist = {}
    for v in vals:
        hist[v.bit_length() - 1] = hist.get(v.bit_length() - 1, 0) + 1
    n = len(vals)
    s = sorted(vals)
    for q in DD_QUANTILES:
        rank = (q * n + 99) // 100
        cum = 0
        for b in sorted(hist):
            cum += hist[b]
            if cum >= rank:
                break
        r = got[q]
        assert r["bucket"] == b
        assert r["bucket_lo"] == 1 << b
        assert r["bucket_hi"] == (1 << (b + 1)) - 1
        assert r["cum_count"] == cum and r["n_total"] == n
        exact = s[rank - 1]
        assert r["bucket_lo"] <= exact <= r["bucket_hi"]


def test_pq_topk_matches_pure_python_mirror(spark):
    """Full PQ pipeline (seed → one Lloyd step → encode → ADC top-k)
    cross-checked bit-for-bit against a pure-Python mirror on random
    vectors: every float op (BIGINT dot, IEEE sqrt/divide, fixed-order
    4-term sum) is replicated exactly, so scores and ranks must be
    identical, not just close."""
    import math
    import random

    from etl_validator_github_spark.scale import similarity as S

    rng = random.Random(777)
    n, dim = 24, 64
    vecs = [[rng.uniform(-1, 1) for _ in range(dim)] for _ in range(n)]
    df = spark.createDataFrame(
        [(i, v, "x") for i, v in enumerate(vecs)],
        "vec_id: long, embedding: array<float>, label: string",
    )
    got = [
        (r["query_id"], r["rank"], r["neighbor_id"], r["approx_score"])
        for r in S.pq_topk(df).collect()
    ]

    # Pure-Python mirror. float32 round-trip first (array<float> column).
    import struct as st
    q32 = [
        [round(st.unpack("f", st.pack("f", x))[0] * 1e6) for x in v]
        for v in vecs
    ]
    M, SD, K = S.PQ_M, S.PQ_SUBDIM, S.PQ_K
    subs = {(i, m): q32[i][m * SD:(m + 1) * SD]
            for i in range(n) for m in range(M)}

    def dot(a, b):
        return sum(x * y for x, y in zip(a, b))

    def assign(cb):
        # cb: {(m, code): dir}; rank by (proj desc, code asc)
        out = {}
        for (i, m), s in subs.items():
            best = min(
                ((-(dot(s, d) / math.sqrt(dot(d, d))), c)
                 for (mm, c), d in cb.items() if mm == m),
            )
            out[(i, m)] = best[1]
        return out

    seeds = {(m, i): subs[(i, m)] for i in range(K) for m in range(M)}
    a0 = assign(seeds)
    refined = {}
    for (i, m), c in a0.items():
        cur = refined.setdefault((m, c), [0] * SD)
        for d_i, v in enumerate(subs[(i, m)]):
            cur[d_i] += v
    codes = assign(refined)
    expect = []
    for q in range(S.N_QUERIES):
        lut = {
            (m, c): dot(subs[(q, m)], d) / math.sqrt(dot(d, d))
            for (m, c), d in refined.items()
        }
        scored = []
        for v in range(n):
            if v == q:
                continue
            t = ((lut[(0, codes[(v, 0)])] + lut[(1, codes[(v, 1)])])
                 + lut[(2, codes[(v, 2)])]) + lut[(3, codes[(v, 3)])]
            scored.append((-t, v))
        scored.sort()
        for rank, (negt, v) in enumerate(scored[:S.TOP_K], 1):
            expect.append((q, rank, v, -negt))
    assert sorted(got) == sorted(expect)


def test_substring_spans_match_brute_force_random(spark):
    """Randomized cross-check: window hashing, duplicate detection,
    interval-union coverage, and span stripping all agree with a
    brute-force pure-Python mirror on a tiny-alphabet corpus (tiny
    alphabet → plenty of genuine window collisions)."""
    import random

    from etl_validator_github_spark.scale.dedup import (
        strip_duplicated_spans,
        substring_span_stats,
    )

    rng = random.Random(77)
    k = 5
    docs = [
        " ".join(rng.choice("ab") for _ in range(rng.randint(1, 30)))
        for _ in range(40)
    ]

    # Brute force: exact positions covered by globally-duplicated
    # k-windows, straight from the definition (no interval math).
    toks = [d.split(" ") for d in docs]
    wins: dict[tuple, int] = {}
    for t in toks:
        for i in range(len(t) - k + 1):
            wins[tuple(t[i:i + k])] = wins.get(tuple(t[i:i + k]), 0) + 1
    expected = {}
    for doc_id, t in enumerate(toks):
        covered = set()
        n_dup = 0
        for i in range(len(t) - k + 1):
            if wins[tuple(t[i:i + k])] > 1:
                n_dup += 1
                covered.update(range(i, i + k))
        kept = [tok for p, tok in enumerate(t) if p not in covered]
        expected[doc_id] = (len(t), n_dup, len(covered), " ".join(kept))

    sdf = substring_span_stats(_docs(spark, docs), span_tokens=k)
    got = {r.doc_id: r.asDict() for r in sdf.collect()}
    stripped = {r.doc_id: r.asDict()
                for r in strip_duplicated_spans(_docs(spark, docs),
                                                span_tokens=k).collect()}
    for doc_id, (n_tok, n_dup, n_cov, clean) in expected.items():
        g = got[doc_id]
        assert (g["n_tokens"], g["n_dup_windows"], g["covered_tokens"]) == \
            (n_tok, n_dup, n_cov), doc_id
        s = stripped[doc_id]
        assert s["clean_text"] == clean and s["n_removed"] == n_cov, doc_id


def test_probe_span_index_flags_quoted_corpus_content(spark):
    """The incremental probe must flag a batch doc quoting indexed
    corpus content (exact coverage of the quoted run) and pass a fully
    novel doc with zero hits — without ever re-scanning corpus text."""
    from etl_validator_github_spark.scale.dedup import (
        build_span_index,
        probe_span_index,
    )

    corpus = _docs(spark, [
        " ".join(f"c{i}" for i in range(40)),
        " ".join(f"d{i}" for i in range(30)),
    ])
    quoted = " ".join(f"c{i}" for i in range(10, 30))   # 20 corpus tokens
    batch = spark.createDataFrame(
        [(100, f"{quoted} " + " ".join(f"x{i}" for i in range(15)), "en"),
         (101, " ".join(f"z{i}" for i in range(35)), "en")],
        "doc_id: long, text: string, lang: string",
    )
    idx = build_span_index(corpus, span_tokens=5)
    got = {r.doc_id: r.asDict()
           for r in probe_span_index(batch, idx, span_tokens=5).collect()}
    # doc 100: tokens 1-20 are a verbatim corpus run → its 16 five-token
    # windows inside the quote all hit; union covers exactly 20 tokens.
    assert got[100]["n_hit_windows"] == 16
    assert got[100]["covered_tokens"] == 20
    assert got[100]["coverage_milli"] == 1000 * 20 // 35
    assert (got[101]["n_hit_windows"], got[101]["covered_tokens"]) == (0, 0)


def test_strip_duplicated_spans_hand_computed(spark):
    """Span removal cuts exactly the covered positions and preserves
    the order of the remainder; a fully-covered doc strips to ''."""
    from etl_validator_github_spark.scale.dedup import strip_duplicated_spans

    rows = [
        "a b c d e f g h",                    # covered [1-4] → 'e f g h'
        "x y a b c d z w",                    # covered [3-6] → 'x y z w'
        "p q r",                              # no windows → untouched
        "a b c d q q q q q q a b c d",        # covered [1-14] → ''
    ]
    got = {
        r["doc_id"]: r.asDict()
        for r in strip_duplicated_spans(_docs(spark, rows),
                                        span_tokens=4).collect()
    }
    assert got[0]["clean_text"] == "e f g h"
    assert (got[0]["n_kept"], got[0]["n_removed"]) == (4, 4)
    assert got[1]["clean_text"] == "x y z w"
    assert got[2]["clean_text"] == "p q r" and got[2]["n_removed"] == 0
    assert got[3]["clean_text"] == "" and got[3]["n_kept"] == 0


def test_decontaminate_matches_brute_force(spark):
    from etl_validator_github_spark.scale.dedup import (
        DECON_SHINGLE,
        decontaminate,
    )

    bench = "one two three four five six seven"           # doc_id 0 → bench
    hit = "zzz one two three four five six qqq"           # shares 2 shingles
    clean = "totally different words with no overlap at all"
    rows = [bench, hit, clean, "short doc"]
    got = {r["doc_id"]: r for r in decontaminate(_docs(spark, rows)).collect()}

    def shingles(text):
        t = text.split(" ")
        return [
            " ".join(t[i:i + DECON_SHINGLE])
            for i in range(len(t) - DECON_SHINGLE + 1)
        ]

    bench_set = set(shingles(bench))
    exp = {
        i: sum(1 for s in shingles(rows[i]) if s in bench_set)
        for i in (1, 2, 3)
    }
    exp = {i: n for i, n in exp.items() if n}
    assert {i: r["n_overlap_occurrences"] for i, r in got.items()} == exp
    assert got[1]["n_overlap_shingles"] == 2


def test_snapshot_diff_classifies_all_statuses(spark):
    from etl_validator_github_spark.scale.snapshots import snapshot_diff

    old = spark.createDataFrame(
        [(1, "same text"), (2, "will change"), (3, "will be removed")],
        "doc_id: long, text: string",
    )
    new = spark.createDataFrame(
        [(1, "same text"), (2, "changed text"), (4, "brand new doc")],
        "doc_id: long, text: string",
    )
    got = {r.doc_id: r.status for r in snapshot_diff(old, new).collect()}
    # Unchanged doc 1 is dropped; every other class is reported.
    assert got == {2: "changed", 3: "removed", 4: "added"}


def test_split_assign_deterministic_and_complete(spark):
    from etl_validator_github_spark.scale.snapshots import assign_splits

    rows = [(i, f"tok{i} tok{i+1} tok{i+2}", "en", f"src{i % 3}")
            for i in range(200)]
    df = spark.createDataFrame(
        rows, "doc_id: long, text: string, lang: string, source: string"
    )
    out1 = sorted(map(tuple, assign_splits(df).collect()))
    out2 = sorted(map(tuple, assign_splits(df).collect()))
    assert out1 == out2                      # rerun-identical
    totals = {}
    for lang, source, split, n_docs, n_tokens in out1:
        totals[split] = totals.get(split, 0) + n_docs
        assert n_tokens == n_docs * 3        # 3 tokens per fixture doc
    assert sum(totals.values()) == 200       # every doc assigned once
    # ~90/5/5 split: train dominates, both holdouts non-empty.
    assert totals["train"] > totals.get("val", 0) + totals.get("test", 0)
    assert totals.get("val", 0) > 0 and totals.get("test", 0) > 0


def test_normalize_collapses_case_and_punct_variants(spark):
    """The property normalization exists for: casing/punctuation
    variants of the same document collapse to ONE canonical hash."""
    from etl_validator_github_spark.scale.text import normalize_docs

    docs = spark.createDataFrame(
        [
            (0, "Hello, World!  This is   FINE."),
            (1, "hello world this is fine"),
            (2, "a different document entirely"),
        ],
        "doc_id: long, text: string",
    )
    got = {r.doc_id: r for r in normalize_docs(docs).collect()}
    assert got[0].norm_hash == got[1].norm_hash   # variants collapse
    assert got[0].changed == 1 and got[1].changed == 0
    assert got[0].n_tokens_norm == 5
    assert got[2].norm_hash != got[0].norm_hash


def test_quantize_int8_exact_math(spark):
    """Hand-computed check: floor coding + reconstruction on the micros
    grid, with a constant dimension (range 0) coding to q=0, err=0."""
    rows = [
        (0, [0.0, 1.0, 0.5]),
        (1, [1.0, 1.0, 0.75]),
    ]
    df = spark.createDataFrame(rows, "vec_id: long, embedding: array<float>")
    got = {r.dim: r for r in similarity.quantize_int8_report(df).collect()}
    # dim 1: x in {0, 1_000_000}; endpoints restore exactly.
    assert (got[1].min_us, got[1].max_us) == (0, 1_000_000)
    assert got[1].max_abs_err_us == 0
    # dim 2: constant → range 0 → q=0 → zero error.
    assert got[2].max_abs_err_us == 0 and got[2].sum_abs_err_us == 0
    # dim 3: x in {500000, 750000}; endpoints of the range also restore
    # exactly (q=0 and q=254 are always error-free).
    assert got[3].max_abs_err_us == 0
    # A midpoint that does NOT sit on the 254-level grid has the exact
    # floor error: range [0, 1e6], x=333333 -> q = 84, restored =
    # 84 * 1e6 // 254 = 330708, err = 2625.
    df2 = spark.createDataFrame(
        [(0, [0.0]), (1, [1.0]), (2, [0.333333])],
        "vec_id: long, embedding: array<float>",
    )
    row = similarity.quantize_int8_report(df2).collect()[0]
    assert row.max_abs_err_us == 2625
    assert row.n_vals == 3


def test_bloom_decontaminate_matches_pure_python(spark):
    """Registers and probe verdicts vs a from-scratch Python Bloom —
    an engine-symmetric hashing bug would slip parity, not this."""
    from etl_validator_github_spark.scale import sketches
    from etl_validator_github_spark.scale.dedup import DECON_SHINGLE

    bench = "one two three four five six seven"            # doc 0 → bench
    hit = "zzz one two three four five six qqq"            # shares 2 shingles
    clean = "alpha beta gamma delta epsilon zeta eta theta"
    rows = [bench, hit, clean, "short doc"]                # doc 2 → bench
    got = {
        r["doc_id"]: r
        for r in sketches.bloom_decontaminate(
            _docs(spark, rows), bench_mod=2
        ).collect()
    }

    def pos(j, s):
        h = hashlib.md5(f"{j}:{s}".encode()).hexdigest()[:8]
        return int(h, 16) % sketches.BLOOM_BITS

    def shingles(t):
        tk = t.split(" ")
        return {
            " ".join(tk[i:i + DECON_SHINGLE])
            for i in range(len(tk) - DECON_SHINGLE + 1)
        }

    bits = {
        pos(j, s)
        for d in (0, 2)
        for s in shingles(rows[d])
        for j in range(sketches.BLOOM_K)
    }
    exp = {}
    for d in (1, 3):
        sh = shingles(rows[d])
        if not sh:
            continue  # <5 tokens → no shingles → absent on both sides
        hits = sum(
            1 for s in sh
            if all(pos(j, s) in bits for j in range(sketches.BLOOM_K))
        )
        exp[d] = (len(sh), hits, 1 if hits else 0)
    assert {
        d: (r["n_shingles"], r["n_bloom_hits"], r["flagged"])
        for d, r in got.items()
    } == exp
    assert got[1]["n_bloom_hits"] >= 2  # true overlaps can never miss


def test_bloom_hash_path_equals_string_path(spark, sf_dir):
    """The map-side window-hash formulation (what bloom_decontaminate
    runs) must reproduce the exploded string-shingle formulation
    (bloom_build/bloom_probe, still used by the streaming gate) row for
    row on the fixture — same registers, same FP set, same counts."""
    from etl_validator_github_spark.contract import load
    from etl_validator_github_spark.scale import sketches
    from etl_validator_github_spark.scale.dedup import (
        DECON_BENCH_MOD, _doc_shingles,
    )

    docs = load(spark, sf_dir, "documents")
    sh = _doc_shingles(docs)
    bench = (sh.filter(F.col("doc_id") % DECON_BENCH_MOD == 0)
             .select("shingle").distinct())
    corpus = (sh.filter(F.col("doc_id") % DECON_BENCH_MOD != 0)
              .select("doc_id", "shingle").distinct())
    via_strings = {
        r["doc_id"]: (r["n_shingles"], r["n_bloom_hits"], r["flagged"])
        for r in sketches.bloom_probe(
            corpus, sketches.bloom_build(bench)).collect()
    }
    via_hashes = {
        r["doc_id"]: (r["n_shingles"], r["n_bloom_hits"], r["flagged"])
        for r in sketches.bloom_decontaminate(docs).collect()
    }
    assert via_hashes == via_strings
    # and the register rows themselves are bit-identical
    wp = sketches._window_positions(docs, 5)
    w1 = sketches.bloom_build(bench).collect()[0]["words"]
    w2 = sketches.bloom_build_from_positions(
        wp.filter(F.col("doc_id") % DECON_BENCH_MOD == 0)
    ).collect()[0]["words"]
    assert w1 == w2


def test_bloom_no_false_negatives_and_not_saturated(spark):
    """Per fixture doc: bloom hits ≥ exact overlap count (Bloom admits
    no false negatives), and the 64 Kbit sizing keeps flagged docs a
    small minority rather than saturating to everyone."""
    from conftest import SF_DIR

    from etl_validator_github_spark.queries import CATALOG

    bloom = {
        r["doc_id"]: r
        for r in CATALOG["docs_bloom_decontaminate"]
        .build(spark, SF_DIR).collect()
    }
    exact = {
        r["doc_id"]: r["n_overlap_shingles"]
        for r in CATALOG["decontaminate"].build(spark, SF_DIR).collect()
    }
    assert exact, "fixture must contain true contamination"
    assert all(bloom[d]["n_bloom_hits"] >= n for d, n in exact.items())
    flagged = sum(r["flagged"] for r in bloom.values())
    assert 0 < flagged < len(bloom) // 10


def test_wav_encode_hand_computed_bytes():
    # 3 samples at 8 kHz: header fields byte-for-byte per the RIFF spec.
    payload = multimodal.encode_wav(8000, [0, 1000, -1000])
    assert payload[:4] == b"RIFF"
    assert payload[8:12] == b"WAVE"
    assert payload[12:16] == b"fmt "
    assert payload[16:20] == (16).to_bytes(4, "little")
    # PCM(1), mono(1), 8000 Hz, 16000 B/s, block 2, 16-bit.
    import struct
    assert struct.unpack_from("<HHIIHH", payload, 20) == (
        1, 1, 8000, 16000, 2, 16)
    assert payload[36:40] == b"data"
    assert payload[40:44] == (6).to_bytes(4, "little")
    assert payload[44:] == b"\x00\x00\xe8\x03\x18\xfc"  # 0, 1000, -1000 LE
    assert multimodal.decode_wav(payload) == (8000, 1, [0, 1000, -1000])


def test_wav_decoder_rejects_malformed():
    ok = multimodal.encode_wav(8000, [1, -2, 3, -4])
    with pytest.raises(ValueError, match="not a RIFF"):
        multimodal.decode_wav(b"RIFX" + ok[4:])
    with pytest.raises(ValueError, match="RIFF size"):
        multimodal.decode_wav(ok[:-2])            # truncated data
    with pytest.raises(ValueError, match="RIFF size"):
        multimodal.decode_wav(ok + b"\x00")       # trailing garbage
    with pytest.raises(ValueError, match="truncated chunk|truncated"):
        bad = bytearray(ok)
        bad[40] = 0xFF                            # data size beyond payload
        import struct
        struct.pack_into("<I", bad, 4, len(bad) - 8)  # keep RIFF size valid
        multimodal.decode_wav(bytes(bad))
    with pytest.raises(NotImplementedError, match="PCM16"):
        import struct
        mulaw = bytearray(ok)
        struct.pack_into("<H", mulaw, 20, 7)      # format 7 = mu-law
        multimodal.decode_wav(bytes(mulaw))
    with pytest.raises(NotImplementedError, match="no codec"):
        multimodal.decode_audio(b"\xff\xf1AAC?")  # ADTS magic → declared gap


def test_wav_roundtrip_property():
    """encode→decode is the identity for any int16 sample vector and
    rate, including odd lengths (word-aligned chunk padding)."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    @settings(max_examples=60, deadline=None)
    @given(
        rate=st.sampled_from([8000, 16000, 44100]),
        samples=st.lists(st.integers(-32768, 32767), min_size=1,
                         max_size=64),
    )
    def roundtrip(rate, samples):
        got = multimodal.decode_wav(multimodal.encode_wav(rate, samples))
        assert got == (rate, 1, samples)

    roundtrip()


def test_audio_stats_hand_computed(spark):
    """audio_stats over a hand-built WAV: exact |x| sum, energy, peak."""
    payload = multimodal.encode_wav(8000, [0, 1000, -1000, 2047, -2048])
    df = spark.createDataFrame([(7, bytearray(payload))],
                               multimodal.PAYLOAD_SCHEMA)
    row = multimodal.audio_stats(df).collect()[0]
    assert (row.doc_id, row.n_samples, row.sample_rate) == (7, 5, 8000)
    assert row.peak_abs == 2048
    assert row.sum_abs == 0 + 1000 + 1000 + 2047 + 2048
    assert row.energy == 1000**2 + 1000**2 + 2047**2 + 2048**2
    assert row.mean_abs_milli == (1000 * row.sum_abs) // 5
    # Decimation keeps samples 0 and 8 → indexes 0 only here (n=5<8+1):
    drow = multimodal.audio_downsample_stats(df).collect()[0]
    assert (drow.n_samples, drow.sample_rate, drow.sum_abs) == (1, 1000, 0)


def test_audio_vad_hand_computed(spark):
    """Gaps-and-islands over a constructed loud/quiet pattern: frames
    [loud, loud, quiet, loud, partial-quiet] → 3 voiced, longest run 2,
    and a silent doc exercises the zero-voiced left-join path."""
    loud, quiet = [2047] * multimodal.VAD_FRAME, [0] * multimodal.VAD_FRAME
    samples = loud + loud + quiet + loud + [2047] * 8   # partial < thresh
    wav = multimodal.encode_wav(8000, samples)
    silent = multimodal.encode_wav(8000, [0] * 40)
    df = spark.createDataFrame(
        [(1, bytearray(wav)), (2, bytearray(silent))],
        multimodal.PAYLOAD_SCHEMA,
    )
    got = {r.doc_id: r for r in multimodal.audio_vad_segments(df).collect()}
    assert (got[1].n_frames, got[1].n_voiced, got[1].longest_run) == (5, 3, 2)
    assert got[1].voiced_energy == 3 * 32 * 2047 * 2047
    assert (got[2].n_frames, got[2].n_voiced,
            got[2].longest_run, got[2].voiced_energy) == (2, 0, 0, 0)


def test_sign_pack_matches_pure_python_including_bit63(spark):
    """The packed sign word vs a from-scratch Python pack — including
    dimension 64 (bit 63, the MIN_BIGINT wrap both engines spell
    differently) and the >= 0 boundary at exactly zero."""
    import numpy as np

    vals = [0.5 if i % 3 == 0 else -0.25 for i in range(64)]
    vals[63] = 1.0          # force bit 63 set
    vals[1] = 0.0           # zero → micros 0 → >= 0 → bit set
    df = spark.createDataFrame(
        [(0, vals), (1, [-1.0] * 64)],
        "vec_id: long, embedding: array<float>",
    )
    got = {r.vec_id: r.sig for r in similarity.sign_pack(df).collect()}

    def py_pack(v):
        sig = 0
        for d, x in enumerate(v):
            if round(x * 1_000_000) >= 0:
                sig |= 1 << d
        return sig - (1 << 64) if sig >= (1 << 63) else sig

    assert got[0] == py_pack(vals)
    assert got[0] < 0                      # bit 63 landed in the sign
    assert got[1] == py_pack([-1.0] * 64) == 0
    # Hamming between the two = popcount of vec 0's word.
    ham = {r.neighbor_id: r.hamming
           for r in similarity.hamming_topk(df, n_queries=1, k=5).collect()}
    assert ham[1] == bin(got[0] & ((1 << 64) - 1)).count("1")


def test_exact_k_sample_deterministic_and_bounded(spark):
    """Exactly-k sampling: ranks follow the shared md5 order, a
    stratum smaller than k yields all its docs, and the draw is
    identical under a different partitioning."""
    from etl_validator_github_spark.scale.text import hash_sample_exact_k

    rows = [(i, f"text {i}", "en", "web") for i in range(40)]
    rows += [(100, "a", "fr", "web"), (101, "b", "fr", "web")]  # < k
    df = spark.createDataFrame(
        rows, "doc_id: long, text: string, lang: string, source: string"
    )
    got = hash_sample_exact_k(df, k=3).collect()
    by_stratum: dict = {}
    for r in got:
        by_stratum.setdefault((r.lang, r.source), []).append(
            (r.sample_rank, r.doc_id))
    assert len(by_stratum[("en", "web")]) == 3
    assert sorted(r for r, _ in by_stratum[("fr", "web")]) == [1, 2]

    def h(doc_id):
        return int(hashlib.md5(str(doc_id).encode()).hexdigest()[:8], 16)

    exp_en = sorted((h(i), i) for i in range(40))[:3]
    assert [d for _, d in sorted(by_stratum[("en", "web")])] == [
        d for _, d in exp_en]
    again = hash_sample_exact_k(df.repartition(7), k=3).collect()
    assert sorted(map(tuple, again)) == sorted(map(tuple, got))


def test_bloom_fuzz_matches_pure_python(spark):
    """Property fuzz: random small vocabularies force hash collisions
    and shared shingles across the bench/corpus split; Spark's verdict
    tuple must equal the from-scratch Python Bloom on every draw."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from etl_validator_github_spark.scale import sketches
    from etl_validator_github_spark.scale.dedup import DECON_SHINGLE

    def pos(j, s):
        h = hashlib.md5(f"{j}:{s}".encode()).hexdigest()[:8]
        return int(h, 16) % sketches.BLOOM_BITS

    def shingles(t):
        tk = t.split(" ")
        return {
            " ".join(tk[i:i + DECON_SHINGLE])
            for i in range(len(tk) - DECON_SHINGLE + 1)
        }

    word = st.sampled_from([f"w{i}" for i in range(8)])
    doc = st.lists(word, min_size=0, max_size=12).map(" ".join)

    @settings(max_examples=12, deadline=None)
    @given(texts=st.lists(doc, min_size=2, max_size=6))
    def run(texts):
        got = {
            r["doc_id"]: (r["n_shingles"], r["n_bloom_hits"], r["flagged"])
            for r in sketches.bloom_decontaminate(
                _docs(spark, texts), bench_mod=2
            ).collect()
        }
        bits = {
            pos(j, s)
            for d in range(0, len(texts), 2)
            for s in shingles(texts[d])
            for j in range(sketches.BLOOM_K)
        }
        exp = {}
        for d in range(1, len(texts), 2):
            sh = shingles(texts[d])
            if not sh:
                continue
            hits = sum(
                1 for s in sh
                if all(pos(j, s) in bits for j in range(sketches.BLOOM_K))
            )
            exp[d] = (len(sh), hits, 1 if hits else 0)
        assert got == exp

    run()


def test_prefix_filter_join_matches_brute_force_random(spark):
    """Property fuzz: the prefix-filtered join equals all-pairs
    Jaccard-threshold brute force on random corpora — losslessness
    exercised across prefix lengths, tie orders, and empty results."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from etl_validator_github_spark.scale.dedup import (
        PREFIX_T_PCT,
        prefix_filter_pairs,
    )

    word = st.sampled_from([f"w{i}" for i in range(6)])
    doc = st.lists(word, min_size=0, max_size=10).map(" ".join)

    def sh(t):
        tk = t.split(" ")
        return {" ".join(tk[i:i + 3]) for i in range(len(tk) - 2)}

    @settings(max_examples=10, deadline=None)
    @given(texts=st.lists(doc, min_size=2, max_size=6))
    def run(texts):
        got = {
            (r.d1, r.d2): (r.n_shared, r.n_union, r.jaccard_milli)
            for r in prefix_filter_pairs(_docs(spark, texts)).collect()
        }
        exp = {}
        sets = {i: sh(t) for i, t in enumerate(texts)}
        for a in range(len(texts)):
            for b in range(a + 1, len(texts)):
                i = len(sets[a] & sets[b])
                u = len(sets[a] | sets[b])
                if u and 100 * i >= PREFIX_T_PCT * u:
                    exp[(a, b)] = (i, u, (1000 * i) // u)
        assert got == exp

    run()


def test_prefix_filter_join_expands_exact_duplicate_groups(spark):
    """A text repeated c times must yield all C(c,2) intra-group pairs
    (Jaccard exactly 1000) plus the near-dup pair expanded across every
    copy — the exact-duplicate collapse is invisible in the output.
    Identical texts SHORTER than the shingle size have no Jaccard and
    must yield nothing, same as the brute-force oracle."""
    from etl_validator_github_spark.scale.dedup import (
        PREFIX_T_PCT,
        prefix_filter_pairs,
    )

    base = "p q r s t u v w"
    texts = [base, base, base, base,          # ids 0-3: one group of 4
             base + " x",                     # id 4: near-dup of the group
             "completely different words entirely here",   # id 5
             "a b", "a b"]                    # ids 6-7: identical, <3 toks
    got = {
        (r.d1, r.d2): (r.n_shared, r.n_union, r.jaccard_milli)
        for r in prefix_filter_pairs(_docs(spark, texts)).collect()
    }

    def sh(t):
        tk = t.split(" ")
        return {" ".join(tk[i:i + 3]) for i in range(len(tk) - 2)}

    exp = {}
    sets = {i: sh(t) for i, t in enumerate(texts)}
    for a in range(len(texts)):
        for b in range(a + 1, len(texts)):
            i = len(sets[a] & sets[b])
            u = len(sets[a] | sets[b])
            if u and 100 * i >= PREFIX_T_PCT * u:
                exp[(a, b)] = (i, u, (1000 * i) // u)
    assert got == exp
    # shape spot-checks, independent of the brute force above
    intra = {p for p, v in got.items() if v[2] == 1000}
    assert {(a, b) for a in range(4) for b in range(a + 1, 4)} <= intra
    assert all((a, 4) in got for a in range(4))   # near-dup × every copy
    assert not any(6 in p or 7 in p for p in got) # short dups: no pairs


def test_prefix_filter_join_parameterized_shingle_size(spark):
    """shingle_tokens=5 (the 1M-doc measurement configuration) equals
    brute-force 5-gram Jaccard on a hand corpus — the scale knob
    doesn't change losslessness."""
    from etl_validator_github_spark.scale.dedup import (
        PREFIX_T_PCT,
        prefix_filter_pairs,
    )

    base = " ".join(f"t{i}" for i in range(12))
    near = base + " extra"                       # high 5-gram overlap
    texts = [base, near, "a b c d e f g h", "a b c d"]  # last: <5 tokens
    got = {
        (r.d1, r.d2): (r.n_shared, r.n_union, r.jaccard_milli)
        for r in prefix_filter_pairs(
            _docs(spark, texts), shingle_tokens=5).collect()
    }

    def sh5(t):
        tk = t.split(" ")
        return {" ".join(tk[i:i + 5]) for i in range(len(tk) - 4)}

    exp = {}
    sets = {i: sh5(t) for i, t in enumerate(texts)}
    for a in range(len(texts)):
        for b in range(a + 1, len(texts)):
            i = len(sets[a] & sets[b])
            u = len(sets[a] | sets[b])
            if u and 100 * i >= PREFIX_T_PCT * u:
                exp[(a, b)] = (i, u, (1000 * i) // u)
    assert got == exp
    assert (0, 1) in got                          # the near-dup pair found


def test_perplexity_buckets_match_pure_python_cutoffs(spark):
    """Bucket labels mirror the histogram-cutoff rule computed in
    pure Python from the (already mirror-tested) bigram LM scores."""
    from etl_validator_github_spark.scale.text import (
        bigram_lm_score, perplexity_buckets,
    )

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    scores = {
        r.doc_id: r.nll_bits_milli
        for r in bigram_lm_score(docs).collect()
    }
    langs = {r.doc_id: r.lang
             for r in docs.select("doc_id", "lang").collect()}

    # Pure-Python mirror: per lang, p1 = smallest s with 3*cum >= tot,
    # p2 = smallest s with 3*cum >= 2*tot; ties land low.
    exp = {}
    by_lang = {}
    for d, s in scores.items():
        by_lang.setdefault(langs[d], []).append(s)
    cuts = {}
    for lang, ss in by_lang.items():
        ss.sort()
        tot = len(ss)
        p1 = next(s for i, s in enumerate(ss) if 3 * (i + 1) >= tot)
        p2 = next(s for i, s in enumerate(ss) if 3 * (i + 1) >= 2 * tot)
        cuts[lang] = (p1, p2)
    for d, s in scores.items():
        p1, p2 = cuts[langs[d]]
        exp[d] = "head" if s <= p1 else ("middle" if s <= p2 else "tail")

    got = {r.doc_id: r.ppl_bucket
           for r in perplexity_buckets(docs).collect()}
    assert got == exp
    # All three buckets populated for every language (non-degenerate
    # fixture: score distributions are tie-light).
    for lang in by_lang:
        seen = {got[d] for d in got if langs[d] == lang}
        assert seen == {"head", "middle", "tail"}, (lang, seen)


def test_rrf_fusion_hand_math_both_and_single_branch(spark):
    """RRF fusion on hand data: a doc in BOTH lists outranks every
    single-list doc, contributions are the exact integer
    1000000 div (60 + rank), and absent-branch ranks stay NULL."""
    from etl_validator_github_spark.scale.retrieval import rrf_fuse

    lex = spark.createDataFrame(
        [(1, 100, 1), (1, 200, 2), (1, 300, 3)],
        "query_id int, doc_id long, rnk int",
    )
    dense = spark.createDataFrame(
        [(1, 200, 1), (1, 400, 2)],
        "query_id int, doc_id long, rnk int",
    )
    rows = {r["doc_id"]: r for r in rrf_fuse(lex, dense).collect()}
    # doc 200: lex rank 2 + dense rank 1 → 1000000//62 + 1000000//61
    assert rows[200]["rrf_micro"] == 1000000 // 62 + 1000000 // 61
    assert rows[200]["n_lists"] == 2
    assert rows[200]["fused_rnk"] == 1  # fusion beats either single list
    # doc 100: lex-only, rank 1
    assert rows[100]["rrf_micro"] == 1000000 // 61
    assert rows[100]["lex_rnk"] == 1 and rows[100]["dense_rnk"] is None
    # doc 400: dense-only, rank 2
    assert rows[400]["rrf_micro"] == 1000000 // 62
    assert rows[400]["dense_rnk"] == 2 and rows[400]["lex_rnk"] is None
    # tie between doc 100 (1000000//61) and any equal score broken by id:
    # full ordering is 200, 100, then 300/400 tie on nothing — check order
    order = sorted(rows.values(), key=lambda r: r["fused_rnk"])
    assert [r["doc_id"] for r in order][:2] == [200, 100]


def test_fuzzy_blocking_precondition_holds_on_fixture(spark, sf_dir):
    """The bigram block is lossless for edit distance ≤ 2 only when
    every name has length ≥ 6 (one edit destroys ≤ 2 bigrams). Assert
    the precondition on the fixture — if testdata ever ships shorter
    names, this fails before the oracle-parity mismatch would."""
    from etl_validator_github_spark.contract import load

    part = load(spark, sf_dir, "part")
    assert part.selectExpr("min(length(p_name)) m").first()["m"] >= 6


def test_udtf_chunker_matches_expression_chunker(spark, sf_dir):
    """The Python UDTF (functions/udtfs.py, lateral row→rows expansion)
    must produce byte-identical chunks to the expression-based
    chunk_documents — pinning that the hot-path expression form loses
    nothing, and that the UDTF/LATERAL surface works end-to-end."""
    from etl_validator_github_spark.contract import load
    from etl_validator_github_spark.functions.udtfs import register_udtfs
    from etl_validator_github_spark.scale.text import (
        CHUNK_TOKENS,
        chunk_documents,
    )

    register_udtfs(spark)
    docs = load(spark, sf_dir, "documents")
    docs.createOrReplaceTempView("__udtf_docs")
    via_udtf = spark.sql(f"""
        SELECT d.doc_id, d.lang, c.chunk_idx, c.chunk_tokens, c.chunk_hash
        FROM __udtf_docs d, LATERAL chunk_document(d.text, {CHUNK_TOKENS}) c
    """)
    via_expr = chunk_documents(docs)
    a = sorted(map(tuple, via_udtf.collect()))
    b = sorted(map(tuple, via_expr.collect()))
    assert a == b and len(a) > 0


def test_cusum_hand_computed_changepoint(spark, tmp_path):
    """CUSUM on a hand-built series with a known level shift: y =
    [10,10,10,30,30] shifts after bucket 3 → |CUSUM| peaks at the last
    low bucket (hour 2), scaled stat = n·Σ≤k − k·S = 5·30 − 3·90 =
    −120."""
    import pyspark.sql.functions as F

    from etl_validator_github_spark.queries import CATALOG
    from etl_validator_github_spark.queries.relational import _events_cusum

    # Build a tiny events parquet with one type and the target hourly
    # counts, then run the catalog query against it.
    rows = []
    eid = 0
    for hour, n in enumerate([10, 10, 10, 30, 30]):
        for _ in range(n):
            rows.append((eid, hour * 3_600_000_000, 7, "click", 1.0,
                         '{"k": 1}'))
            eid += 1
    import pandas as pd
    pdf = pd.DataFrame(rows, columns=[
        "event_id", "ts", "user_id", "event_type", "value", "props"])
    pdf["ts"] = pd.to_datetime(pdf["ts"], unit="us")
    sf = str(tmp_path)
    spark.createDataFrame(pdf).write.parquet(f"{sf}/events.parquet")

    out = _events_cusum(spark, sf).collect()
    assert len(out) == 1
    r = out[0]
    assert r["n_buckets"] == 5
    assert r["change_hour"] == 2
    assert r["cusum_scaled"] == -120 and r["abs_cusum"] == 120


@pytest.mark.parametrize("name", [
    "retrieval_rrf_fusion", "text_ngram_novelty", "brand_supplier_hhi",
    "events_cusum_changepoint", "corpus_curation_pipeline",
    "customers_abc_classes",
    # r9 additions
    "docs_split_leakage", "customers_revenue_gini", "events_mad_outliers",
    "events_seasonal_naive", "orders_backlog_timeline",
    "part_metrics_unpivot", "corpus_vocab_coverage",
    "lineitem_grouping_sets", "customers_percentile_ranks",
    "customers_order_streaks", "retrieval_bm25_recall",
    "dedup_semantic_threshold_sweep", "text_doc_keywords",
    "multimodal_audio_zcr", "events_user_deciles",
    "part_price_size_skyline",
    "orders_fulfillment_latency", "events_hourly_autocorr",
    "lineitem_returnflag_anova", "text_quality_classifier",
    "embed_split_leakage", "docs_epoch_shuffle", "customers_churn_hazard",
])
def test_results_partition_independent(spark, sf_dir, name):
    """The contract.py claim, spot-pinned on this round's queries:
    results are identical under different shuffle-partition counts
    (integer-quantized aggregation + tie-broken ranking make the plan
    repartitionable at will — the property that lets a 100 TB run pick
    its parallelism freely)."""
    from etl_validator_github_spark.queries import CATALOG

    # None-safe total order: subtotal rows (GROUPING SETS) carry NULLs.
    def rows(df):
        return sorted(
            (tuple((v is None, repr(v)) for v in r) for r in df.collect()),
        )

    prev = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        spark.conf.set("spark.sql.shuffle.partitions", "3")
        a = rows(CATALOG[name].build(spark, sf_dir))
        spark.conf.set("spark.sql.shuffle.partitions", "17")
        b = rows(CATALOG[name].build(spark, sf_dir))
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
    assert a == b and len(a) > 0


def test_quality_classifier_learns_stopword_signal(spark):
    """On a constructed corpus where label-0 docs are stopword soup and
    label-1 docs are content words, the learned token weights must
    separate the two vocabularies and the scored predictions must
    recover the labels (the mechanism the synthetic-testdata parity
    query can only exercise near the decision boundary)."""
    from etl_validator_github_spark.scale.text import (
        labeled_docs,
        quality_classifier_score,
        quality_classifier_weights,
    )

    content = "alpha beta gamma delta " * 10          # 40 tokens, 4 words
    soup = "the of and to in a the of and to " * 4    # 40 tokens, stopwords
    rows = [(i, content.strip(), "en", "s", 1) for i in range(20)] + [
        (i + 20, soup.strip(), "en", "s", 1) for i in range(20)
    ]
    docs = spark.createDataFrame(
        rows, "doc_id: long, text: string, lang: string, source: string,"
        " n_chars: long",
    )
    lab = labeled_docs(docs)
    # Teacher labels: content docs pass the stopword-ratio gate,
    # soup docs fail it (ratio 1.0 >= 0.5); both pass the length band.
    got = {r["doc_id"]: r["label"] for r in lab.select("doc_id", "label").collect()}
    assert all(got[i] == 1 for i in range(20))
    assert all(got[i + 20] == 0 for i in range(20))

    weights = quality_classifier_weights(lab)
    w = {r["token"]: r["w_micro"] for r in weights.collect()}
    assert min(w[t] for t in ("alpha", "beta", "gamma", "delta")) > 900_000
    assert max(w[t] for t in ("the", "of", "and", "to", "in", "a")) < 100_000

    prior = lab.select(F.explode("__toks").alias("t"), "label").agg(
        F.expr("(1000000 * sum(label)) div count(1)")
        .cast("long").alias("prior_micro")
    )
    scored = quality_classifier_score(lab, weights, prior)
    pred = {
        r["doc_id"]: int(r["score_micro"] >= r["prior_micro"])
        for r in scored.collect()
    }
    assert all(pred[i] == 1 for i in range(20))
    assert all(pred[i + 20] == 0 for i in range(20))


def test_ivf_index_persist_append_search_matches_in_memory(spark, tmp_path):
    """The persisted-index path must return exactly the in-memory
    ivf_topk rows: persist(base) + append(delta) == ivf_topk(base ∪
    delta) when the centroids are built from the same source, since a
    vector's cell is a pure function of itself and the frozen centroid
    table."""
    from etl_validator_github_spark.scale.similarity import (
        append_ivf_index,
        ivf_topk,
        ivf_topk_from_index,
        persist_ivf_index,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    base = emb.filter(F.col("vec_id") % 7 != 0)
    delta = emb.filter(F.col("vec_id") % 7 == 0)
    idx = str(tmp_path / "ivf_index")
    persist_ivf_index(base, emb, idx)
    append_ivf_index(delta, idx)

    got = sorted(map(tuple, ivf_topk_from_index(spark, idx).collect()))
    want = sorted(map(tuple, ivf_topk(emb).collect()))
    assert got == want and len(got) > 0


def test_append_ivf_index_retry_is_idempotent(spark, tmp_path):
    """A RETRIED append whose prior write committed must not duplicate
    rows (ADVICE r10): with a stable delta_id the retry overwrites the
    same delta subdirectory, so the batch-only serve path — which folds
    nothing by design — still sees exactly one row per vector."""
    from etl_validator_github_spark.scale.similarity import (
        append_ivf_index,
        ivf_topk,
        ivf_topk_from_index,
        persist_ivf_index,
        read_ivf_index_assignment,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    base = emb.filter(F.col("vec_id") % 7 != 0)
    delta = emb.filter(F.col("vec_id") % 7 == 0)
    idx = str(tmp_path / "retry_index")
    persist_ivf_index(base, emb, idx)
    append_ivf_index(delta, idx, delta_id="ingest-0001")
    append_ivf_index(delta, idx, delta_id="ingest-0001")  # the retry

    assign = read_ivf_index_assignment(spark, idx)
    n, d = assign.count(), assign.select("vec_id").distinct().count()
    assert n == d == emb.count()
    got = sorted(map(tuple, ivf_topk_from_index(spark, idx).collect()))
    want = sorted(map(tuple, ivf_topk(emb).collect()))
    assert got == want and len(got) > 0


def test_ivf_topk_for_queries_matches_standing_batch(spark, tmp_path):
    """The external-query serve API fed the index's own first vectors
    must return exactly what the standing-batch path returns — same
    assignment, same probe kernel, same tie-break — with either
    assignment path (``np_assign``)."""
    from etl_validator_github_spark.scale.similarity import (
        N_QUERIES,
        ivf_topk_for_queries,
        ivf_topk_from_index,
        persist_ivf_index,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    idx = str(tmp_path / "extq_index")
    persist_ivf_index(emb, emb, idx)
    queries = emb.filter(F.col("vec_id") < N_QUERIES).select(
        "vec_id", "embedding"
    )
    want = sorted(map(tuple, ivf_topk_from_index(spark, idx).collect()))
    got = sorted(map(tuple, ivf_topk_for_queries(
        spark, idx, queries).collect()))
    got_np = sorted(map(tuple, ivf_topk_for_queries(
        spark, idx, queries, np_assign=True).collect()))
    assert got == want and got_np == want and len(got) > 0


def test_ivf_topk_for_queries_disjoint_ids_probe_whole_index(spark,
                                                             tmp_path):
    """External queries with ids DISJOINT from the index (the real
    serving shape) get k neighbors each, and a query identical to an
    index vector finds that vector at rank 1 with cos 1.0."""
    from etl_validator_github_spark.scale.similarity import (
        TOP_K,
        ivf_topk_for_queries,
        persist_ivf_index,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    idx = str(tmp_path / "disj_index")
    persist_ivf_index(emb, emb, idx)
    queries = emb.filter(F.col("vec_id") < 20).select(
        (F.col("vec_id") + 10_000_000).alias("vec_id"), "embedding"
    )
    got = ivf_topk_for_queries(spark, idx, queries).collect()
    by_q = {}
    for r in got:
        by_q.setdefault(r["query_id"], []).append(r)
    assert set(by_q) == {i + 10_000_000 for i in range(20)}
    for qid, rows in by_q.items():
        assert len(rows) == TOP_K
        best = min(rows, key=lambda r: r["rank"])
        assert best["neighbor_id"] == qid - 10_000_000
        # dot/(sqrt(n)*sqrt(n)): the dot is exact but sqrt(n)² isn't.
        assert abs(best["cos_sim"] - 1.0) < 1e-12


def test_bmp_roundtrip_and_format_agnostic_consumers(spark):
    """BMP joins the native-decode family (r11 verdict item 4):
    encode→decode is the identity back to top-down RGB (bottom-up
    storage, stride padding), decode_image dispatches on the magic,
    and the SAME pixels flow through the stats consumer identically
    whether they arrive as PPM or BMP."""
    import struct

    # 3 wide x 1 tall and 1 wide x 3 tall hit different stride pads.
    for w, h in [(3, 1), (1, 3), (2, 2), (5, 3)]:
        px = bytes((17 * i + 3) % 256 for i in range(w * h * 3))
        payload = multimodal.encode_bmp(w, h, px)
        assert payload[:2] == b"BM"
        assert multimodal.decode_bmp(payload) == (w, h, 3, px)
        assert multimodal.decode_image(payload) == (w, h, 3, px)

    # Top-down variant (negative height): same logical raster.
    w, h = 2, 2
    px = bytes(range(w * h * 3))
    bottom_up = multimodal.encode_bmp(w, h, px)
    stride = (w * 3 + 3) & ~3
    body = bytearray(bottom_up)
    struct.pack_into("<i", body, 22, -h)
    rows = [bytes(bottom_up[54 + y * stride: 54 + (y + 1) * stride])
            for y in range(h)]
    body[54:] = b"".join(reversed(rows))
    assert multimodal.decode_bmp(bytes(body)) == (w, h, 3, px)

    # Malformed payloads never silently decode.
    with pytest.raises(ValueError, match="not a BMP"):
        multimodal.decode_bmp(b"BM" + bytes(10))
    with pytest.raises(ValueError, match="truncated raster"):
        multimodal.decode_bmp(bottom_up[:-1])
    eight_bit = bytearray(bottom_up)
    struct.pack_into("<H", eight_bit, 28, 8)
    with pytest.raises(NotImplementedError, match="24-bit"):
        multimodal.decode_bmp(bytes(eight_bit))
    # A corrupt pixel-offset pointing INTO the header must not silently
    # decode header bytes as pixels (review finding r12).
    bad_off = bytearray(bottom_up)
    struct.pack_into("<I", bad_off, 10, 0)
    with pytest.raises(ValueError, match="overlaps"):
        multimodal.decode_bmp(bytes(bad_off))

    # Same pixels, two formats, one consumer: pixel stats agree.
    import pandas as pd

    docs = _docs(spark, ["alpha doc", "beta doc", "gamma doc"])
    ppm = multimodal.attach_image_payload(docs)
    rows = ppm.collect()
    bmp_payloads = []
    for r in rows:
        w, h, nch, raster = multimodal.decode_ppm(bytes(r["payload"]))
        assert nch == 3
        bmp_payloads.append((r["doc_id"], multimodal.encode_bmp(w, h, raster)))
    bmp = spark.createDataFrame(
        pd.DataFrame(bmp_payloads, columns=["doc_id", "payload"]),
        schema=multimodal.PAYLOAD_SCHEMA,
    )
    got_ppm = sorted(map(tuple, multimodal.image_pixel_stats(ppm).collect()))
    got_bmp = sorted(map(tuple, multimodal.image_pixel_stats(bmp).collect()))
    assert got_ppm == got_bmp and len(got_ppm) == 3

    # ... and the dHash consumer agrees too (content_hash is md5 of
    # the payload BYTES, so it differs by format by design — the
    # perceptual hash must not).
    keys = ["doc_id", "dhash"]
    dh_ppm = sorted(map(tuple,
                        multimodal.image_dhash(ppm).select(*keys).collect()))
    dh_bmp = sorted(map(tuple,
                        multimodal.image_dhash(bmp).select(*keys).collect()))
    assert dh_ppm == dh_bmp and len(dh_ppm) == 3


def test_png_decode_hand_computed():
    """PNG joins the native-decode family (r12 verdict item 2): a
    hand-assembled 2x2 RGB PNG (filter 0 rows, stdlib zlib) decodes to
    the exact raster, and Paeth/Average/Sub/Up filters reconstruct a
    hand-checked gradient."""
    import struct
    import zlib

    px = bytes([10, 20, 30, 40, 50, 60, 70, 80, 90, 100, 110, 120])
    ihdr = struct.pack(">IIBBBBB", 2, 2, 8, 2, 0, 0, 0)
    scan = b"\x00" + px[:6] + b"\x00" + px[6:]

    def chunk(t, b):
        return (struct.pack(">I", len(b)) + t + b
                + struct.pack(">I", zlib.crc32(t + b)))

    payload = (multimodal.PNG_SIG + chunk(b"IHDR", ihdr)
               + chunk(b"IDAT", zlib.compress(scan))
               + chunk(b"IEND", b""))
    assert multimodal.decode_png(payload) == (2, 2, 3, px)
    assert multimodal.decode_image(payload) == (2, 2, 3, px)

    # Each filter type on a raster where the reconstruction is easy to
    # verify by hand: constant rows → Sub/Up/Average/Paeth all encode
    # to mostly-zero residuals, and the decoder must invert exactly.
    for t in range(5):
        w, h = 3, 4
        raster = bytes(((x + 1) * (y + 2) * 37) % 256
                       for y in range(h) for x in range(w * 3))
        enc = multimodal.encode_png(w, h, raster, filters=[t] * h)
        assert multimodal.decode_png(enc) == (w, h, 3, raster)


def test_png_rejects_malformed():
    import struct
    import zlib

    ok = multimodal.encode_png(3, 3, bytes(range(27)))

    with pytest.raises(ValueError, match="not a PNG"):
        multimodal.decode_png(b"\x89PNG\r\n\x1a" + b"X" + ok[8:])
    with pytest.raises(ValueError, match="truncated"):
        multimodal.decode_png(ok[:-4])
    # Trailing bytes after IEND: the decode_ppm exact-length rule.
    with pytest.raises(ValueError, match="trailing bytes"):
        multimodal.decode_png(ok + b"\x00")
    with pytest.raises(ValueError, match="trailing bytes"):
        multimodal.decode_png(ok + ok)
    # Flip one IDAT byte: CRC must catch it.
    bad = bytearray(ok)
    idat_at = ok.index(b"IDAT")
    bad[idat_at + 5] ^= 0xFF
    with pytest.raises(ValueError, match="CRC mismatch"):
        multimodal.decode_png(bytes(bad))
    # 16-bit depth and unknown interlace methods are declared gaps,
    # not silent junk (Adam7 = method 1 now decodes natively).
    for field_off, val, what in [(8, 16, "depth"), (12, 2, "interlace")]:
        ihdr = bytearray(struct.pack(">IIBBBBB", 3, 3, 8, 2, 0, 0, 0))
        ihdr[field_off] = val
        doctored = (multimodal.PNG_SIG
                    + multimodal._png_chunk(b"IHDR", bytes(ihdr))
                    + ok[8 + 12 + 13:])
        with pytest.raises(NotImplementedError):
            multimodal.decode_png(doctored)
    # An unknown scanline filter type is corrupt data.
    w = h = 2
    scan = b"\x07" + bytes(6) + b"\x00" + bytes(6)
    doctored = (multimodal.PNG_SIG
                + multimodal._png_chunk(
                    b"IHDR", struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0))
                + multimodal._png_chunk(b"IDAT", zlib.compress(scan))
                + multimodal._png_chunk(b"IEND", b""))
    with pytest.raises(ValueError, match="filter type"):
        multimodal.decode_png(doctored)
    # Inflated stream must be exactly height*(1+row) bytes.
    doctored = (multimodal.PNG_SIG
                + multimodal._png_chunk(
                    b"IHDR", struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0))
                + multimodal._png_chunk(b"IDAT", zlib.compress(bytes(5)))
                + multimodal._png_chunk(b"IEND", b""))
    with pytest.raises(ValueError, match="inflated stream"):
        multimodal.decode_png(doctored)


def test_png_roundtrip_property():
    """encode→decode is the identity for every (w, h, channels, raster)
    and every per-row filter assignment — greyscale, RGB and RGBA."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    @settings(max_examples=60, deadline=None)
    @given(
        w=st.integers(1, 9),
        h=st.integers(1, 9),
        channels=st.sampled_from([1, 3, 4]),
        data=st.data(),
    )
    def roundtrip(w, h, channels, data):
        raster = bytes(
            data.draw(st.lists(st.integers(0, 255),
                               min_size=w * h * channels,
                               max_size=w * h * channels))
        )
        filters = data.draw(st.lists(st.integers(0, 4),
                                     min_size=h, max_size=h))
        enc = multimodal.encode_png(w, h, raster,
                                    channels=channels, filters=filters)
        assert multimodal.decode_png(enc) == (w, h, channels, raster)

    roundtrip()


def test_png_format_agnostic_consumers(spark):
    """The SAME pixels flow through the stats and dHash consumers
    identically whether they arrive as PPM, BMP or PNG; multi-IDAT
    files decode too; RGBA stats use the color planes only."""
    import struct
    import zlib

    import pandas as pd

    docs = _docs(spark, ["alpha doc", "beta doc", "gamma doc"])
    ppm = multimodal.attach_image_payload(docs)
    png = multimodal.attach_image_payload_png(docs)
    got_ppm = sorted(map(tuple, multimodal.image_pixel_stats(ppm).collect()))
    got_png = sorted(map(tuple, multimodal.image_pixel_stats(png).collect()))
    assert got_ppm == got_png and len(got_ppm) == 3
    keys = ["doc_id", "dhash"]
    dh_ppm = sorted(map(tuple,
                        multimodal.image_dhash(ppm).select(*keys).collect()))
    dh_png = sorted(map(tuple,
                        multimodal.image_dhash(png).select(*keys).collect()))
    assert dh_ppm == dh_png and len(dh_ppm) == 3

    # Multi-IDAT: split the compressed stream across two chunks.
    w, h = 4, 3
    raster = bytes((i * 31 + 5) % 256 for i in range(w * h * 3))
    one = multimodal.encode_png(w, h, raster)
    idat_at = one.index(b"IDAT") - 4
    (ilen,) = struct.unpack_from(">I", one, idat_at)
    body = one[idat_at + 8:idat_at + 8 + ilen]
    tail = one[idat_at + 12 + ilen:]
    split = (one[:idat_at]
             + multimodal._png_chunk(b"IDAT", body[:3])
             + multimodal._png_chunk(b"IDAT", body[3:])
             + tail)
    assert multimodal.decode_png(split) == (w, h, 3, raster)
    # ... but an ancillary chunk interleaved between IDATs is corrupt.
    interleaved = (one[:idat_at]
                   + multimodal._png_chunk(b"IDAT", body[:3])
                   + multimodal._png_chunk(b"tEXt", b"k\x00v")
                   + multimodal._png_chunk(b"IDAT", body[3:])
                   + tail)
    with pytest.raises(ValueError, match="non-consecutive IDAT"):
        multimodal.decode_png(interleaved)

    # RGBA: alpha is excluded from the pixel statistics.
    rgb = bytes((i * 13 + 7) % 256 for i in range(6 * 2 * 3))
    rgba = b"".join(rgb[i:i + 3] + b"\xAA" for i in range(0, len(rgb), 3))
    frame = spark.createDataFrame(
        pd.DataFrame(
            [(0, multimodal.encode_png(6, 2, rgb)),
             (1, multimodal.encode_png(6, 2, rgba, channels=4))],
            columns=["doc_id", "payload"],
        ),
        schema=multimodal.PAYLOAD_SCHEMA,
    )
    rows = {r["doc_id"]: r for r in
            multimodal.image_pixel_stats(frame).collect()}
    for col in ["width", "height", "n_pixels", "sum_r", "sum_g", "sum_b",
                "min_byte", "max_byte", "mean_luma_milli"]:
        assert rows[0][col] == rows[1][col], col


def test_adpcm_decode_hand_computed():
    """One IMA step verified by hand: idx 0 → step 7; nibble 0b0101
    (mag bits 0+2) → diff = 7//8 + 7//4 + 7 = 0 + 1 + 7 = 8; positive
    sign; index delta for mag 5 is +4."""
    pred, idx = multimodal._ima_decode_nibble(5, 100, 0)
    assert (pred, idx) == (108, 4)
    # Sign bit negates; index clamps at 0.
    pred, idx = multimodal._ima_decode_nibble(8 | 5, 100, 0)
    assert (pred, idx) == (92, 4)
    pred, idx = multimodal._ima_decode_nibble(0, 100, 0)
    assert (pred, idx) == (100, 0)          # diff 7>>3 = 0, delta -1 → 0
    # Predictor clamps to int16 at the top step.
    pred, idx = multimodal._ima_decode_nibble(7, 32000, 88)
    assert (pred, idx) == (32767, 88)
    # Header sample is emitted verbatim.
    assert multimodal.ima_adpcm_decode_block(-42, 3, []) == [-42]


def test_adpcm_wav_roundtrip_property():
    """encode_wav_adpcm→decode_wav reproduces the reference block
    decode exactly for arbitrary headers and nibble streams (including
    multi-block files), and the fact chunk agrees."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    @settings(max_examples=60, deadline=None)
    @given(
        nblocks=st.integers(1, 3),
        nbytes=st.integers(1, 12),
        data=st.data(),
    )
    def roundtrip(nblocks, nbytes, data):
        blocks = []
        for _ in range(nblocks):
            pred0 = data.draw(st.integers(-32768, 32767))
            idx0 = data.draw(st.integers(0, 88))
            nibs = data.draw(st.lists(st.integers(0, 15),
                                      min_size=2 * nbytes,
                                      max_size=2 * nbytes))
            blocks.append((pred0, idx0, nibs))
        wav = multimodal.encode_wav_adpcm(11025, blocks)
        rate, ch, samples = multimodal.decode_wav(wav)
        expect = []
        for p0, i0, nibs in blocks:
            expect.extend(multimodal.ima_adpcm_decode_block(p0, i0, nibs))
        assert (rate, ch, samples) == (11025, 1, expect)

    roundtrip()


def test_adpcm_encoder_tracks_smooth_signals():
    """The true compressor (PCM→nibbles) stays within the quantizer's
    step of a slowly-varying signal once the step size adapts."""
    sig = [round(300 * i / 99) for i in range(100)]        # gentle ramp
    p0, i0, nibs = multimodal.ima_adpcm_encode(sig)
    dec = multimodal.ima_adpcm_decode_block(p0, i0, nibs)
    assert len(dec) == len(sig) and dec[0] == sig[0]
    tail_err = max(abs(a - b) for a, b in zip(sig[10:], dec[10:]))
    assert tail_err <= 16, tail_err


def test_adpcm_rejects_malformed():
    import struct

    ok = multimodal.encode_wav_adpcm(8000, [(5, 2, [1, 2, 3, 4])])

    # Partial trailing block.
    bad = bytearray(ok)
    data_at = ok.index(b"data")
    (dsize,) = struct.unpack_from("<I", ok, data_at + 4)
    struct.pack_into("<I", bad, data_at + 4, dsize - 1)
    del bad[data_at + 8 + dsize - 1]
    struct.pack_into("<I", bad, 4, len(bad) - 8)
    with pytest.raises(ValueError, match="blocks"):
        multimodal.decode_wav(bytes(bad))

    # samples_per_block inconsistent with block_align.
    bad = bytearray(ok)
    fmt_at = ok.index(b"fmt ")
    struct.pack_into("<H", bad, fmt_at + 8 + 18, 99)
    with pytest.raises(ValueError, match="samples_per_block"):
        multimodal.decode_wav(bytes(bad))

    # Stereo ADPCM is a declared gap, not silent junk.
    bad = bytearray(ok)
    struct.pack_into("<H", bad, fmt_at + 8 + 2, 2)
    with pytest.raises(NotImplementedError, match="mono"):
        multimodal.decode_wav(bytes(bad))

    # Step index out of range in a block header.
    bad = bytearray(ok)
    bad[data_at + 8 + 2] = 89
    with pytest.raises(ValueError, match="step index"):
        multimodal.decode_wav(bytes(bad))

    # fact chunk disagreeing with the decoded count.
    bad = bytearray(ok)
    fact_at = ok.index(b"fact")
    struct.pack_into("<I", bad, fact_at + 8, 999)
    with pytest.raises(ValueError, match="fact chunk"):
        multimodal.decode_wav(bytes(bad))

    # Encoder-side validation.
    with pytest.raises(ValueError, match="even"):
        multimodal.encode_wav_adpcm(8000, [(0, 0, [1, 2, 3])])
    with pytest.raises(ValueError, match="same nibble count"):
        multimodal.encode_wav_adpcm(8000, [(0, 0, [1, 2]), (0, 0, [1, 2, 3, 4])])
    with pytest.raises(ValueError, match="header"):
        multimodal.encode_wav_adpcm(8000, [(0, 89, [1, 2])])


def test_span_windows_binary_is_unhex_of_hex(spark):
    """The binary (unhex) window keys that substring_span_stats groups
    on are the byte-wise unhex of the hex window hashes — a bijection,
    so grouping is unchanged — including multi-byte UTF-8 tokens, empty
    tokens from doubled spaces, and docs shorter than k."""
    texts = [
        "one two three four five six seven eight",   # > k windows
        "héllo wörld ünïcode tokens stretch bytes beyond ascii",
        "a  b c d e f",                               # doubled space
        "short doc",                                  # < k → no windows
        "one two three four five six seven eight",    # exact duplicate
    ]
    docs = _docs(spark, texts)
    k = 5
    base = dedup._span_base(docs)
    exp = sorted(map(tuple, dedup._span_windows(base, k).collect()))
    assert len(exp) > 0
    got_b = sorted((d, p, bytes(h)) for d, p, h in
                   dedup._span_windows(base, k, binary=True).collect())
    assert got_b == sorted((d, p, bytes.fromhex(h)) for d, p, h in exp)


def test_gif_decode_canonical_and_hand_computed():
    """GIF joins the native-decode family: the canonical 1x1 GIF (the
    famous 43-byte tracking pixel, black on a 2-color palette) decodes
    via the real LZW path, and encode->decode is the identity."""
    one_px = bytes.fromhex(
        "47494638396101000100800000000000ffffff21f90401000000002c"
        "00000000010001000002024401003b")
    assert multimodal.decode_gif(one_px) == (1, 1, 3, b"\x00\x00\x00")
    assert multimodal.decode_image(one_px) == (1, 1, 3, b"\x00\x00\x00")

    for w, h in [(1, 1), (3, 1), (16, 12), (40, 30)]:
        px = bytes((17 * i + 3) % 256 for i in range(w * h * 3))
        g = multimodal.encode_gif(w, h, px)
        assert g[:6] == b"GIF89a"
        assert multimodal.decode_gif(g) == (w, h, 3, px)

    # LZW's best case (repetitive content) and the dictionary-reset
    # path (long random stream over a small palette) both round-trip.
    px = (b"\x01\x02\x03" * 1200)[:40 * 30 * 3]
    g = multimodal.encode_gif(40, 30, px)
    assert multimodal.decode_gif(g) == (40, 30, 3, px)
    import random
    rng = random.Random(13)
    idx = [rng.randrange(4) for _ in range(20000)]
    enc = multimodal._gif_lzw_encode(idx, 2)
    assert multimodal._gif_lzw_decode(enc, 2, 20000) == idx


def test_gif_rejects_malformed():
    import struct

    px = bytes(range(27))
    ok = multimodal.encode_gif(3, 3, px)

    with pytest.raises(ValueError, match="not a GIF"):
        multimodal.decode_gif(b"GIF90a" + ok[6:])
    with pytest.raises(ValueError, match="trailing bytes"):
        multimodal.decode_gif(ok + b"\x00")
    with pytest.raises(ValueError, match="trailer"):
        multimodal.decode_gif(ok[:-1])
    # Truncated mid-sub-block.
    with pytest.raises(ValueError, match="truncated|trailer|LZW"):
        multimodal.decode_gif(ok[:-5])
    img_at = ok.index(b"\x2C", 13)
    # An LZW stream that under-produces pixels is corrupt: claim a
    # bigger image than the stream encodes.
    doctored = bytearray(ok)
    struct.pack_into("<H", doctored, 6, 4)          # screen width 4
    struct.pack_into("<H", doctored, img_at + 5, 4)  # image width 4
    with pytest.raises(ValueError, match="LZW"):
        multimodal.decode_gif(bytes(doctored))
    too_many = b"".join(bytes([i % 256, i // 256, 7]) for i in range(272))
    with pytest.raises(ValueError, match="exceed"):
        multimodal.encode_gif(17, 16, too_many)


def test_gif_interlace_roundtrip():
    """4-pass interlacing: the canonical GIF89a row order for 8 rows is
    0,8.. / 4 / 2,6 / odd — hand-pinned — and interlaced encode→decode
    is the identity (the decoder must scatter rows back)."""
    assert multimodal._gif_interlace_rows(8) == [0, 4, 2, 6, 1, 3, 5, 7]
    assert multimodal._gif_interlace_rows(10) == [0, 8, 4, 2, 6, 1, 3, 5,
                                                  7, 9]
    for w, h in [(3, 1), (4, 8), (5, 11), (16, 12)]:
        px = bytes((29 * i + 11) % 256 for i in range(w * h * 3))
        g = multimodal.encode_gif(w, h, px, interlace=True)
        assert multimodal.decode_gif(g) == (w, h, 3, px)
        # Interlaced and progressive files decode to the same raster.
        assert multimodal.decode_gif(
            multimodal.encode_gif(w, h, px)) == (w, h, 3, px)


def test_gif_roundtrip_property():
    from hypothesis import given, settings
    from hypothesis import strategies as st

    @settings(max_examples=40, deadline=None)
    @given(
        w=st.integers(1, 9),
        h=st.integers(1, 9),
        ncolors=st.integers(1, 6),
        data=st.data(),
    )
    def roundtrip(w, h, ncolors, data):
        colors = [bytes([(7 * c + 1) % 256, (13 * c) % 256, c]) for c in
                  range(ncolors)]
        px = b"".join(
            colors[data.draw(st.integers(0, ncolors - 1))]
            for _ in range(w * h)
        )
        g = multimodal.encode_gif(w, h, px)
        assert multimodal.decode_gif(g) == (w, h, 3, px)

    roundtrip()


def test_gif_format_agnostic_consumers(spark):
    docs = _docs(spark, ["alpha doc", "beta doc", "gamma doc"])
    ppm = multimodal.attach_image_payload(docs)
    gif = multimodal.attach_image_payload_gif(docs)
    got_ppm = sorted(map(tuple, multimodal.image_pixel_stats(ppm).collect()))
    got_gif = sorted(map(tuple, multimodal.image_pixel_stats(gif).collect()))
    assert got_ppm == got_gif and len(got_ppm) == 3
    keys = ["doc_id", "dhash"]
    dh_ppm = sorted(map(tuple,
                        multimodal.image_dhash(ppm).select(*keys).collect()))
    dh_gif = sorted(map(tuple,
                        multimodal.image_dhash(gif).select(*keys).collect()))
    assert dh_ppm == dh_gif and len(dh_ppm) == 3


def test_png_adam7_interlace_roundtrip():
    """Adam7: pass geometry hand-pinned for 8x8 (pass widths/heights
    1,1,2,2,4,4,8 x ...), interlaced encode→decode is the identity for
    shapes that exercise empty and partial passes, and an interlaced
    file decodes to the same raster as its progressive twin."""
    dims = multimodal._adam7_pass_dims(8, 8)
    assert [(pw, ph) for *_, pw, ph in dims] == [
        (1, 1), (1, 1), (2, 1), (2, 2), (4, 2), (4, 4), (8, 4)]
    # 1x1: only pass 1 is non-empty.
    assert multimodal._adam7_pass_dims(1, 1) == [(0, 0, 8, 8, 1, 1)]

    for w, h, ch in [(1, 1, 3), (3, 2, 1), (5, 5, 3), (8, 8, 4),
                     (13, 7, 3), (16, 12, 3)]:
        px = bytes((23 * i + 5) % 256 for i in range(w * h * ch))
        inter = multimodal.encode_png(w, h, px, channels=ch,
                                      interlace=True)
        prog = multimodal.encode_png(w, h, px, channels=ch)
        assert multimodal.decode_png(inter) == (w, h, ch, px), (w, h, ch)
        assert multimodal.decode_png(prog) == multimodal.decode_png(inter)
        # The interlaced file really declares Adam7 in IHDR.
        assert inter[8 + 8 + 12] == 1 and prog[8 + 8 + 12] == 0


def test_g711_companding_involution_and_known_values():
    """G.711: decode∘encode is the identity on every companded byte —
    except μ-law 0x7F, the spec's 'negative zero' (0x7F and 0xFF both
    expand to 0; linear 0 compands to 0xFF) — and the canonical
    values hold: μ-law 0xFF → 0, A-law 0xD5 → +8 / 0x55 → −8."""
    for b in range(256):
        if b != 0x7F:
            assert multimodal.mulaw_encode_sample(
                multimodal.mulaw_decode_byte(b)) == b, b
        assert multimodal.alaw_encode_sample(
            multimodal.alaw_decode_byte(b)) == b, b
    assert multimodal.mulaw_decode_byte(0xFF) == 0
    assert multimodal.mulaw_decode_byte(0x7F) == 0
    assert multimodal.mulaw_encode_sample(0) == 0xFF
    assert multimodal.alaw_decode_byte(0xD5) == 8
    assert multimodal.alaw_decode_byte(0x55) == -8
    # Extremes: full-scale magnitudes land at the top segment.
    assert multimodal.mulaw_decode_byte(0x00) == -32124
    assert multimodal.mulaw_decode_byte(0x80) == 32124
    assert multimodal.alaw_decode_byte(0xAA) == 32256     # +full scale
    # Quantization error of encode→decode stays within the segment
    # step for a sweep of linear inputs.
    for x in range(-32000, 32001, 377):
        y = multimodal.mulaw_decode_byte(multimodal.mulaw_encode_sample(x))
        assert abs(y - x) <= max(32, abs(x) // 16), (x, y)
        z = multimodal.alaw_decode_byte(multimodal.alaw_encode_sample(x))
        assert abs(z - x) <= max(32, abs(x) // 16), (x, z)


def test_g711_wav_roundtrip_and_rejects():
    import struct

    enc = bytes(range(256))
    for law, dec in [("mulaw", multimodal.mulaw_decode_byte),
                     ("alaw", multimodal.alaw_decode_byte)]:
        wav = multimodal.encode_wav_g711(11025, enc, law)
        rate, ch, s = multimodal.decode_wav(wav)
        assert (rate, ch) == (11025, 1)
        assert s == [dec(b) for b in enc]
    # Stereo G.711 is a declared gap; fact mismatch is corrupt.
    wav = bytearray(multimodal.encode_wav_g711(8000, enc, "mulaw"))
    fmt_at = bytes(wav).index(b"fmt ")
    struct.pack_into("<H", wav, fmt_at + 8 + 2, 2)
    with pytest.raises(NotImplementedError, match="mono"):
        multimodal.decode_wav(bytes(wav))
    wav = bytearray(multimodal.encode_wav_g711(8000, enc, "mulaw"))
    fact_at = bytes(wav).index(b"fact")
    struct.pack_into("<I", wav, fact_at + 8, 7)
    with pytest.raises(ValueError, match="fact chunk"):
        multimodal.decode_wav(bytes(wav))
    with pytest.raises(ValueError, match="companding"):
        multimodal.encode_wav_g711(8000, enc, "dpcm")


def test_jpeg_gray_block_constant_exact_at_q100():
    """At quality 100 every quant divisor is 1, so a block-constant
    grayscale image survives FDCT→quant→Huffman→decode exactly (the
    DC-only integer IDCT reproduces the constant)."""
    import numpy as np

    from etl_validator_github_spark.scale import jpeg

    rng = np.random.default_rng(13)
    for w, h in [(8, 8), (16, 8), (24, 16), (13, 11), (1, 1), (17, 9)]:
        bw, bh = -(-w // 8), -(-h // 8)
        grid = np.zeros((bh * 8, bw * 8), dtype=np.uint8)
        for by in range(bh):
            for bx in range(bw):
                grid[by * 8:(by + 1) * 8, bx * 8:(bx + 1) * 8] = (
                    rng.integers(0, 256))
        img = grid[:h, :w].tobytes()
        enc = jpeg.encode_jpeg(w, h, img, channels=1, quality=100)
        assert jpeg.decode_jpeg(enc) == (w, h, 1, img), (w, h)
        # And through the format-agnostic dispatcher.
        assert multimodal.decode_image(enc) == (w, h, 1, img)


def test_jpeg_roundtrip_error_bounds():
    """Lossy-path sanity: random grayscale at q=95 stays within a
    small per-pixel band; smooth gradients at q=90 are near-exact;
    constant color images survive 4:4:4 and 4:2:0 within the YCbCr
    transform's rounding (±1)."""
    import numpy as np

    from etl_validator_github_spark.scale import jpeg

    rng = np.random.default_rng(29)
    w, h = 37, 29
    img = rng.integers(0, 256, size=w * h, dtype=np.uint8).tobytes()
    enc = jpeg.encode_jpeg(w, h, img, channels=1, quality=95)
    got = np.frombuffer(jpeg.decode_jpeg(enc)[3], dtype=np.uint8)
    exp = np.frombuffer(img, dtype=np.uint8)
    assert np.abs(got.astype(int) - exp.astype(int)).max() <= 24

    grid = (np.add.outer(np.arange(h) * 3, np.arange(w) * 2) % 256)
    enc = jpeg.encode_jpeg(w, h, grid.astype(np.uint8).tobytes(),
                           channels=1, quality=90)
    got = np.frombuffer(jpeg.decode_jpeg(enc)[3],
                        dtype=np.uint8).reshape(h, w)
    assert np.abs(got.astype(int) - grid).max() <= 4

    for quality, sub, rst in [(75, "444", 0), (95, "444", 0),
                              (85, "420", 2), (100, "420", 3)]:
        img3 = bytes([120, 200, 64]) * (w * h)
        enc = jpeg.encode_jpeg(w, h, img3, channels=3, quality=quality,
                               subsampling=sub, restart_interval=rst)
        dw, dh, ch, rast = jpeg.decode_jpeg(enc)
        assert (dw, dh, ch) == (w, h, 3)
        got = np.frombuffer(rast, dtype=np.uint8).reshape(-1, 3)
        err = np.abs(got.astype(int) - np.array([120, 200, 64])).max()
        assert err <= 1, (quality, sub, rst, err)


def test_jpeg_coefficient_writer_bit_exact():
    """The coefficient-domain writer (the gate fixture) round-trips
    bit-exactly: Huffman encode → decode → dequant → pinned integer
    IDCT equals an independent direct-summation reference over the
    same coefficients (KwKwK-style edge regimes included: all-zero
    blocks, dense blocks, ZRL runs, restart boundaries)."""
    import random

    import numpy as np

    from etl_validator_github_spark.scale import jpeg

    rnd = random.Random(7)
    qz = [jpeg.QUANT_LUMA[jpeg.ZIGZAG[k]] for k in range(64)]
    W = jpeg.IDCT_W
    for trial in range(12):
        w = 1 + rnd.randrange(16)
        h = 1 + rnd.randrange(12)
        bw, bh = -(-w // 8), -(-h // 8)
        blocks = []
        for bi in range(bw * bh):
            blk = [0] * 64
            style = (trial + bi) % 4
            if style == 1:                       # dense to k=63 (no EOB)
                blk = [rnd.randrange(31) - 15 for _ in range(64)]
                blk[63] = blk[63] or 1
            elif style == 2:                     # ZRL: long zero runs
                blk[0] = rnd.randrange(65) - 32
                blk[40] = 9
                blk[60] = -3
            elif style == 3:                     # all-zero AC
                blk[0] = rnd.randrange(65) - 32
            else:
                blk[0] = rnd.randrange(65) - 32
                for k in range(1, 64):
                    if rnd.random() < 0.2:
                        blk[k] = rnd.randrange(31) - 15
            blocks.append(blk)
        enc = jpeg.encode_gray_coefficients(w, h, blocks, qz,
                                            restart_interval=2)
        dw, dh, ch, rast = jpeg.decode_jpeg(enc)
        assert (dw, dh, ch) == (w, h, 1)
        ref = np.zeros((bh * 8, bw * 8), dtype=np.int64)
        for bi, blk in enumerate(blocks):
            by, bx = divmod(bi, bw)
            for y in range(8):
                for x in range(8):
                    s = sum(
                        blk[k] * qz[k]
                        * W[jpeg.ZIGZAG[k] % 8][x]
                        * W[jpeg.ZIGZAG[k] // 8][y]
                        for k in range(64) if blk[k]
                    )
                    v = 128 + ((s + jpeg.IDCT_HALF) >> jpeg.IDCT_SHIFT)
                    ref[by * 8 + y, bx * 8 + x] = min(max(v, 0), 255)
        assert rast == ref[:h, :w].astype(np.uint8).tobytes(), trial


def test_jpeg_rejects_malformed():
    import struct

    from etl_validator_github_spark.scale import jpeg

    with pytest.raises(ValueError, match="missing SOI"):
        jpeg.decode_jpeg(b"GIF89a")
    with pytest.raises(NotImplementedError, match="progressive"):
        jpeg.decode_jpeg(b"\xff\xd8\xff\xc2")
    with pytest.raises(NotImplementedError, match="arithmetic"):
        jpeg.decode_jpeg(b"\xff\xd8\xff\xc9")
    # 12-bit precision frame.
    sof12 = (b"\xff\xd8\xff\xc0" + struct.pack(">H", 11)
             + struct.pack(">BHHB", 12, 8, 8, 1) + bytes([1, 0x11, 0]))
    with pytest.raises(NotImplementedError, match="12-bit"):
        jpeg.decode_jpeg(sof12)
    # Entropy stream truncated mid-MCU.
    good = jpeg.encode_jpeg(16, 16, bytes(range(256)), channels=1,
                            quality=90)
    with pytest.raises(ValueError, match="truncated"):
        jpeg.decode_jpeg(good[:len(good) - 12])
    # A wrong restart index is corrupt, not ignorable.
    rst = jpeg.encode_jpeg(33, 9, bytes(297), channels=1, quality=90,
                           restart_interval=1)
    assert b"\xff\xd0" in rst  # the stream really carries RST0
    broken = rst.replace(b"\xff\xd0", b"\xff\xd5", 1)
    with pytest.raises(ValueError, match="RST"):
        jpeg.decode_jpeg(broken)


def test_jpeg_format_agnostic_consumers(spark):
    """The JPEG fixture flows through the same Spark-side stats and
    dHash plumbing as every other codec; geometry matches the shared
    md5 formula, and the stats are stable across runs (pure function
    of text)."""
    docs = _docs(spark, ["alpha doc", "beta doc", "gamma doc"])
    jpg = multimodal.attach_image_payload_jpeg(docs)
    stats = multimodal.image_pixel_stats(jpg)
    rows = {r.doc_id: r for r in stats.collect()}
    ppm_rows = {
        r.doc_id: r
        for r in multimodal.image_pixel_stats(
            multimodal.attach_image_payload(docs)).collect()
    }
    assert set(rows) == set(ppm_rows) and len(rows) == 3
    for doc_id, r in rows.items():
        assert (r.width, r.height) == (ppm_rows[doc_id].width,
                                       ppm_rows[doc_id].height)
        assert r.n_pixels == r.width * r.height
        assert 0 <= r.min_byte <= r.max_byte <= 255
    again = {r.doc_id: r for r in stats.collect()}
    assert {k: tuple(v) for k, v in rows.items()} == {
        k: tuple(v) for k, v in again.items()}
    # dHash runs on grayscale JPEG payloads through the same decoder.
    dh = multimodal.image_dhash(jpg).collect()
    assert len(dh) == 3 and all(r.dhash is not None for r in dh)


def test_flac_roundtrip_property():
    """FLAC is lossless: encode→decode is the identity for any int16
    vector, mono and stereo, across every stereo assignment and odd
    block geometries (partial last frame, single-sample blocks)."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from etl_validator_github_spark.scale import flac

    @settings(max_examples=60, deadline=None)
    @given(
        rate=st.sampled_from([8000, 44100, 96000]),
        block=st.sampled_from([1, 7, 192]),
        mode=st.sampled_from(["independent", "left_side", "right_side",
                              "mid_side"]),
        frames=st.lists(
            st.tuples(st.integers(-32768, 32767),
                      st.integers(-32768, 32767)),
            min_size=1, max_size=80),
    )
    def roundtrip(rate, block, mode, frames):
        stereo = [v for pair in frames for v in pair]
        got = flac.decode_flac(flac.encode_flac(
            rate, stereo, channels=2, stereo_mode=mode, block_size=block))
        assert got == (rate, 2, stereo)
        mono = [pair[0] for pair in frames]
        got = flac.decode_flac(flac.encode_flac(rate, mono,
                                                block_size=block))
        assert got == (rate, 1, mono)

    roundtrip()


def test_flac_encoder_bytes_are_pinned():
    """Encoded BYTES for the multimodal fixture waveforms are pinned:
    the r13 Rice-search rewrites (zigzag hoist, additive per-partition
    cost tables, bit-histogram suffix sums) promise bit-for-bit the
    same parameter choices as the exhaustive per-porder scan they
    replaced — this digest is the proof, and any future encoder change
    that alters output bytes (even losslessly) must update it
    consciously."""
    import hashlib

    from etl_validator_github_spark.scale.flac import encode_flac
    from etl_validator_github_spark.scale.multimodal import (
        AUDIO_MIN_SAMPLES,
        AUDIO_N_MOD,
        AUDIO_RATE,
        AUDIO_STRIDE,
        FLAC_STRIDE_R,
    )

    digest = hashlib.md5()
    for d in range(25):
        h32 = int(hashlib.md5(f"doc {d} text".encode()).hexdigest()[:8], 16)
        n = AUDIO_MIN_SAMPLES + h32 % AUDIO_N_MOD
        inter = []
        for i in range(n):
            inter.append((h32 + AUDIO_STRIDE * i) % 4096 - 2048)
            inter.append((h32 + FLAC_STRIDE_R * i) % 4096 - 2048)
        digest.update(encode_flac(AUDIO_RATE, inter, channels=2,
                                  stereo_mode="mid_side"))
    assert digest.hexdigest() == "cec9e4c0818a30a700ab5d2f2c04b5b4"


#: Fixed corpus for the fixture byte pins: varied md5 prefixes (so
#: every image/audio/video geometry branch is hit), multi-byte UTF-8,
#: a doubled space and the empty string.
_PIN_TEXTS = [f"doc {i} " + "word " * i for i in range(12)] + [
    "héllo wörld ünïcode", "a  b c", "short", "",
]


def _pin_mappers():
    m = multimodal
    wav = m.attach_audio_payload
    return {
        "image_pixel_stats": (
            lambda d: m.image_pixel_stats(m.attach_image_payload(d)),
            m.PIXEL_STATS_SCHEMA),
        "image_pixel_stats_jpeg": (
            lambda d: m.image_pixel_stats(m.attach_image_payload_jpeg(d)),
            m.PIXEL_STATS_SCHEMA),
        "image_dhash": (
            lambda d: m.image_dhash(m.attach_image_payload(d)),
            m.DHASH_SCHEMA),
        "image_dhash_jpeg": (
            lambda d: m.image_dhash(m.attach_image_payload_jpeg(d)),
            m.DHASH_SCHEMA),
        "extract_features": (
            lambda d: m.extract_features(m.attach_payload(d)), None),
        "resize_images": (
            lambda d: m.resize_images(
                m.image_pixel_stats(m.attach_image_payload(d))), None),
        "sample_frames": (
            lambda d: m.sample_frames(
                m.extract_features(m.attach_payload(d))),
            m.FRAME_SCHEMA),
        "audio_stats": (lambda d: m.audio_stats(wav(d)),
                        m.AUDIO_STATS_SCHEMA),
        "audio_stats_flac": (
            lambda d: m.audio_stats(m.attach_audio_payload_flac(d)),
            m.AUDIO_STATS_SCHEMA),
        "audio_downsample_stats": (
            lambda d: m.audio_downsample_stats(wav(d)),
            m.AUDIO_STATS_SCHEMA),
        "audio_zcr": (lambda d: m.audio_zcr(wav(d)), m.AUDIO_ZCR_SCHEMA),
        "audio_frame_energies": (
            lambda d: m.audio_frame_energies(wav(d)),
            m.AUDIO_FRAME_SCHEMA),
        "video_pixel_stats": (
            lambda d: m.video_pixel_stats(m.attach_video_payload_avi(d)),
            m.VIDEO_STATS_SCHEMA),
    }


def _pin_writers():
    m = multimodal
    return {
        "attach_payload": m.attach_payload,
        "attach_image_payload": m.attach_image_payload,
        "attach_image_payload_brighten": lambda d: m.attach_image_payload(
            d, brighten=m.DHASH_BRIGHTEN),
        "attach_image_payload_bmp": m.attach_image_payload_bmp,
        "attach_image_payload_png": m.attach_image_payload_png,
        "attach_image_payload_gif": m.attach_image_payload_gif,
        "attach_image_payload_jpeg": m.attach_image_payload_jpeg,
        "attach_audio_payload": m.attach_audio_payload,
        "attach_audio_payload_adpcm": m.attach_audio_payload_adpcm,
        "attach_audio_payload_mulaw": m.attach_audio_payload_mulaw,
        "attach_audio_payload_flac": m.attach_audio_payload_flac,
        "attach_video_payload_avi": m.attach_video_payload_avi,
    }


#: md5 over (schema, sorted rows) of every fixture writer's payloads and
#: every multimodal row mapper's output on ``_PIN_TEXTS``. A change to
#: the mapInPandas plumbing must leave all of these untouched; a codec
#: change that alters bytes must update its digest consciously.
_FIXTURE_PINS = {
    "attach_payload": "5b29c4486f74ef21033fcd733e614855",
    "attach_image_payload": "3716871c84931ba0f9c4a82e66fac591",
    "attach_image_payload_brighten": "b3c1e667e27e7925cd5cc78dc27f3b5f",
    "attach_image_payload_bmp": "f528e5093d2fd98481a1417aa8a2b271",
    "attach_image_payload_png": "51e3451b074fc0392c6103a7edeaed1b",
    "attach_image_payload_gif": "a181103ad91cda2aaccbe109fdc419a7",
    "attach_image_payload_jpeg": "7e97dad4a594d88169f01ca2571102df",
    "attach_audio_payload": "6c96b131fcdec34f133585f9f930a1ec",
    "attach_audio_payload_adpcm": "59f4a68becd42047827d72aeeb14149c",
    "attach_audio_payload_mulaw": "e998654c3a5039d5dfdbdac5fac1309c",
    "attach_audio_payload_flac": "262878260294e79f027f7c0db3ce09d7",
    "attach_video_payload_avi": "504f8dd2b9f5fd7a1b4488fb20352899",
    "image_pixel_stats": "d6ce20965cf374160ce29ece09d74641",
    "image_pixel_stats_jpeg": "2f2abcad707d3996b4e79f79669ebcd2",
    "image_dhash": "f7c5af011f05f4efa9fb4c9ddc367ecc",
    "image_dhash_jpeg": "bc684d508b91caca853f3f2ebb6fd5b9",
    "extract_features": "a7eaaa1cc432c2ba133bc1c56b41e4c0",
    "resize_images": "ea7c69115df77d128f05254319dbda1c",
    "sample_frames": "eff061ffe8e0195519df905aba5694b5",
    "audio_stats": "330da9973a0d3b787fffa852130e5b66",
    "audio_stats_flac": "7e4110d45b780dc74be8b9b9ab7ed5bc",
    "audio_downsample_stats": "26fb0ce80ef736c426736d8f3fac9cba",
    "audio_zcr": "bee58ef7083ed936d3021fc6c4cb87cd",
    "audio_frame_energies": "778e81e99c7100c951b14b845d989259",
    "video_pixel_stats": "3fa2951459fa119303a78c39b55e0e6a",
}


def _rows_md5(df) -> str:
    rows = sorted(
        tuple(bytes(v) if isinstance(v, (bytes, bytearray)) else v
              for v in r)
        for r in df.collect()
    )
    return hashlib.md5(
        repr((df.schema.simpleString(), rows)).encode()).hexdigest()


@pytest.mark.parametrize("name", sorted(_FIXTURE_PINS))
def test_multimodal_fixture_bytes_are_pinned(spark, name):
    """Every fixture writer's payload bytes and every row mapper's rows
    (schema included) hash to a recorded digest over a fixed corpus."""
    build = {**_pin_writers(),
             **{k: f for k, (f, _) in _pin_mappers().items()}}[name]
    assert _rows_md5(build(_docs(spark, _PIN_TEXTS))) == _FIXTURE_PINS[name]


@pytest.mark.parametrize("name", sorted(
    k for k, (_, schema) in _pin_mappers().items() if schema is not None))
def test_multimodal_mapper_on_empty_input(spark, name):
    """A row mapper over zero payloads yields zero rows with exactly its
    declared output schema."""
    build, schema = _pin_mappers()[name]
    out = build(_docs(spark, _PIN_TEXTS).limit(0))
    assert out.schema == schema
    assert out.collect() == []


def test_flac_compresses_smooth_signals():
    """The fixed-predictor search must actually fire: a pure linear
    ramp (order-2 residuals exactly zero) codes >4x below raw PCM16,
    and the fixture's wrapping sawtooth also codes >4x because the
    Rice partition search isolates each wrap spike into its own
    partition instead of dragging the whole block's parameter up."""
    from etl_validator_github_spark.scale import flac

    ramp = [i - 2048 for i in range(4096)]
    payload = flac.encode_flac(8000, ramp)
    assert len(payload) < len(ramp) * 2 // 4  # >4x vs raw PCM16
    assert flac.decode_flac(payload) == (8000, 1, ramp)

    saw = [(i * 11) % 4096 - 2048 for i in range(4096)]
    payload = flac.encode_flac(8000, saw)
    assert len(payload) < len(saw) * 2 // 4   # >4x vs raw PCM16
    assert flac.decode_flac(payload) == (8000, 1, saw)


#: The scalar FLAC residual planner: the reference scan the fused numpy
#: planner (flac._plan_subframe_np) must reproduce exactly.


def _fixed_residuals(x: "list[int]", order: int) -> "list[int]":
    coef = flac._FIXED_COEF[order]
    return [x[i] - sum(c * x[i - 1 - j] for j, c in enumerate(coef))
            for i in range(order, len(x))]


def _plan_residual(res: "list[int]", blocksize: int,
                   order: int) -> "tuple[int, int, list[int], int]":
    """Choose (porder, method, per-partition params, total coded bits)
    minimizing the exact residual size. Partitioning isolates rare
    large residuals (e.g. a sawtooth wrap) so one spike doesn't drag
    every sample's Rice parameter up."""
    us = [flac._zigzag(r) for r in res]  # parameter-independent
    # Valid porders form a contiguous prefix [0..pmax]: 2^p | blocksize
    # fails monotonically, and blocksize>>p > order decreases.
    pmax = 0
    while (pmax < flac._MAX_PORDER
           and blocksize % (1 << (pmax + 1)) == 0
           and (blocksize >> (pmax + 1)) > order):
        pmax += 1
    # Rice costs are additive across partitions: Σ(u>>p) tables are
    # built once per finest partition and pairwise-summed for coarser
    # levels; ties break on ascending porder.
    size = blocksize >> pmax
    levels = [[]]
    pos = 0
    for k in range(1 << pmax):
        cnt = size - (order if k == 0 else 0)
        seg = us[pos:pos + cnt]
        # Σ(u>>p) = Σ_{j≥p} B_j·2^(j−p) where B_j counts set bit j
        # across the segment — one set-bit pass per value plus the
        # suffix recurrence T[p] = 2·T[p+1] + B[p], instead of 31
        # full summations. Exact integer identity, same table.
        bits_hist = [0] * 64
        for u in seg:
            while u:
                low = u & -u
                bits_hist[low.bit_length() - 1] += 1
                u ^= low
        table = [0] * 32
        acc = 0
        for j in range(63, 30, -1):
            acc = (acc << 1) + bits_hist[j]
        table[31] = acc
        for p in range(30, -1, -1):
            table[p] = (table[p + 1] << 1) + bits_hist[p]
        levels[0].append((table[:31], cnt))
        pos += cnt
    for _ in range(pmax):
        prev = levels[-1]
        levels.append([
            ([a + b for a, b in zip(prev[2 * j][0], prev[2 * j + 1][0])],
             prev[2 * j][1] + prev[2 * j + 1][1])
            for j in range(len(prev) // 2)
        ])

    def _best_from_table(s: "list[int]", cnt: int) -> "tuple[int, int]":
        # The exact first-improvement Rice scan (params 0-30, early
        # break 8·cnt above the best), on a precomputed Σ(u>>p) table.
        best_p, best_c = 0, s[0] + cnt
        for p in range(1, 31):
            c = s[p] + (1 + p) * cnt
            if c < best_c:
                best_p, best_c = p, c
            elif c > best_c + 8 * cnt:
                break
        return best_p, best_c

    best = None
    for porder in range(pmax + 1):
        params, bits = [], 0
        for s, cnt in levels[pmax - porder]:
            param, rbits = _best_from_table(s, cnt)
            params.append(param)
            bits += rbits
        nparts = 1 << porder
        method = 1 if max(params) > 14 else 0
        total = 2 + 4 + nparts * (5 if method else 4) + bits
        if best is None or total < best[3]:
            best = (porder, method, params, total)
    return best


def test_flac_fused_planner_matches_scalar_scan():
    """The r14 fused numpy subframe planner (_plan_subframe_np: one
    vectorized pass over every order x porder x partition x Rice
    parameter) must pick EXACTLY the plan of the scalar reference scan
    (_fixed_residuals + _plan_residual per order, first-improvement
    tie-break on ascending order) — same bits, order, porder, method
    and per-partition params — on randomized signals covering constant
    runs, spikes, ramps and odd (non power-of-two) block sizes."""
    import random

    import numpy as np

    rng = random.Random(1405)
    cases = []
    for n in (1, 2, 3, 5, 17, 64, 96, 192, 384):
        for _ in range(6):
            kind = rng.randrange(4)
            if kind == 0:        # white noise
                x = [rng.randint(-32768, 32767) for _ in range(n)]
            elif kind == 1:      # smooth ramp + noise
                x = [min(32767, max(-32768, i * 3 - n + rng.randint(-4, 4)))
                     for i in range(n)]
            elif kind == 2:      # mostly-constant with spikes
                x = [7] * n
                for _ in range(max(1, n // 16)):
                    x[rng.randrange(n)] = rng.randint(-2048, 2047)
            else:                # wrapping sawtooth
                x = [(i * 11) % 4096 - 2048 for i in range(n)]
            cases.append(x)

    for x in cases:
        n = len(x)
        ref = None
        for order in range(min(4, n - 1) + 1):
            res = _fixed_residuals(x, order)
            porder, method, params, rbits = _plan_residual(
                res, n, order)
            bits = order * 16 + rbits
            if ref is None or bits < ref[0]:
                ref = (bits, order, porder, method, params,
                       [flac._zigzag(r) for r in res])
        got = flac._plan_subframe_np(np.asarray(x, dtype=np.int64), n, 16)
        g_bits, g_order, g_us, g_porder, g_method, g_params = got
        assert (g_bits, g_order, g_porder, g_method, g_params) == \
            (ref[0], ref[1], ref[2], ref[3], ref[4]), x[:8]
        assert g_us.tolist() == ref[5]


def test_flac_decode_lpc_and_partitions_hand_built():
    """Decoder-only paths pinned by a hand-assembled bitstream: an LPC
    subframe (order 1, coef 2, shift 1), a Rice partition order of 1,
    and an escape (raw-width) partition. Expected samples computed by
    hand: x = [10, 20, 30, 25]."""
    import struct

    from etl_validator_github_spark.scale import flac

    info = bytearray()
    info += struct.pack(">HH", 4, 4)
    info += (0).to_bytes(3, "big") + (0).to_bytes(3, "big")
    info += ((8000 << 44) | (0 << 41) | (15 << 36) | 4).to_bytes(8, "big")
    info += b"\x00" * 16                      # md5 zero: check skipped
    stream = bytearray(flac.FLAC_MAGIC)
    stream += bytes([0x80]) + len(info).to_bytes(3, "big") + bytes(info)

    head = flac._BitWriter()
    head.write(flac._SYNC, 14)
    head.write(0, 2)                          # reserved + fixed blocking
    head.write(0b0111, 4)                     # 16-bit block size at end
    head.write(0, 4)                          # rate from STREAMINFO
    head.write(0, 4)                          # mono
    head.write(0b100, 3)                      # 16 bps
    head.write(0, 1)
    head.align()
    hbytes = bytearray(head.getvalue()) + flac._utf8_encode_number(0)
    hbytes += struct.pack(">H", 3)            # blocksize 4
    hbytes.append(flac._crc8(bytes(hbytes)))

    body = flac._BitWriter()
    body.write(0b0100000, 7)                  # pad 0 + LPC order 1
    body.write(0, 1)                          # no wasted bits
    body.write(10, 16)                        # warmup x0 = 10
    body.write(3, 4)                          # precision 4
    body.write(1, 5)                          # shift 1
    body.write(2, 4)                          # coefficient 2
    body.write(0, 2)                          # Rice method 0 (4-bit)
    body.write(1, 4)                          # partition order 1
    body.write(2, 4)                          # p0: param 2
    body.write_unary(5)                       # r=10 → zigzag 20 → q=5
    body.write(0, 2)                          # low bits of 20
    body.write(0xF, 4)                        # p1: escape
    body.write(6, 5)                          # raw width 6
    body.write(10, 6)                         # r2 = 10  → x2 = 30
    body.write(-5, 6)                         # r3 = −5  → x3 = 25
    body.align()
    frame = bytes(hbytes) + body.getvalue()
    frame += struct.pack(">H", flac._crc16(frame))
    stream += frame

    assert flac.decode_flac(bytes(stream)) == (8000, 1, [10, 20, 30, 25])


def test_flac_rejects_malformed():
    from etl_validator_github_spark.scale import flac

    good = flac.encode_flac(8000, [(i * 37) % 4096 - 2048
                                   for i in range(300)])
    assert flac.decode_flac(good)[0] == 8000
    with pytest.raises(ValueError, match="magic"):
        flac.decode_flac(b"fLaX" + good[4:])
    with pytest.raises(ValueError, match="truncated|sync"):
        flac.decode_flac(good[:-7])
    with pytest.raises(ValueError, match="trailing"):
        flac.decode_flac(good + b"\x00")
    # Flip one residual bit mid-frame: some CRC must catch it.
    bad = bytearray(good)
    bad[len(bad) - 12] ^= 0x10
    with pytest.raises(ValueError, match="CRC|MD5|sync|truncated"):
        flac.decode_flac(bytes(bad))
    # Corrupt the STREAMINFO MD5: frames pass CRC, stream check fires.
    bad = bytearray(good)
    bad[8 + 18] ^= 0xFF                       # first md5 byte
    with pytest.raises(ValueError, match="MD5"):
        flac.decode_flac(bytes(bad))
    with pytest.raises(ValueError, match="multiple"):
        flac.encode_flac(8000, [1, 2, 3], channels=2)
    with pytest.raises(ValueError, match="16 bits"):
        flac.encode_flac(8000, [40000])


def test_flac_format_agnostic_consumers(spark):
    """decode_audio dispatches on the fLaC magic, and audio_stats over
    a stereo mid/side FLAC equals hand-computed stats of the exact
    samples (losslessness end-to-end through the Spark consumer)."""
    import numpy as np

    from etl_validator_github_spark.scale import flac

    samples = [(i * 31) % 4096 - 2048 for i in range(2 * 210)]
    payload = flac.encode_flac(8000, samples, channels=2,
                               stereo_mode="mid_side")
    assert multimodal.decode_audio(payload) == (8000, 2, samples)
    df = spark.createDataFrame([(3, bytearray(payload))],
                               multimodal.PAYLOAD_SCHEMA)
    row = multimodal.audio_stats(df).collect()[0]
    a = np.asarray(samples, dtype=np.int64)
    assert (row.n_samples, row.sample_rate) == (len(samples), 8000)
    assert row.peak_abs == int(np.abs(a).max())
    assert row.sum_abs == int(np.abs(a).sum())
    assert row.energy == int((a * a).sum())


def test_avi_roundtrip_property():
    """The MJPEG AVI container is lossless over its frame payloads:
    encode→decode returns the exact JPEG bytes, dims and fps, across
    frame counts, dimensions, and per-frame content."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from etl_validator_github_spark.scale import jpeg
    from etl_validator_github_spark.scale.avi import (
        decode_avi,
        encode_avi_mjpeg,
    )

    @settings(max_examples=25, deadline=None)
    @given(
        w=st.integers(1, 20),
        h=st.integers(1, 14),
        fps=st.sampled_from([1, 12, 30]),
        seeds=st.lists(st.integers(0, 255), min_size=1, max_size=6),
    )
    def roundtrip(w, h, fps, seeds):
        frames = [
            jpeg.encode_jpeg(w, h, bytes((s + i) % 256
                                         for i in range(w * h)),
                             channels=1, quality=90)
            for s in seeds
        ]
        got = decode_avi(encode_avi_mjpeg(w, h, frames, fps=fps))
        assert got == (w, h, fps, frames)

    roundtrip()


def test_avi_rejects_malformed():
    """The container parser follows the codec-family strictness rule:
    truncation, trailing bytes, and every broken cross-reference the
    RIFF layout carries fail loudly."""
    import struct

    from etl_validator_github_spark.scale import jpeg
    from etl_validator_github_spark.scale.avi import (
        decode_avi,
        encode_avi_mjpeg,
    )

    frame = jpeg.encode_jpeg(8, 6, bytes(48), channels=1, quality=90)
    good = encode_avi_mjpeg(8, 6, [frame, frame], fps=10)
    assert decode_avi(good) == (8, 6, 10, [frame, frame])

    with pytest.raises(ValueError, match="not a RIFF"):
        decode_avi(b"\x89PNG\r\n\x1a\n")
    with pytest.raises(ValueError, match="truncated or trailing"):
        decode_avi(good + b"\x00")
    with pytest.raises(ValueError, match="truncated or trailing"):
        decode_avi(good[:-5])
    with pytest.raises(ValueError, match="not 'AVI '"):
        decode_avi(good[:8] + b"WAVE" + good[12:])
    # avih total-frames flips out of sync with the movi layout.
    avih_body = good.index(b"avih") + 8
    broken = bytearray(good)
    struct.pack_into("<I", broken, avih_body + 16, 3)
    with pytest.raises(ValueError, match="strh length"):
        decode_avi(bytes(broken))
    # idx1 offset pointing one chunk off.
    idx_entry = good.rindex(b"00dc") + 8
    broken = bytearray(good)
    struct.pack_into("<I", broken, idx_entry,
                     struct.unpack_from("<I", good, idx_entry)[0] + 2)
    with pytest.raises(ValueError, match="idx1 entry"):
        decode_avi(bytes(broken))
    # A movi chunk that is not a complete JPEG.
    with pytest.raises(ValueError, match="not a complete JPEG"):
        encode_avi_mjpeg(8, 6, [frame[:-2]], fps=10)
    with pytest.raises(ValueError, match="at least one frame"):
        encode_avi_mjpeg(8, 6, [], fps=10)


def test_avi_video_stats_exact(spark):
    """video_pixel_stats equals hand-computed rollups of the per-frame
    jpeg decodes (the decoder itself is pinned elsewhere), and a frame
    whose geometry disagrees with the container header is an error,
    not a silent mis-rollup."""
    import numpy as np

    from etl_validator_github_spark.scale import jpeg
    from etl_validator_github_spark.scale.avi import encode_avi_mjpeg

    w, h = 11, 7
    frames = [
        jpeg.encode_jpeg(w, h, bytes((17 * s + i) % 256
                                     for i in range(w * h)),
                         channels=1, quality=85)
        for s in range(3)
    ]
    payload = encode_avi_mjpeg(w, h, frames, fps=24)
    df = spark.createDataFrame([(9, bytearray(payload))],
                               multimodal.PAYLOAD_SCHEMA)
    row = multimodal.video_pixel_stats(df).collect()[0]

    rasters = [np.frombuffer(jpeg.decode_jpeg(f)[3], dtype=np.uint8)
               .astype(np.int64) for f in frames]
    sums = [int(a.sum()) for a in rasters]
    assert (row.doc_id, row.width, row.height) == (9, w, h)
    assert (row.n_frames, row.fps) == (3, 24)
    assert row.n_pixels == 3 * w * h
    assert row.sum_luma == sum(sums)
    assert row.min_byte == min(int(a.min()) for a in rasters)
    assert row.max_byte == max(int(a.max()) for a in rasters)
    assert row.mean_luma_milli == (1000 * sum(sums)) // (3 * w * h)
    assert row.motion_abs == sum(abs(b - a)
                                 for a, b in zip(sums, sums[1:]))

    # Container says 8x6 but the frames are 11x7: loud failure.
    lying = encode_avi_mjpeg(8, 6, frames, fps=24)
    bad = spark.createDataFrame([(1, bytearray(lying))],
                                multimodal.PAYLOAD_SCHEMA)
    with pytest.raises(Exception, match="frame geometry"):
        multimodal.video_pixel_stats(bad).collect()
