"""Smoke + semantics tests for the extension operators on real
testdata parquet."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from wikiextractor_spark.operators import dedup, multimodal, similarity
from wikiextractor_spark.functions import textstats


@pytest.fixture(scope="module")
def docs(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


@pytest.fixture(scope="module")
def emb(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/embeddings.parquet")


def test_exact_dedup(spark, docs):
    # duplicate every row, then dedup must restore the original count
    doubled = docs.union(docs.withColumn("doc_id", F.col("doc_id") + 100000))
    kept = dedup.dedup_exact(doubled)
    assert kept.count() == docs.count()
    # survivors are the smallest ids
    assert kept.filter(F.col("doc_id") >= 100000).count() == 0


def test_exact_duplicate_groups(docs):
    doubled = docs.union(docs.withColumn("doc_id", F.col("doc_id") + 100000))
    groups = dedup.exact_duplicate_groups(doubled)
    assert groups.filter(F.col("n_copies") != 2).count() == 0


def test_minhash_identical_docs_collide(spark):
    df = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog today"),
            (2, "the quick brown fox jumps over the lazy dog today"),
            (3, "совершенно другой текст не похожий вообще ни на что"),
        ],
        "doc_id long, text string",
    )
    pairs = dedup.minhash_lsh_candidate_pairs(df).collect()
    got = {(r["id_a"], r["id_b"]) for r in pairs}
    assert (1, 2) in got
    assert (1, 3) not in got and (2, 3) not in got


def test_minhash_signature_deterministic(docs):
    s1 = dedup.minhash_signature(docs.limit(20)).collect()
    s2 = dedup.minhash_signature(docs.limit(20)).collect()
    assert {r["doc_id"]: r["sig"] for r in s1} == {r["doc_id"]: r["sig"] for r in s2}


def test_simhash_close_for_near_dup(spark):
    df = spark.createDataFrame(
        [
            (1, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
            (2, "alpha beta gamma delta epsilon zeta eta theta iota lambda"),
            (3, "one two three four five six seven eight nine ten"),
        ],
        "doc_id long, text string",
    )
    pairs = {(r["id_a"], r["id_b"]): r["hamming"]
             for r in dedup.simhash_hamming_pairs(df, max_distance=32).collect()}
    assert pairs[(1, 2)] < pairs[(1, 3)]
    assert pairs[(1, 2)] < pairs[(2, 3)]


def test_simhash_candidate_pairs_equal_all_pairs(docs):
    """The pigeonhole candidate stage must find EXACTLY the pairs the
    naive all-pairs Hamming join finds (zero false negatives by the
    pigeonhole argument; the exact re-check kills false positives)."""
    base = docs.select("doc_id", "text").limit(80)
    doubled = base.union(base.withColumn("doc_id", F.col("doc_id") + 5000))
    bucketed = {
        (r["id_a"], r["id_b"]): r["hamming"]
        for r in dedup.simhash_candidate_pairs(doubled, max_distance=3).collect()
    }
    naive = {
        (r["id_a"], r["id_b"]): r["hamming"]
        for r in dedup.simhash_hamming_pairs(doubled, max_distance=3).collect()
    }
    assert bucketed == naive
    # every planted exact copy is a distance-0 pair
    base_ids = {r["doc_id"] for r in base.select("doc_id").collect()}
    for i in base_ids:
        assert bucketed[(i, i + 5000)] == 0


def test_simhash_candidate_pairs_plan_no_pair_explosion(spark):
    """The candidate stage must plan as an equi-join on the pigeonhole
    blocks — never a nested-loop / cartesian all-pairs join."""
    import contextlib, io

    df = spark.createDataFrame(
        [(i, f"word{i} alpha beta gamma") for i in range(50)],
        "doc_id long, text string",
    )
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        dedup.simhash_candidate_pairs(df).explain("formatted")
    plan = buf.getvalue()
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "block_idx" in plan and "block_val" in plan


def test_simhash32_candidate_pairs_equal_all_pairs(docs):
    """The legacy 32-bit grain keeps the same zero-false-negative
    pigeonhole guarantee (8-bit blocks) — pinned so ``sig_bits=32``
    stays a correct small-data verification path."""
    base = docs.select("doc_id", "text").limit(60)
    doubled = base.union(base.withColumn("doc_id", F.col("doc_id") + 5000))
    bucketed = {
        (r["id_a"], r["id_b"]): r["hamming"]
        for r in dedup.simhash_candidate_pairs(
            doubled, max_distance=3, sig_bits=32
        ).collect()
    }
    naive = {
        (r["id_a"], r["id_b"]): r["hamming"]
        for r in dedup.simhash_hamming_pairs(
            doubled, max_distance=3, sig_bits=32
        ).collect()
    }
    assert bucketed == naive


def test_simhash_planted_dups_found_at_both_widths(docs):
    """Exact copies are Hamming-0 in ANY signature width — every
    planted pair must surface from both the 32- and 64-bit pipelines."""
    base = docs.select("doc_id", "text").limit(40)
    doubled = base.union(base.withColumn("doc_id", F.col("doc_id") + 5000))
    ids = {r["doc_id"] for r in base.select("doc_id").collect()}
    for bits in (32, 64):
        pairs = {
            (r["id_a"], r["id_b"]): r["hamming"]
            for r in dedup.simhash_candidate_pairs(
                doubled, max_distance=3, sig_bits=bits
            ).collect()
        }
        for i in ids:
            assert pairs[(i, i + 5000)] == 0, (bits, i)


def test_simhash64_bucket_occupancy_beats_32(docs):
    """THE point of the 64-bit width: 16-bit pigeonhole blocks keep
    buckets sparse where 8-bit blocks birthday-collide.  On the
    doubled corpus the 64-bit path must propose FAR fewer candidate
    pairs (measured ~12× on sf0.001: 120856 → 9532; residual buckets
    reflect genuinely similar synthetic docs, not hash collisions)."""
    base = docs.select("doc_id", "text")
    doubled = base.union(base.withColumn("doc_id", F.col("doc_id") + 5000))

    def bucket_stats(bits):
        sigs = (dedup.simhash64 if bits == 64 else dedup.simhash32)(doubled)
        occ = (
            dedup.simhash_blocks(sigs, n_blocks=4, sig_bits=bits)
            .groupBy("block_idx", "block_val")
            .count()
        )
        row = occ.agg(
            F.max("count").alias("mx"),
            # candidate pairs the equi-join would propose: C(n,2) per bucket
            F.sum(F.expr("count * (count - 1) / 2")).alias("pairs"),
        ).collect()[0]
        return row["mx"], row["pairs"]

    mx32, pairs32 = bucket_stats(32)
    mx64, pairs64 = bucket_stats(64)
    assert pairs64 * 4 < pairs32, (pairs64, pairs32)
    assert mx64 < mx32


def test_ngram_jaccard_bounds(docs):
    rows = dedup.ngram_jaccard_pairs(docs, max_id=15).collect()
    assert rows, "expected some pairs"
    for r in rows:
        assert 0.0 <= r["jaccard"] <= 1.0


def test_cosine_pairs_range(emb):
    rows = similarity.cosine_pairs(emb, max_id=20).collect()
    assert len(rows) == 20 * 19 // 2
    for r in rows:
        assert -1.000001 <= r["cos"] <= 1.000001


def test_ann_brute_force_topk(emb):
    out = similarity.ann_brute_force_topk(emb, query_ids=[0, 1], k=5)
    rows = out.collect()
    by_q = {}
    for r in rows:
        by_q.setdefault(r["q_id"], []).append(r)
    assert set(by_q) == {0, 1}
    for q, rs in by_q.items():
        assert len(rs) == 5
        cos_sorted = sorted((x["cos"] for x in rs), reverse=True)
        assert [x["cos"] for x in sorted(rs, key=lambda x: x["rank"])] == cos_sorted


def test_ann_blas_matches_jvm_brute_force(emb):
    """The mapInPandas BLAS path must return EXACTLY the JVM
    zip_with/aggregate result — same neighbors, same rounded cosines,
    same tie-break — on multiple k values."""
    from wikiextractor_spark.operators.similarity import (
        ann_brute_force_topk,
        ann_topk_blas,
    )

    for k in (1, 5):
        a = ann_brute_force_topk(emb, [0, 7, 42], k=k).orderBy("q_id", "rank")
        b = ann_topk_blas(emb, [0, 7, 42], k=k).orderBy("q_id", "rank")
        ra = [(r["q_id"], r["neighbor_id"], r["cos"]) for r in a.collect()]
        rb = [(r["q_id"], r["neighbor_id"], r["cos"]) for r in b.collect()]
        assert ra == rb and len(ra) == 3 * k


def test_ann_blas_local_topk_bounds_shuffle(emb):
    """The pandas stage must emit at most q·k rows per batch (the
    scale property): total pre-window rows ≤ n_partitions · q · k."""
    from wikiextractor_spark.operators.similarity import ann_topk_blas

    got = ann_topk_blas(emb, [0, 7], k=3)
    # the operator's plan puts the window over the mapInPandas output;
    # counting the final result just pins output shape here
    assert got.count() == 6


def test_ann_lsh_subset_of_bucket(emb):
    buckets = {r["vec_id"]: r["bucket"] for r in similarity.lsh_bucket(emb).collect()}
    out = similarity.ann_lsh_topk(emb, query_ids=[0], k=3).collect()
    for r in out:
        assert buckets[r["neighbor_id"]] == buckets[0]


def test_embedding_near_dup_finds_planted_copies(spark, emb):
    """Exact duplicate vectors share every band's bucket, so the
    banded-LSH near-dup must find ALL planted copies; survivors of the
    cosine re-check are genuinely >= threshold."""
    base = emb.limit(60)
    doubled = base.union(
        base.withColumn("vec_id", F.col("vec_id") + 10_000)
    )
    pairs = {
        (r["id_a"], r["id_b"]): r["cos"]
        for r in similarity.embedding_near_duplicate_pairs(
            doubled, threshold=0.98
        ).collect()
    }
    base_ids = {r["vec_id"] for r in base.select("vec_id").collect()}
    for i in base_ids:
        assert pairs[(i, i + 10_000)] == 1.0
    assert all(c >= 0.98 for c in pairs.values())


def test_embedding_near_dup_plan_no_pair_explosion(emb):
    import contextlib, io

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        similarity.embedding_near_duplicate_pairs(emb.limit(50)).explain(
            "formatted"
        )
    plan = buf.getvalue()
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_dedup_embeddings_survivor_policies(emb):
    base = emb.limit(50)
    doubled = base.union(
        base.withColumn("vec_id", F.col("vec_id") + 10_000)
    )
    base_ids = {r["vec_id"] for r in base.select("vec_id").collect()}
    for policy in ("chain", "component"):
        kept = {
            r["vec_id"]
            for r in similarity.dedup_embeddings(
                doubled, threshold=0.98, survivors=policy
            ).select("vec_id").collect()
        }
        assert not kept & {i + 10_000 for i in base_ids}  # copies gone
        assert kept <= base_ids


def test_ivf_centroids_deterministic_balanced(emb):
    c1 = similarity.ivf_centroids(emb, k=8, iters=2)
    c2 = similarity.ivf_centroids(emb, k=8, iters=2)
    assert c1 == c2  # md5-seeded init + Lloyd: no RNG anywhere
    assigned = similarity.ivf_assign(emb, c1)
    occ = {r["centroid_id"]: r["n"] for r in
           assigned.groupBy("centroid_id").agg(F.count("*").alias("n")).collect()}
    assert set(occ) <= set(range(8))
    assert sum(occ.values()) == emb.count()
    # no degenerate clustering: every bucket below half the corpus
    assert max(occ.values()) < emb.count() // 2


def test_ann_ivf_recall_and_full_probe_exactness(emb):
    """nprobe=k probes every bucket, so IVF must equal brute force
    EXACTLY; partial probes trade recall monotonically."""
    cents = similarity.ivf_centroids(emb, k=16, iters=2)
    qids = [0, 1, 2]
    brute = {(r["q_id"], r["neighbor_id"])
             for r in similarity.ann_brute_force_topk(emb, qids, k=5).collect()}

    def recall(nprobe):
        got = {(r["q_id"], r["neighbor_id"])
               for r in similarity.ann_ivf_topk(
                   emb, qids, k=5, nprobe=nprobe, centroids=cents).collect()}
        return len(got & brute)

    full = recall(16)
    assert full == len(brute) == 15
    r2, r8 = recall(2), recall(8)
    assert r2 <= r8 <= full
    assert r8 >= 10  # measured 14/15; generous deterministic floor


def test_ann_ivf_plan_no_cross_join(emb):
    import contextlib, io

    cents = similarity.ivf_centroids(emb, k=4, iters=0)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        similarity.ann_ivf_topk(
            emb, [0], k=3, nprobe=2, centroids=cents
        ).explain("formatted")
    plan = buf.getvalue()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "centroid_id" in plan  # the probe equi-join key


def test_lsh_bucket_histogram(emb):
    hist = similarity.lsh_bucket_histogram(emb).collect()
    assert sum(r["n_vecs"] for r in hist) == emb.count()


def test_textstats_columns(docs):
    out = docs.select(
        "doc_id",
        textstats.token_count(F.col("text")).alias("n_tokens"),
        textstats.bpe_token_count(F.col("text")).alias("n_bpe"),
        textstats.punct_ratio(F.col("text")).alias("punct"),
        textstats.quality_score().alias("q"),
        textstats.lang_id().alias("lang_pred"),
        textstats.fingerprint(F.col("text")).alias("fp"),
        textstats.min_word_hash(F.col("text")).alias("mwh"),
    ).collect()
    for r in out:
        assert r["n_tokens"] > 0
        assert r["n_bpe"] > 0
        assert 0.0 <= r["punct"] <= 1.0
        assert r["lang_pred"] in ("en", "de", "es", "fr")
        assert len(r["fp"]) == 32 and len(r["mwh"]) == 32


def test_multimodal_plumbing(docs):
    media = multimodal.attach_fake_binary(docs.limit(50))
    meta = multimodal.decode_media_meta(media)
    rows = meta.collect()
    assert len(rows) == 50
    for r in rows:
        assert r["n_bytes"] > 0
        if r["media_type"] == "image":
            # real BMP header parse: generator geometry bounds
            assert 4 <= r["width"] < 64 and 4 <= r["height"] < 64
            assert r["channels"] in (1, 3, 4) and r["n_frames"] == 1
        elif r["media_type"] == "audio":
            # real RIFF/WAV parse: width=sample_rate, height=bits,
            # n_frames=sample frames (generator parameter bounds)
            assert r["width"] in (8000, 16000, 22050, 44100)
            assert r["height"] in (8, 16) and r["channels"] in (1, 2)
            assert 64 <= r["n_frames"] <= 2000
        else:
            # real Y4M parse: even spatial dims, YUV channels
            assert 16 <= r["width"] <= 70 and r["width"] % 2 == 0
            assert 16 <= r["height"] <= 70 and r["channels"] == 3
            assert 2 <= r["n_frames"] <= 8
    stats = multimodal.media_stats(meta).collect()
    assert {r["media_type"] for r in stats} <= {"image", "audio", "video"}
    decoded = multimodal.decode_media(media).collect()
    assert all(len(r["pixels"]) == 16 for r in decoded)
    with pytest.raises(NotImplementedError):
        multimodal.decode_media(media, codec="pil")


def test_synthesized_bmps_are_valid_files(docs):
    """The JVM-side generator must emit structurally valid BMPs: the
    header-claimed file size equals the actual payload length, the
    pixel offset accounts for the palette exactly when 8-bpp, and the
    pure-Python parser recovers the md5-derived geometry the DuckDB
    oracle states."""
    import hashlib
    import struct

    media = multimodal.attach_fake_binary(docs.limit(60))
    images = [
        r for r in media.collect() if r["media_type"] == "image"
    ]
    texts = {r["doc_id"]: r["text"] for r in docs.limit(60).collect()}
    assert images
    for r in images:
        payload = bytes(r["media"])
        assert payload[:2] == b"BM"
        file_size, _, pix_offset = struct.unpack_from("<III", payload, 2)
        assert file_size == len(payload)
        parsed = multimodal._bmp_decode_meta(payload)
        assert parsed is not None
        w, h, c, nf, off = parsed
        assert off == pix_offset
        dig = hashlib.md5(texts[r["doc_id"]].encode()).hexdigest()
        assert w == 4 + int(dig[0:2], 16) % 60
        assert h == 4 + int(dig[2:4], 16) % 60
        bpp = (8, 24, 32)[int(dig[4:6], 16) % 3]
        assert c == (bpp // 8 if bpp >= 24 else 1)
        assert pix_offset == 54 + (1024 if bpp == 8 else 0)
        rowsize = ((w * (bpp // 8) + 3) // 4) * 4
        assert file_size == pix_offset + rowsize * h


def test_bmp_header_parser_handbuilt_and_malformed():
    """Parser unit pins on hand-assembled bytes (independent of the
    generator): a minimal 24-bpp BMP, a top-down (negative height)
    one, and malformed payloads that must fall back to None."""
    import struct

    def bmp(width, height, bpp=24, planes=1, magic=b"BM"):
        rowsize = ((width * (bpp // 8 if bpp >= 8 else 1) + 3) // 4) * 4
        img = rowsize * abs(height)
        pal = 1024 if bpp == 8 else 0
        off = 54 + pal
        head = magic + struct.pack("<IHHI", off + img, 0, 0, off)
        dib = struct.pack("<IiiHHIIiiII", 40, width, height, planes, bpp,
                          0, img, 2835, 2835, 256 if bpp == 8 else 0, 0)
        return head + dib + b"\x00" * (pal + img)

    assert multimodal._bmp_decode_meta(bmp(17, 9)) == (17, 9, 3, 1, 54)
    assert multimodal._bmp_decode_meta(bmp(5, -7)) == (5, 7, 3, 1, 54)
    assert multimodal._bmp_decode_meta(bmp(6, 6, bpp=8)) == (6, 6, 1, 1, 1078)
    assert multimodal._bmp_decode_meta(bmp(4, 4, bpp=32)) == (4, 4, 4, 1, 54)
    assert multimodal._bmp_decode_meta(bmp(3, 3, magic=b"XX")) is None
    assert multimodal._bmp_decode_meta(bmp(3, 3, planes=2)) is None
    assert multimodal._bmp_decode_meta(bmp(3, 3)[:40]) is None  # truncated
    assert multimodal._bmp_decode_meta(b"") is None
    assert multimodal._bmp_decode_meta(b"plain text payload") is None
    # file-size field claiming more bytes than present → reject
    lying = bytearray(bmp(4, 4))
    struct.pack_into("<I", lying, 2, len(lying) + 999)
    assert multimodal._bmp_decode_meta(bytes(lying)) is None


def test_ppm_header_parser():
    """P6/P5 netpbm headers parse for real, including comments and
    multi-digit dims; malformed ones fall back to None."""
    p6 = b"P6\n# a comment\n640 480\n255\n" + b"\x00" * 10
    assert multimodal._ppm_decode_meta(p6) == (640, 480, 3, 1, 27)
    p5 = b"P5 12 7 65535 " + b"\x00" * 4
    assert multimodal._ppm_decode_meta(p5) == (12, 7, 1, 1, 14)
    assert multimodal._ppm_decode_meta(b"P6 0 5 255 ") is None
    assert multimodal._ppm_decode_meta(b"P6 5 5 ") is None  # missing maxval
    assert multimodal._ppm_decode_meta(b"P3 5 5 255 ") is None  # ascii variant
    assert multimodal._ppm_decode_meta(b"") is None
    # _image_header_meta routes PPM payloads too
    assert multimodal._image_header_meta(p6) == (640, 480, 3, 1, 27)


def test_bmp_pixel_array_and_real_resize(spark):
    """The numpy BMP pixel decode must recover exact pixel values
    (bottom-up flip, padding strip, palette resolve), and resize_media
    must nearest-neighbor-resample REAL pixels for image rows."""
    import struct

    import numpy as np

    # 2x2 24-bpp BMP, bottom-up: file rows are (bottom), (top)
    w = h = 2
    rowsize = ((w * 3 + 3) // 4) * 4  # 8: 6 pixel bytes + 2 pad
    bottom = bytes([10, 10, 10, 20, 20, 20]) + b"\x00\x00"
    top = bytes([30, 30, 30, 40, 40, 40]) + b"\x00\x00"
    img = bottom + top
    head = b"BM" + struct.pack("<IHHI", 54 + len(img), 0, 0, 54)
    dib = struct.pack("<IiiHHIIiiII", 40, w, h, 1, 24, 0, len(img),
                      2835, 2835, 0, 0)
    payload = head + dib + img

    arr = multimodal._bmp_pixel_array(payload)
    assert arr.shape == (2, 2, 3)
    # top-down after flip: row 0 is the TOP image row
    assert arr[0, 0, 0] == 30 and arr[0, 1, 0] == 40
    assert arr[1, 0, 0] == 10 and arr[1, 1, 0] == 20

    media = spark.createDataFrame(
        [(1, payload, "image")], "doc_id long, media binary, media_type string",
    )
    out = multimodal.resize_media(media, width=4, height=4).collect()[0]
    got = np.frombuffer(bytes(out["pixels"]), dtype=np.uint8).reshape(4, 4)
    # nearest-neighbor 2x upscale: each source pixel becomes a 2x2 tile
    want = np.array([[30, 30, 40, 40], [30, 30, 40, 40],
                     [10, 10, 20, 20], [10, 10, 20, 20]], dtype=np.uint8)
    assert (got == want).all()

    # features: identical pixels embed identically; different pixels move it
    f1 = multimodal.extract_features(media, dim=48).collect()[0]["embedding"]
    media2 = spark.createDataFrame(
        [(2, payload, "image")], "doc_id long, media binary, media_type string",
    )
    f2 = multimodal.extract_features(media2, dim=48).collect()[0]["embedding"]
    assert f1 == f2  # content-derived, id-independent
    brighter = payload[:54] + bytes(min(255, b + 100) for b in img)
    media3 = spark.createDataFrame(
        [(3, brighter, "image")], "doc_id long, media binary, media_type string",
    )
    f3 = multimodal.extract_features(media3, dim=48).collect()[0]["embedding"]
    assert f1 != f3


def test_decode_media_real_pixels_from_bmp(spark):
    """decode_media serves REAL pixel bytes for parseable images: the
    first 16 bytes of the file's pixel-data section, not an md5 fake."""
    import struct

    width, height = 4, 2
    rowsize = ((width * 3 + 3) // 4) * 4
    img = bytes(range(rowsize * height))
    head = b"BM" + struct.pack("<IHHI", 54 + len(img), 0, 0, 54)
    dib = struct.pack("<IiiHHIIiiII", 40, width, height, 1, 24, 0,
                      len(img), 2835, 2835, 0, 0)
    payload = head + dib + img
    media = spark.createDataFrame(
        [(1, payload, "image"), (2, payload, "audio")],
        "doc_id long, media binary, media_type string",
    )
    rows = {r["doc_id"]: r for r in multimodal.decode_media(media).collect()}
    assert bytes(rows[1]["pixels"]) == img[:16]
    assert (rows[1]["width"], rows[1]["height"]) == (width, height)
    # same bytes tagged audio → fake kernel (no container sniffing
    # across declared media types)
    import hashlib

    assert bytes(rows[2]["pixels"]) == (hashlib.md5(payload).digest() * 4)[:16]


def test_pil_probe_routes_image_path(monkeypatch):
    """Contract for the day a real codec exists (r3 next-round #6):
    with a PIL stub importable, codec='auto' must route image rows
    through PIL (probe True); without it, the fake kernel serves
    (probe False).  Driven at the extracted kernel grain — a
    driver-side sys.modules patch can never reach Spark workers."""
    import sys
    import types

    # --- probe outcome 1: this container has no PIL
    assert not multimodal._pil_available()
    assert multimodal._pil_decode_meta is not None  # import stays lazy

    # --- probe outcome 2: a minimal PIL stub appears
    class _StubImage:
        width, height, n_frames = 7, 5, 2

        def getbands(self):
            return ("R", "G", "B")

        def tobytes(self):
            return b"stub-pixels-stub-pixels"

        def __enter__(self):
            return self

        def __exit__(self, *a):
            return False

    image_mod = types.ModuleType("PIL.Image")
    image_mod.open = staticmethod(lambda fp: _StubImage())
    pil_pkg = types.ModuleType("PIL")
    pil_pkg.Image = image_mod
    monkeypatch.setitem(sys.modules, "PIL", pil_pkg)
    monkeypatch.setitem(sys.modules, "PIL.Image", image_mod)

    assert multimodal._pil_available()
    assert multimodal._pil_decode_meta(b"anything") == (7, 5, 3, 2)

    # image row + use_real: dims and pixels come from the stub
    row = multimodal._decode_row(1, b"payload", "image", True)
    assert row == (1, "image", b"stub-pixels-stub", 7, 5)
    # non-image rows and use_real=False stay on the fake kernel
    import hashlib as _hl

    fake_pixels = (_hl.md5(b"payload").digest() * 4)[:16]
    assert multimodal._decode_row(1, b"payload", "audio", True)[2] == fake_pixels
    assert multimodal._decode_row(1, b"payload", "image", False)[2] == fake_pixels


def test_decode_media_auto_equals_fake_without_pil(spark):
    """In this container codec='auto' must degrade to the fake kernel
    byte-for-byte (the call-time probe returns False)."""
    media = spark.createDataFrame(
        [(1, b"aa", "image"), (2, b"bb", "audio")],
        "doc_id long, media binary, media_type string",
    )
    auto = sorted(map(tuple, multimodal.decode_media(media, codec="auto").collect()))
    fake = sorted(map(tuple, multimodal.decode_media(media, codec="fake").collect()))
    assert auto == fake


def test_streaming_clean_and_windows(spark, sf_dir, tmp_path):
    from wikiextractor_spark.streaming import (
        clean_documents_stream,
        windowed_event_counts,
    )

    q1 = clean_documents_stream(
        spark,
        f"{sf_dir}",  # directory containing documents.parquet… use a copy
        str(tmp_path / "out"),
        str(tmp_path / "ckpt"),
    )
    q1.awaitTermination(120)
    out = spark.read.parquet(str(tmp_path / "out"))
    assert out.count() > 0
    assert set(out.columns) == {"doc_id", "lang", "cleaned"}

    import shutil, os
    ev_dir = tmp_path / "events_in"
    os.makedirs(ev_dir, exist_ok=True)
    shutil.copy(f"{sf_dir}/events.parquet", ev_dir / "events.parquet")
    # production path: append-mode parquet sink, state stays on executors
    q2 = windowed_event_counts(
        spark, str(ev_dir), str(tmp_path / "ev_out"), str(tmp_path / "ev_ckpt"),
        watermark="1 second",
    )
    q2.awaitTermination(120)
    agg = spark.read.parquet(str(tmp_path / "ev_out")).collect()
    assert agg and all(r["n_events"] > 0 for r in agg)
    # harness-only memory sink still works for interactive inspection
    from wikiextractor_spark.streaming import windowed_event_counts_memory

    q3 = windowed_event_counts_memory(spark, str(ev_dir), query_name="evc_test")
    q3.awaitTermination(120)
    mem = spark.sql("SELECT * FROM evc_test").collect()
    assert len(mem) >= len(agg)


def test_streaming_eviction_boundary_inclusive(spark, tmp_path):
    """Pin Spark's append-mode eviction boundary (r3 ADVICE): a window
    whose end EQUALS the final watermark is emitted (inclusive, i.e.
    emit when watermark >= window end).  st_stream_hourly's oracle and
    read-back filter both use `window_end <= max_ts - delay`; this
    test is what licenses the <= — if a Spark upgrade makes eviction
    strict, this fails before the battery flakes."""
    import datetime

    from wikiextractor_spark.session import tune
    from wikiextractor_spark.streaming import windowed_event_counts

    tune(spark)

    def nanos(s):
        return int(
            datetime.datetime.fromisoformat(s + "+00:00").timestamp()
            * 1_000_000_000
        )

    # window [10:00, 11:00); final event at exactly 11:00:01 with a 1s
    # watermark delay -> final watermark = 11:00:00 == window end
    rows = [
        (1, nanos("2024-01-01 10:15:00"), 1, "click", 1.0, "{}"),
        (2, nanos("2024-01-01 10:45:00"), 1, "click", 1.0, "{}"),
        (3, nanos("2024-01-01 11:00:01"), 1, "view", 1.0, "{}"),
    ]
    df = spark.createDataFrame(
        rows,
        "event_id long, ts long, user_id long, event_type string, "
        "value double, props string",
    )
    df.coalesce(1).write.mode("overwrite").parquet(str(tmp_path / "in"))
    q = windowed_event_counts(
        spark, str(tmp_path / "in"), str(tmp_path / "out"),
        str(tmp_path / "ckpt"), watermark="1 second",
    )
    assert q.awaitTermination(120)
    emitted = {
        (str(r["window"]["end"]), r["event_type"], r["n_events"])
        for r in spark.read.parquet(str(tmp_path / "out")).collect()
    }
    # the boundary window IS emitted; the still-open trailing window
    # (containing the 11:00:01 event) is NOT
    assert emitted == {("2024-01-01 11:00:00", "click", 2)}


def test_asof_join_semantics(spark):
    from wikiextractor_spark.operators.asof import asof_join

    left = spark.createDataFrame(
        [(1, 10, "a"), (1, 20, "b"), (1, 5, "c"), (2, 10, "d"), (3, 10, "e")],
        "k long, ts long, tag string",
    )
    right = spark.createDataFrame(
        [(1, 10, 100.0), (1, 15, 150.0), (2, 11, 200.0)],
        "k long, ts long, v double",
    )
    got = {
        (r["k"], r["ts"]): (r["asof_ts"], r["asof_v"])
        for r in asof_join(left, right, on="k", how="left").collect()
    }
    assert got[(1, 10)] == (10, 100.0)   # equal ts matches
    assert got[(1, 20)] == (15, 150.0)   # most recent prior wins
    assert got[(1, 5)] == (None, None)   # nothing at-or-before
    assert got[(2, 10)] == (None, None)  # right row is later
    assert got[(3, 10)] == (None, None)  # key absent on the right
    inner = asof_join(left, right, on="k", how="inner").collect()
    assert {(r["k"], r["ts"]) for r in inner} == {(1, 10), (1, 20)}


def test_asof_join_plan_no_pair_explosion(spark):
    """The as-of composition must plan as ONE key shuffle + window —
    never a nested-loop/cartesian inequality join."""
    import contextlib, io

    from wikiextractor_spark.operators.asof import asof_join

    left = spark.range(100).select(
        (F.col("id") % 5).alias("k"), F.col("id").alias("ts"),
        F.col("id").alias("x"),
    )
    right = spark.range(50).select(
        (F.col("id") % 5).alias("k"), (F.col("id") * 2).alias("ts"),
        F.col("id").alias("v"),
    )
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        asof_join(left, right, on="k").explain("formatted")
    plan = buf.getvalue()
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "Window" in plan


def test_range_join_semantics(spark):
    from wikiextractor_spark.operators.rangejoin import range_join

    points = spark.createDataFrame(
        [(1, 0.0), (2, 5.0), (3, 9.999), (4, 10.0), (5, 25.0), (6, -1.0)],
        "pid long, x double",
    )
    intervals = spark.createDataFrame(
        [(100, 0.0, 10.0), (200, 5.0, 15.0), (300, 30.0, 40.0)],
        "iid long, lo double, hi double",
    )
    got = {
        (r["pid"], r["iid"])
        for r in range_join(points, intervals, "x", bucket_width=4.0).collect()
    }
    # pid 1: lo inclusive; pid 2/3: overlapping intervals both match;
    # pid 4: hi exclusive (10.0 not in [0,10)); pid 5/6: no interval
    assert got == {(1, 100), (2, 100), (2, 200), (3, 100), (3, 200), (4, 200)}


def test_range_join_plan_no_pair_explosion(spark):
    import contextlib, io

    from wikiextractor_spark.operators.rangejoin import range_join

    points = spark.range(1000).select(F.col("id").cast("double").alias("x"))
    intervals = spark.range(10).select(
        (F.col("id") * 100.0).alias("lo"), (F.col("id") * 100.0 + 100.0).alias("hi")
    )
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        range_join(points, intervals, "x", bucket_width=100.0).explain("formatted")
    plan = buf.getvalue()
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_deterministic_sample(spark):
    from wikiextractor_spark.operators.sampling import deterministic_sample

    df = spark.range(10_000).select(F.col("id").alias("user_id"))
    s1 = {r["user_id"] for r in deterministic_sample(df, "user_id", 0.2).collect()}
    s2 = {r["user_id"] for r in deterministic_sample(df, "user_id", 0.2).collect()}
    assert s1 == s2                      # reproducible
    assert 0.15 < len(s1) / 10_000 < 0.25  # ~fraction
    # consistency across tables sharing the key: gating events by the
    # same key keeps exactly the sampled users' rows
    ev = spark.range(30_000).select((F.col("id") % 10_000).alias("user_id"))
    ev_s = {r["user_id"] for r in deterministic_sample(ev, "user_id", 0.2).collect()}
    assert ev_s == s1
    # a different salt draws an (almost surely) different sample
    s3 = {r["user_id"] for r in deterministic_sample(df, "user_id", 0.2, salt="x").collect()}
    assert s3 != s1
    # monotone: a bigger gate contains the smaller one
    s4 = {r["user_id"] for r in deterministic_sample(df, "user_id", 0.5).collect()}
    assert s1 <= s4


def test_deterministic_sample_null_keys(spark):
    """NULL keys must get a deterministic fate, not silent loss:
    fraction=1.0 is the identity even with NULL keys present."""
    from wikiextractor_spark.operators.sampling import deterministic_sample

    df = spark.createDataFrame(
        [(None,), (1,), (2,)], "user_id long"
    )
    assert deterministic_sample(df, "user_id", 1.0).count() == 3
    # NULL rows land on one reproducible side of any gate
    a = deterministic_sample(df, "user_id", 0.5).filter(
        F.col("user_id").isNull()).count()
    b = deterministic_sample(df, "user_id", 0.5).filter(
        F.col("user_id").isNull()).count()
    assert a == b


def test_cap_per_group(spark):
    from wikiextractor_spark.operators.sampling import cap_per_group

    df = spark.range(1000).select(
        (F.col("id") % 3).alias("g"), F.col("id").alias("doc_id")
    )
    capped = cap_per_group(df, ["g"], k=10, id_col="doc_id")
    sizes = {
        r["g"]: r["n"]
        for r in capped.groupBy("g").agg(F.count("*").alias("n")).collect()
    }
    assert all(n == 10 for n in sizes.values()) and len(sizes) == 3
    # deterministic selection
    a = {tuple(r) for r in capped.collect()}
    b = {tuple(r) for r in cap_per_group(df, ["g"], 10, "doc_id").collect()}
    assert a == b
    # groups smaller than k survive whole
    small = cap_per_group(df.filter(F.col("doc_id") < 5), ["g"], 10, "doc_id")
    assert small.count() == 5


def test_split_train_eval(spark):
    from wikiextractor_spark.operators.sampling import (
        deterministic_sample,
        split_train_eval,
    )

    df = spark.range(10_000).select(F.col("id").alias("user_id"))
    train, ev = split_train_eval(df, "user_id", 0.1)
    tr = {r["user_id"] for r in train.collect()}
    ho = {r["user_id"] for r in ev.collect()}
    # disjoint and exhaustive — no key lost, none on both sides
    assert tr.isdisjoint(ho) and len(tr) + len(ho) == 10_000
    assert 0.06 < len(ho) / 10_000 < 0.14
    # reproducible
    tr2, _ = split_train_eval(df, "user_id", 0.1)
    assert {r["user_id"] for r in tr2.collect()} == tr
    # eval side IS the deterministic sample at the same (fraction,
    # salt): one hash family, complementary gates
    samp = {
        r["user_id"]
        for r in deterministic_sample(df, "user_id", 0.1, salt="split").collect()
    }
    assert samp == ho


def test_stratified_sample(spark):
    from wikiextractor_spark.operators.sampling import stratified_sample

    df = spark.range(30_000).select(
        F.col("id").alias("doc_id"),
        F.element_at(
            F.array(F.lit("en"), F.lit("de"), F.lit("fr")),
            (F.col("id") % 3 + 1).cast("int"),
        ).alias("lang"),
    )
    got = stratified_sample(
        df, "lang", {"en": 0.5, "de": 0.1}, key_col="doc_id"
    )
    rates = {
        r["lang"]: r["n"] / 10_000
        for r in got.groupBy("lang").agg(F.count("*").alias("n")).collect()
    }
    assert 0.45 < rates["en"] < 0.55
    assert 0.07 < rates["de"] < 0.13
    assert "fr" not in rates  # default_fraction=0 drops unlisted groups
    # default keeps unlisted groups at the given rate
    with_default = stratified_sample(
        df, "lang", {"en": 0.5}, key_col="doc_id", default_fraction=1.0
    )
    n_fr = with_default.filter(F.col("lang") == "fr").count()
    assert n_fr == 10_000
    # deterministic
    a = {r["doc_id"] for r in got.collect()}
    b = {
        r["doc_id"]
        for r in stratified_sample(
            df, "lang", {"en": 0.5, "de": 0.1}, key_col="doc_id"
        ).collect()
    }
    assert a == b


def test_sample_token_budget(spark, sf_dir):
    from wikiextractor_spark.operators.sampling import sample_token_budget

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    tok = F.sum(F.size(F.split("text", " "))).alias("t")
    total = docs.select(tok).collect()[0]["t"]

    budget = total // 3
    s = sample_token_budget(docs, budget)
    got = s.select(tok).collect()[0]["t"]
    # within sampling noise of the target (wide band: few hundred docs)
    assert 0.75 * budget <= got <= 1.25 * budget
    # reproducible: same ids both runs
    a = {r.doc_id for r in s.select("doc_id").collect()}
    b = {r.doc_id for r in sample_token_budget(docs, budget).select("doc_id").collect()}
    assert a == b
    # budget >= total is the identity
    assert sample_token_budget(docs, total).count() == docs.count()
    # token_col grain: exact column is used, not a text re-split
    with_tok = docs.withColumn("n_tok", F.size(F.split("text", " ")))
    s2 = sample_token_budget(with_tok, budget, token_col="n_tok")
    assert {r.doc_id for r in s2.select("doc_id").collect()} == a
    import pytest as _pytest

    with _pytest.raises(ValueError):
        sample_token_budget(docs, -1)


def test_chunk_documents_edges(spark):
    from wikiextractor_spark.operators.chunking import chunk_documents

    df = spark.createDataFrame(
        [
            (1, "a b c"),                      # shorter than one chunk
            (2, " ".join(f"w{i}" for i in range(8))),   # exactly one chunk
            (3, " ".join(f"w{i}" for i in range(9))),   # one word over
            (4, " ".join(f"w{i}" for i in range(20))),  # several chunks
        ],
        "doc_id long, text string",
    )
    out = chunk_documents(df, chunk_tokens=8, overlap=2)
    rows = {
        (r["doc_id"], r["chunk_no"]): (r["chunk"], r["n_tokens"])
        for r in out.collect()
    }
    assert rows[(1, 0)] == ("a b c", 3)
    assert max(no for d, no in rows if d == 2) == 0        # fits → 1 chunk
    assert max(no for d, no in rows if d == 3) == 1        # 9 words → 2
    # step = 6: consecutive chunks overlap by exactly 2 tokens
    c0, c1 = rows[(4, 0)][0].split(" "), rows[(4, 1)][0].split(" ")
    assert c0[-2:] == c1[:2]
    assert rows[(4, 0)][1] == 8
    # every token of every doc appears in some chunk
    covered = set()
    for (d, _no), (chunk, _n) in rows.items():
        if d == 4:
            covered.update(chunk.split(" "))
    assert covered == {f"w{i}" for i in range(20)}


def test_chunk_token_ids_edges(spark):
    """chunk_documents' edge grid at MODEL-token grain: fits-in-one,
    exact boundary, one over, multi-chunk overlap coverage, empty
    stream, NULL stream."""
    from wikiextractor_spark.operators.chunking import chunk_token_ids

    def ids(n, base=0):
        return [base + i for i in range(n)]

    df = spark.createDataFrame(
        [
            (1, ids(3)),
            (2, ids(8)),
            (3, ids(9)),
            (4, ids(20, 100)),
            (5, []),
            (6, None),
        ],
        "doc_id long, token_ids array<long>",
    )
    out = chunk_token_ids(df, chunk_tokens=8, overlap=2)
    rows = {
        (r["doc_id"], r["chunk_no"]): (list(r["token_ids"]), r["n_tokens"])
        for r in out.collect()
    }
    assert rows[(1, 0)] == (ids(3), 3)
    assert max(no for d, no in rows if d == 2) == 0
    assert max(no for d, no in rows if d == 3) == 1
    c0, c1 = rows[(4, 0)][0], rows[(4, 1)][0]
    assert c0[-2:] == c1[:2]  # step 6 → exactly 2 ids of overlap
    assert rows[(4, 0)][1] == 8
    covered = set()
    for (d, _no), (chunk, _n) in rows.items():
        if d == 4:
            covered.update(chunk)
    assert covered == set(ids(20, 100))
    # empty stream survives as one empty chunk; NULL emits nothing
    assert rows[(5, 0)] == ([], 0)
    assert not any(d == 6 for d, _no in rows)
    with pytest.raises(ValueError, match="overlap"):
        chunk_token_ids(df, chunk_tokens=4, overlap=4)
    # zero shuffle, zero Python — the scan-speed contract
    plan = chunk_token_ids(df, chunk_tokens=8, overlap=2)
    p = plan._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in p
    assert "EvalPython" not in p


def test_assemble_packs_plan_shape(spark):
    """The id streams never enter Python: the only Python stage in
    the whole assemble plan is the FFD assignment over the narrow
    (id, cost) projection, and nothing plans a cartesian product."""
    from wikiextractor_spark.operators.packing import assemble_packs

    df = spark.createDataFrame(
        [(i, list(range(i % 7))) for i in range(50)],
        "doc_id long, token_ids array<long>",
    )
    out = assemble_packs(
        df, budget=16, num_groups=2, persist_input=False
    )
    p = out._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p
    # exactly one Python stage (FlatMapGroupsInPandas = the FFD
    # kernel); the content join/concat is JVM-only
    assert p.count("FlatMapGroupsInPandas") == 1
    assert "ArrowEvalPython" not in p and "BatchEvalPython" not in p


def test_dedup_near_end_to_end(spark, docs):
    """Planted exact copies (jaccard 1.0) must be LSH-proposed,
    Jaccard-verified, and dropped; the survivors are the original
    smaller ids."""
    base = docs.select("doc_id", "text").limit(100)
    doubled = base.union(
        base.withColumn("doc_id", F.col("doc_id") + 1_000_000)
    )
    kept = dedup.dedup_near(doubled, threshold=0.9)
    kept_ids = {r["doc_id"] for r in kept.select("doc_id").collect()}
    base_ids = {r["doc_id"] for r in base.select("doc_id").collect()}
    # some SOURCE docs are themselves near-identical (the corpus has
    # natural near-dups); originals without a smaller-id near-dup in
    # the source corpus must all survive
    native_losers = {
        r["id_b"]
        for r in dedup.near_duplicate_pairs(base, threshold=0.9).collect()
    }
    assert base_ids - native_losers <= kept_ids
    assert not native_losers & kept_ids
    assert not {i + 1_000_000 for i in base_ids} & kept_ids
    pairs = dedup.near_duplicate_pairs(doubled, threshold=0.9).collect()
    planted = {(r["id_a"], r["id_b"]) for r in pairs}
    assert all(a < b for a, b in planted)
    assert {(i, i + 1_000_000) for i in base_ids} <= planted


def test_connected_component_survivors(spark):
    """Min-label propagation: a transitive chain 1~2~3 (1 and 3 not
    directly paired) keeps exactly ONE survivor per component."""
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11)], "id_a long, id_b long"
    )
    labels = {
        r["id"]: r["label"]
        for r in dedup.connected_component_labels(pairs).collect()
    }
    assert labels == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10}


def test_connected_component_long_chain_pointer_jumping(spark):
    """A 300-hop chain converges well inside max_iter=20: pointer
    jumping halves the unresolved distance per round (~log₂ rounds),
    where plain neighbor-min propagation would need 300 rounds and
    silently over-segment (r3 ADVICE)."""
    import warnings as _w

    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(300)], "id_a long, id_b long"
    )
    with _w.catch_warnings():
        _w.simplefilter("error", RuntimeWarning)  # non-convergence fails
        labels = {
            r["id"]: r["label"]
            for r in dedup.connected_component_labels(pairs, max_iter=20).collect()
        }
    assert set(labels.values()) == {0}
    assert len(labels) == 301


def test_connected_component_nonconvergence_is_loud(spark):
    """When max_iter is genuinely too small the result must not be
    silent: 'warn' raises RuntimeWarning, 'raise' raises."""
    import warnings as _w

    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(200)], "id_a long, id_b long"
    )
    with _w.catch_warnings(record=True) as caught:
        _w.simplefilter("always")
        dedup.connected_component_labels(pairs, max_iter=1).collect()
    assert any(issubclass(w.category, RuntimeWarning) for w in caught)
    with pytest.raises(RuntimeError, match="did not converge"):
        dedup.connected_component_labels(
            pairs, max_iter=1, on_nonconverged="raise"
        ).collect()
    with pytest.raises(ValueError):
        dedup.connected_component_labels(pairs, on_nonconverged="bogus")


def test_dedup_near_component_survivors(spark, docs):
    """survivors='component' keeps the component-min id of every
    planted duplicate group (exact copies form one component)."""
    base = docs.select("doc_id", "text").limit(40)
    tripled = (
        base.union(base.withColumn("doc_id", F.col("doc_id") + 1_000_000))
        .union(base.withColumn("doc_id", F.col("doc_id") + 2_000_000))
    )
    kept = dedup.dedup_near(tripled, threshold=0.9, survivors="component")
    kept_ids = {r["doc_id"] for r in kept.select("doc_id").collect()}
    # no survivor is a planted copy, and at most one per component
    assert not {i for i in kept_ids if i >= 1_000_000}
    chain = dedup.dedup_near(tripled, threshold=0.9, survivors="chain")
    assert kept_ids <= {r["doc_id"] for r in chain.select("doc_id").collect()}


def test_asof_join_bucketed_equals_plain(spark):
    """The time-bucketed hot-key variant must be value-identical to
    the plain composition, including cross-bucket carries and empty
    buckets between a right row and its left consumers."""
    from wikiextractor_spark.operators.asof import asof_join, asof_join_bucketed

    left = spark.range(300).select(
        (F.col("id") % 7).alias("k"),
        ((F.col("id") * 37) % 1000).alias("ts"),
        F.col("id").alias("x"),
    )
    right = spark.range(60).select(
        (F.col("id") % 7).alias("k"),
        ((F.col("id") * 91) % 1000).alias("ts"),
        F.col("id").alias("v"),
    ).groupBy("k", "ts").agg(F.max("v").alias("v"))  # unique (k, ts)
    for how in ("inner", "left"):
        plain = {
            (r["k"], r["ts"], r["x"]): (r["asof_ts"], r["asof_v"])
            for r in asof_join(left, right, on="k", how=how).collect()
        }
        for width in (50, 1000, 7):
            bucketed = {
                (r["k"], r["ts"], r["x"]): (r["asof_ts"], r["asof_v"])
                for r in asof_join_bucketed(
                    left, right, on="k", how=how, bucket_width=width
                ).collect()
            }
            assert bucketed == plain, (how, width)


def test_decode_media_codec_gating(docs):
    """codec='auto' falls back to the fake kernel when PIL is absent
    (value-identical to codec='fake'); codec='pil' raises loudly."""
    media = multimodal.attach_fake_binary(docs.limit(20))
    fake = {
        r["doc_id"]: (bytes(r["pixels"]), r["width"], r["height"])
        for r in multimodal.decode_media(media, codec="fake").collect()
    }
    auto = {
        r["doc_id"]: (bytes(r["pixels"]), r["width"], r["height"])
        for r in multimodal.decode_media(media, codec="auto").collect()
    }
    try:
        import PIL.Image  # noqa: F401
        has_pil = True
    except ImportError:
        has_pil = False
    if not has_pil:
        assert auto == fake
        with pytest.raises(NotImplementedError):
            multimodal.decode_media(media, codec="pil")
    else:
        # real branch: image rows decoded by PIL (payloads here are
        # not real images, so PIL fails per-row and falls back too)
        assert set(auto) == set(fake)
    with pytest.raises(NotImplementedError):
        multimodal.decode_media(media, codec="ffmpeg")


def test_spread_for_compute_conditional(spark, tmp_path, monkeypatch):
    """spread_for_compute must widen a low-split FILE-BACKED frame to
    the default parallelism, pass a many-file frame through UNTOUCHED
    (no shuffle at corpus scale, where splits >> cores), treat
    non-file frames as unknown (pass-through unless the caller
    asserts), and never touch df.rdd — an .rdd access would compile a
    physical plan outside AQE."""
    from pyspark.sql import DataFrame

    from wikiextractor_spark.operators.skew import (
        packed_file_splits,
        spread_for_compute,
    )

    target = spark.sparkContext.defaultParallelism

    # single-row-group parquet: the canonical low-split shape
    single = tmp_path / "single"
    spark.range(1000).coalesce(1).write.parquet(str(single))
    narrow = spark.read.parquet(str(single)).select("id")
    assert packed_file_splits(narrow) == 1

    # the probe must not compile a plan via .rdd
    def _no_rdd(self):
        raise AssertionError("spread_for_compute touched df.rdd")

    monkeypatch.setattr(DataFrame, "rdd", property(_no_rdd))
    spread = spread_for_compute(narrow)
    assert spread is not narrow
    monkeypatch.undo()
    assert spread.rdd.getNumPartitions() == target
    assert spread.count() == 1000

    # many files >= target cores: identity, not a new plan
    many = tmp_path / "many"
    spark.range(1000).repartition(target + 8).write.parquet(str(many))
    wide = spark.read.parquet(str(many))
    assert spread_for_compute(wide) is wide

    # in-memory frame: unknown splits -> untouched...
    mem = spark.range(1000).coalesce(1)
    assert packed_file_splits(mem) is None
    assert spread_for_compute(mem) is mem
    # ...unless the caller asserts the split count
    forced = spread_for_compute(mem, assume_splits=1)
    assert forced is not mem and forced.rdd.getNumPartitions() == target

    # explicit min_partitions below the estimate: identity
    assert spread_for_compute(narrow, min_partitions=1) is narrow


def _planned_splits(df):
    """packed_file_splits(df), checked against the partitions Spark
    plans for the same frame."""
    from wikiextractor_spark.operators.skew import packed_file_splits

    est = packed_file_splits(df)
    assert est == df.rdd.getNumPartitions()
    return est


def test_packed_file_splits_estimate(spark, tmp_path):
    """packed_file_splits reads the scan partitions Spark plans: it
    equals the frame's own ``rdd.getNumPartitions()`` on layouts
    without row groups (bin-packed small files); frames with no
    file-scan leaf are unknown (None)."""
    from wikiextractor_spark.operators.skew import packed_file_splits

    # one small file -> 1
    one = tmp_path / "one.txt"
    one.write_text("x" * 10_000)
    assert _planned_splits(spark.read.text(str(one))) == 1

    # many tiny files: Spark bin-packs them far below the file count
    many = tmp_path / "many"
    many.mkdir()
    for i in range(40):
        (many / f"p{i}.txt").write_text(f"line {i}\n")
    assert _planned_splits(spark.read.text(str(many))) < 40

    # no file-scan leaf: unknown
    assert packed_file_splits(spark.range(5)) is None
    assert packed_file_splits(spark.range(5).localCheckpoint()) is None
    assert packed_file_splits(spark.readStream.format("rate").load()) is None


def test_effective_splits_codec_and_rowgroups(spark, tmp_path):
    """The split estimate is codec- and row-group-aware: unsplittable
    compressed files count one split each; a parquet file counts at
    most its row groups, even where Spark plans more byte ranges."""
    import gzip

    from wikiextractor_spark.operators.skew import packed_file_splits

    # unsplittable codec: one split per file regardless of size
    t = tmp_path / "gz"
    t.mkdir()
    with gzip.open(t / "a.json.gz", "wt") as f:
        for i in range(100):
            f.write(f'{{"doc_id": {i}, "text": "t{i}"}}\n')
    gz = spark.read.schema("doc_id long, text string").json(str(t))
    assert _planned_splits(gz) == 1

    # three small single-row-group parquet files: one split each
    p = tmp_path / "rg"
    spark.range(300).repartition(3).write.parquet(str(p))
    assert packed_file_splits(spark.read.parquet(str(p))) == 3

    # a multi-MB single-row-group parquet counts 1: Spark cuts byte
    # ranges past the one row group, whose tasks do no work
    single = tmp_path / "single"
    spark.range(200_000).select(
        F.md5(F.col("id").cast("string")).alias("h")
    ).coalesce(1).write.parquet(str(single))
    key = "spark.sql.files.maxPartitionBytes"
    orig = spark.conf.get(key)
    spark.conf.set(key, "1m")
    try:
        one_rg = spark.read.parquet(str(single))
        assert one_rg.rdd.getNumPartitions() > 1
        assert packed_file_splits(one_rg) == 1
    finally:
        spark.conf.set(key, orig)


def test_salted_join_equals_plain_join(spark):
    from wikiextractor_spark.operators.skew import salted_join

    # 90% of fact rows hit one hot key
    fact = spark.range(10_000).select(
        F.when(F.col("id") % 10 < 9, F.lit(7)).otherwise(F.col("id") % 50)
        .alias("k"),
        F.col("id").alias("fact_id"),
    )
    dim = spark.range(50).select(
        F.col("id").alias("k"), F.concat(F.lit("d"), F.col("id")).alias("label")
    )
    for how in ("inner", "left"):
        plain = {
            (r["fact_id"], r["label"])
            for r in fact.join(dim, "k", how).collect()
        }
        salted = {
            (r["fact_id"], r["label"])
            for r in salted_join(fact, dim, "k", buckets=8, how=how).collect()
        }
        assert salted == plain
    # a dim key missing from fact must not resurface (inner semantics)
    assert salted_join(
        fact, dim.filter(F.col("k") == 49), "k", buckets=4
    ).count() == fact.filter(F.col("k") == 49).count()


def test_salted_join_plan_joins_on_salt(spark):
    import contextlib, io

    from wikiextractor_spark.operators.skew import salted_join

    fact = spark.range(100).select((F.col("id") % 3).alias("k"), "id")
    dim = spark.range(3).select(F.col("id").alias("k"), F.lit("x").alias("v"))
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        salted_join(fact, dim, "k", buckets=4).explain("formatted")
    plan = buf.getvalue()
    assert "_salt" in plan  # the salt participates in the join keys


def test_multimodal_resize_and_frames(docs):
    media = multimodal.attach_fake_binary(docs.limit(30))
    resized = multimodal.resize_media(media, width=32, height=32).collect()
    assert len(resized) == 30
    # one gray byte per target pixel from EVERY kernel (real BMP
    # resample, real PCM resample, real Y-plane resize)
    assert all(r["width"] == 32 and len(r["pixels"]) == 32 * 32 for r in resized)
    frames = multimodal.sample_frames(media, n_frames=4).collect()
    n_videos = sum(1 for r in media.collect() if r["media_type"] == "video")
    assert len(frames) == 4 * n_videos
    # deterministic per (doc, frame)
    frames2 = multimodal.sample_frames(media, n_frames=4).collect()
    assert {(r["doc_id"], r["frame_no"]): bytes(r["frame"]) for r in frames} == {
        (r["doc_id"], r["frame_no"]): bytes(r["frame"]) for r in frames2
    }


def test_multimodal_extract_features(docs, spark):
    import math

    from pyspark.sql import functions as F

    from wikiextractor_spark.operators.similarity import ann_topk_blas

    media = multimodal.attach_fake_binary(docs.limit(30))
    feats = multimodal.extract_features(media, dim=32)
    rows = feats.collect()
    assert len(rows) == 30
    for r in rows[:5]:
        assert len(r["embedding"]) == 32
        assert abs(math.sqrt(sum(x * x for x in r["embedding"])) - 1.0) < 1e-3
    # deterministic
    again = {r["doc_id"]: r["embedding"] for r in multimodal.extract_features(media, dim=32).collect()}
    assert {r["doc_id"]: r["embedding"] for r in rows} == again
    # the typed array<float> output feeds the ANN path directly
    vecs = feats.select(F.col("doc_id").alias("vec_id"), "embedding")
    qids = [rows[0]["doc_id"], rows[1]["doc_id"]]
    topk = ann_topk_blas(vecs, query_ids=qids, k=3)
    assert topk.count() == 2 * 3
    import pytest as _pytest

    with _pytest.raises(ValueError):
        multimodal.extract_features(media, dim=0)


def test_heavy_hitters_matches_full_groupby(docs, spark):
    from wikiextractor_spark.operators.sketches import heavy_hitters

    words = docs.select(F.explode(F.split("text", " ")).alias("w"))
    for k in (5, 20):
        got = [(r["value"], r["n"]) for r in heavy_hitters(words, "w", k=k).collect()]
        want = [
            (r["w"], r["n"])
            for r in words.filter("w != ''")
            .groupBy("w")
            .agg(F.count("*").alias("n"))
            .orderBy(F.desc("n"), "w")
            .limit(k)
            .collect()
        ]
        assert got == want


def test_heavy_hitters_with_total_matches_separate_passes(docs, spark):
    """The fused candidates+total pass must agree with heavy_hitters
    AND an exact count — same top-k, exact grand total, no extra
    corpus scan paid for the scalar."""
    from wikiextractor_spark.operators.sketches import (
        heavy_hitters,
        heavy_hitters_with_total,
    )

    words = docs.select(F.explode(F.split("text", " ")).alias("w")).filter(
        "w != ''"
    )
    topk, total = heavy_hitters_with_total(words, "w", k=10)
    assert total == words.count()
    got = [(r["value"], r["n"]) for r in topk.collect()]
    want = [
        (r["value"], r["n"])
        for r in heavy_hitters(words, "w", k=10).collect()
    ]
    assert got == want
    # empty input: total 0, no candidates, no crash
    topk0, total0 = heavy_hitters_with_total(
        words.filter("w = 'no-such-token'"), "w", k=5
    )
    assert total0 == 0 and topk0.count() == 0


def test_lm_threshold_from_quantile(spark):
    """threshold_from_quantile: gating at the q-quantile keeps about
    1-q of the corpus, deterministically given the data."""
    from wikiextractor_spark.functions.lmquality import (
        filter_by_logprob,
        fit_unigram_lm,
        threshold_from_quantile,
    )

    # doc i mixes i+1 in-vocab tokens with one OOV token, so the mean
    # log-probability increases strictly with doc_id — every doc has a
    # distinct score and the q-quantile cut is unambiguous
    rows = [(i, ("the " * (i + 1)) + f"zzz{i}q") for i in range(100)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    lm = fit_unigram_lm(docs, vocab_size=1)  # vocab = {'the'}

    thr = threshold_from_quantile(lm, docs, q=0.20)
    kept = filter_by_logprob(docs, lm, min_mean_logp=thr)
    n = kept.count()
    # the bottom ~20% (the lowest-scoring docs) drops
    assert 75 <= n <= 85
    assert kept.filter("doc_id < 15").count() == 0
    # deterministic given the data
    assert thr == threshold_from_quantile(lm, docs, q=0.20)
    import pytest as _pytest

    with _pytest.raises(ValueError):
        threshold_from_quantile(lm, docs, q=1.5)


def test_heavy_hitters_thin_spread_value(spark):
    """A value spread thinly across many partitions must still win:
    the per-TASK counter (not per-batch) merges its occurrences."""
    from wikiextractor_spark.operators.sketches import heavy_hitters

    # 'hot' appears twice in each of 200 groups of otherwise-unique
    # values; every partition sees it only a few times
    df = (
        spark.range(10_000)
        .repartition(16)
        .selectExpr("CASE WHEN id % 25 < 2 THEN 'hot' ELSE concat('v', id) END AS w")
    )
    top = heavy_hitters(df, "w", k=1, candidates_per_partition=5).collect()
    assert top[0]["value"] == "hot"
    assert top[0]["n"] == 800  # 2 of every 25 ids


def test_heavy_hitters_bounded_memory_high_cardinality(spark):
    """Per-task distinct cardinality ≫ candidates_per_partition: the
    Misra-Gries summary holds ≤ m entries between batches (the old
    exact dict would hold ~12k strings per task here) yet the true
    heavy hitters still win with exact counts."""
    from wikiextractor_spark.operators.sketches import heavy_hitters

    # 5 hot values at 10% share each; ~100k singleton values
    df = (
        spark.range(200_000)
        .repartition(8)
        .selectExpr(
            "CASE WHEN id % 10 < 5 THEN concat('hot', id % 5) "
            "ELSE concat('v', id) END AS w"
        )
    )
    got = [
        (r["value"], r["n"])
        for r in heavy_hitters(
            df, "w", k=5, candidates_per_partition=50
        ).collect()
    ]
    want = [(f"hot{i}", 20_000) for i in range(5)]
    assert got == want


def test_heavy_hitters_candidate_broadcast_is_capped(spark):
    """With artificially many partitions, the broadcast candidate set
    must stay under max_candidates — the merge tree bounds it by a
    constant, not by m x n_tasks — while the true heavy hitters still
    win with exact counts."""
    from wikiextractor_spark.operators.sketches import (
        candidate_values,
        heavy_hitters,
    )

    # 64 partitions x m=50 would union up to 3200 candidates unmerged
    df = (
        spark.range(100_000)
        .repartition(64)
        .selectExpr(
            "CASE WHEN id % 10 < 3 THEN concat('hot', id % 3) "
            "ELSE concat('v', id) END AS w"
        )
    )
    src = df.selectExpr("CAST(w AS STRING) AS value")
    n_cand = candidate_values(
        src, m=50, max_candidates=100, merge_parallelism=8
    ).count()
    assert n_cand <= 100

    got = [
        (r["value"], r["n"])
        for r in heavy_hitters(
            df, "w", k=3, candidates_per_partition=50, max_candidates=100,
            merge_parallelism=8,
        ).collect()
    ]
    assert got == [(f"hot{i}", 10_000) for i in range(3)]

    import pytest as _pytest

    with _pytest.raises(ValueError):
        heavy_hitters(df, "w", k=30, candidates_per_partition=40,
                      max_candidates=20)


def test_heavy_hitters_plan_and_validation(docs, spark):
    from wikiextractor_spark.operators.sketches import heavy_hitters

    words = docs.select(F.explode(F.split("text", " ")).alias("w"))
    out = heavy_hitters(words, "w", k=3)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan and "LeftSemi" in plan
    import pytest as _pytest

    with _pytest.raises(ValueError):
        heavy_hitters(words, "w", k=0)
    with _pytest.raises(ValueError):
        heavy_hitters(words, "w", k=10, candidates_per_partition=5)


def test_ivf_index_persist_and_probe(spark, tmp_path):
    """build_ivf_index -> ann_ivf_topk_indexed must equal the
    in-memory ann_ivf_topk on the SAME centroids, reload the trained
    centroid matrix exactly, and scan only the probed centroid_id
    partitions (explicit path selection, not optimizer pruning)."""
    from wikiextractor_spark.operators.similarity import (
        ann_ivf_topk,
        ann_ivf_topk_indexed,
        build_ivf_index,
        load_ivf_centroids,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    idx = str(tmp_path / "ivf")
    centroids = build_ivf_index(emb, idx, k=8, iters=2)
    assert load_ivf_centroids(spark, idx) == centroids

    qids = [r["vec_id"] for r in emb.select("vec_id").limit(3).collect()]
    want = sorted(
        (r["q_id"], r["rank"], r["neighbor_id"], r["cos"])
        for r in ann_ivf_topk(
            emb, qids, k=5, nprobe=3, centroids=centroids
        ).collect()
    )
    indexed = ann_ivf_topk_indexed(spark, idx, qids, k=5, nprobe=3)
    got = sorted(
        (r["q_id"], r["rank"], r["neighbor_id"], r["cos"])
        for r in indexed.collect()
    )
    assert want and got == want

    # probe-side scan bound: every scanned file sits in a probed
    # centroid partition, and fewer partitions than the full index
    import glob

    all_parts = glob.glob(f"{idx}/vectors/centroid_id=*")
    assert len(all_parts) >= 4  # 8 centroids over 200 vectors
    files = indexed.inputFiles()
    probed_dirs = {
        f.rsplit("/", 1)[0].rsplit("centroid_id=", 1)[1]
        for f in files
        if "centroid_id=" in f
    }
    assert len(probed_dirs) <= 3 * 3  # queries x nprobe upper bound


def test_bmp_pixel_array_palette_bounds(spark):
    """A foreign/malformed 8-bpp BMP (short or absent color table, or
    pixel indices past the table) must decode to None — and the Spark
    kernels must fall back to the fake path, never crash the job."""
    import hashlib
    import struct

    def bmp8(n_palette_entries, pixel_index):
        w = h = 2
        rowsize = 4  # ((2*1+3)//4)*4
        pal = bytes(
            b for i in range(n_palette_entries) for b in (i, i, i, 0)
        )
        off = 54 + len(pal)
        img = bytes([pixel_index] * (rowsize * h))
        head = b"BM" + struct.pack("<IHHI", off + len(img), 0, 0, off)
        dib = struct.pack("<IiiHHIIiiII", 40, w, h, 1, 8, 0, len(img),
                          2835, 2835, n_palette_entries, 0)
        return head + dib + pal + img

    ok = bmp8(16, 3)
    assert multimodal._bmp_pixel_array(ok) is not None
    # index past the (short) table → undecodable, not IndexError
    assert multimodal._bmp_pixel_array(bmp8(4, 9)) is None
    # absent table entirely
    assert multimodal._bmp_pixel_array(bmp8(0, 0)) is None

    # end to end: the malformed row takes the fake kernel, no crash
    bad = bmp8(4, 9)
    media = spark.createDataFrame(
        [(1, bad, "image")], "doc_id long, media binary, media_type string",
    )
    row = multimodal.resize_media(media, width=4, height=4).collect()[0]
    digest = hashlib.md5(bad).digest()
    assert bytes(row["pixels"]) == (digest * 1)[:16]


def test_event_stream_starts_on_empty_directory(spark, tmp_path):
    """A live tail may start before any file exists: the ts-type
    footer probe must fall back to the canonical type and the stream
    must start (and drain empty) instead of failing analysis."""
    from pyspark.sql.types import TimestampNTZType

    from wikiextractor_spark.streaming import windowed_event_counts
    from wikiextractor_spark.streaming.stream import events_ts_type

    empty = tmp_path / "empty_events"
    empty.mkdir()
    assert isinstance(
        events_ts_type(spark, str(empty), None), TimestampNTZType
    )
    q = windowed_event_counts(
        spark, str(empty), str(tmp_path / "out"), str(tmp_path / "ckpt"),
    )
    assert q.awaitTermination(60)


def test_image_header_parsers_never_raise_on_fuzz():
    """Robustness contract for the pure-Python header parsers: on
    ARBITRARY bytes they return None or a well-formed tuple — never
    raise (a raise inside the mapInPandas kernel kills the job)."""
    from hypothesis import given, settings, strategies as st

    @settings(max_examples=300, deadline=None)
    @given(st.binary(max_size=300))
    def run(payload):
        for parser in (
            multimodal._bmp_decode_meta,
            multimodal._ppm_decode_meta,
            multimodal._image_header_meta,
        ):
            out = parser(payload)
            assert out is None or (
                len(out) == 5 and out[0] > 0 and out[1] > 0
            )
        arr = multimodal._bmp_pixel_array(payload)
        assert arr is None or arr.ndim == 3

    run()

    # BMP-prefixed fuzz: exercise the header-field paths specifically
    @settings(max_examples=300, deadline=None)
    @given(st.binary(min_size=60, max_size=200))
    def run_bm(tail):
        payload = b"BM" + tail
        out = multimodal._bmp_decode_meta(payload)
        assert out is None or (out[0] > 0 and out[1] > 0)
        arr = multimodal._bmp_pixel_array(payload)
        assert arr is None or arr.ndim == 3

    run_bm()


def test_cross_corpus_near_pairs_and_subtract(spark, docs):
    """Cross-corpus near-dedup: planted copies and near-copies of
    corpus A inside corpus B must pair up (and be subtractable),
    unrelated docs must not, and the candidate join must agree with
    the naive cross Hamming join on a bounded sample."""
    from wikiextractor_spark.operators.dedup import (
        cross_corpus_near_pairs,
        simhash64,
        subtract_near_duplicates,
    )

    a = docs.select("doc_id", "text").limit(60).localCheckpoint(eager=True)
    # corpus B: 30 exact copies of A (shifted ids) + fresh docs
    copies = a.limit(30).withColumn("doc_id", F.col("doc_id") + 10_000)
    fresh = spark.createDataFrame(
        [(20_000 + i,
          f"completely unrelated text number {i} with nothing shared "
          f"from the other corpus at all {i * 31}")
         for i in range(20)],
        "doc_id long, text string",
    )
    b = copies.union(fresh).localCheckpoint(eager=True)

    pairs = cross_corpus_near_pairs(a, b, max_distance=3)
    got = {(r["left_id"], r["right_id"]) for r in pairs.collect()}
    copy_ids = {r["doc_id"] for r in a.limit(30).collect()}
    # every planted copy pairs with its source at hamming 0
    assert {(i, i + 10_000) for i in copy_ids} <= got
    # no fresh doc pairs with anything
    assert not {p for p in got if p[1] >= 20_000}

    # differential vs the naive cross join on signatures
    sa = {r["doc_id"]: r["simhash"] for r in simhash64(a).collect()}
    sb = {r["doc_id"]: r["simhash"] for r in simhash64(b).collect()}
    naive = {
        (i, j)
        for i, si in sa.items()
        for j, sj in sb.items()
        if bin((si ^ sj) & ((1 << 64) - 1)).count("1") <= 3
    }
    assert got == naive

    kept = subtract_near_duplicates(b, a, max_distance=3)
    kept_ids = {r["doc_id"] for r in kept.collect()}
    assert kept_ids == {20_000 + i for i in range(20)}


def test_cross_corpus_jaccard_pairs_and_subtract(spark, docs):
    """Cross-corpus dedup at the Jaccard grain: planted copies and
    token-level near-copies of corpus A inside corpus B pair up with
    the right exact Jaccard, unrelated docs do not, and subtraction
    removes exactly the flagged crawl docs."""
    from wikiextractor_spark.operators.dedup import (
        cross_corpus_jaccard_pairs,
        subtract_jaccard_duplicates,
    )

    a = docs.select("doc_id", "text").limit(40).localCheckpoint(eager=True)
    # corpus B: 15 exact copies (shifted ids), 5 near-copies (one word
    # appended — high but sub-1.0 Jaccard), 10 fresh docs
    copies = a.limit(15).withColumn("doc_id", F.col("doc_id") + 10_000)
    near = (
        a.orderBy("doc_id").limit(20).orderBy(F.desc("doc_id")).limit(5)
        .withColumn("doc_id", F.col("doc_id") + 10_000)
        .withColumn("text", F.concat(F.col("text"), F.lit(" zzappended")))
    )
    fresh = spark.createDataFrame(
        [(20_000 + i,
          f"completely unrelated text number {i} with nothing shared "
          f"from the other corpus at all {i * 31}")
         for i in range(10)],
        "doc_id long, text string",
    )
    b = copies.union(near).union(fresh).localCheckpoint(eager=True)

    pairs = cross_corpus_jaccard_pairs(b, a, threshold=0.5)
    got = {(r["left_id"], r["right_id"]): r["jaccard"] for r in pairs.collect()}
    copy_ids = {r["doc_id"] for r in a.limit(15).collect()}
    # every planted exact copy pairs with its source at jaccard 1.0
    for i in copy_ids:
        assert got.get((i + 10_000, i)) == 1.0
    # no fresh doc pairs with anything
    assert not {p for p in got if p[0] >= 20_000}
    # near-copies that produced candidates score strictly below 1.0
    near_ids = {r["doc_id"] for r in near.collect()}
    near_hits = {p: j for p, j in got.items() if p[0] in near_ids}
    assert all(0.5 <= j < 1.0 for j in near_hits.values())

    kept = subtract_jaccard_duplicates(b, a, threshold=0.5)
    kept_ids = {r["doc_id"] for r in kept.collect()}
    flagged = {p[0] for p in got}
    assert kept_ids == {r["doc_id"] for r in b.collect()} - flagged
    assert {20_000 + i for i in range(10)} <= kept_ids


def test_cross_corpus_jaccard_precomputed_bands(spark, docs):
    """The right_bands path verifies from persisted signatures (the
    minhash estimate) without touching the kept corpus's text: exact
    copies still score 1.0, and the candidate join never degenerates
    into a cartesian/nested-loop product."""
    import contextlib
    import io

    import pytest as _pytest

    from wikiextractor_spark.operators.dedup import (
        cross_corpus_jaccard_pairs,
        minhash_band_rows,
    )

    kept = docs.select("doc_id", "text").limit(30).localCheckpoint(eager=True)
    crawl = kept.limit(10).withColumn("doc_id", F.col("doc_id") + 7_000)
    bands = minhash_band_rows(kept, num_hashes=16)

    pairs = cross_corpus_jaccard_pairs(
        crawl, num_hashes=16, threshold=0.9, right_bands=bands
    )
    got = {(r["left_id"], r["right_id"]): r["jaccard"] for r in pairs.collect()}
    for r in crawl.collect():
        assert got.get((r["doc_id"], r["doc_id"] - 7_000)) == 1.0

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        pairs.explain("formatted")
    plan = buf.getvalue()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan

    with _pytest.raises(ValueError, match="exactly one"):
        cross_corpus_jaccard_pairs(crawl, kept, right_bands=bands)
    with _pytest.raises(ValueError, match="exactly one"):
        cross_corpus_jaccard_pairs(crawl)


def test_ivf_centroids_degenerate_inputs(spark, emb):
    """Fewer vectors than k trains one centroid per vector; an empty
    corpus raises a clear ValueError instead of a VOID-type analyzer
    error from an empty centroid literal."""
    import pytest as _pytest

    from wikiextractor_spark.operators.similarity import ivf_centroids

    tiny = emb.limit(5)
    cents = ivf_centroids(tiny, k=16, iters=1)
    assert len(cents) == 5

    with _pytest.raises(ValueError, match="no vectors"):
        ivf_centroids(emb.filter("vec_id < 0"), k=4, iters=1)


def test_cross_corpus_precomputed_blocks_equal_inline(spark, docs):
    """cross_corpus_near_pairs(right_blocks=...) must equal the inline
    right= path — the kept corpus is signatured once, persisted, and
    never re-processed on incremental runs."""
    import pytest as _pytest

    from wikiextractor_spark.operators.dedup import (
        cross_corpus_near_pairs,
        simhash_block_rows,
        subtract_near_duplicates,
    )

    kept = docs.select("doc_id", "text").limit(40).localCheckpoint(eager=True)
    crawl = kept.limit(10).withColumn("doc_id", F.col("doc_id") + 7_000)
    blocks = simhash_block_rows(kept, max_distance=3)

    inline = sorted(
        (r["left_id"], r["right_id"])
        for r in cross_corpus_near_pairs(crawl, kept, max_distance=3).collect()
    )
    pre = sorted(
        (r["left_id"], r["right_id"])
        for r in cross_corpus_near_pairs(
            crawl, max_distance=3, right_blocks=blocks
        ).collect()
    )
    assert inline and pre == inline

    kept_out = subtract_near_duplicates(
        crawl, max_distance=3, right_blocks=blocks
    )
    assert kept_out.count() == 0  # every crawl doc is a kept copy

    with _pytest.raises(ValueError, match="exactly one"):
        cross_corpus_near_pairs(crawl, kept, right_blocks=blocks)
    with _pytest.raises(ValueError, match="exactly one"):
        cross_corpus_near_pairs(crawl)


def test_heavy_hitters_recall_guarantee_boundary(spark):
    """The documented survival bound: a value with true frequency
    above n/(m+1) + 2n/(max_candidates+1) must ALWAYS surface with
    its exact count, even against a worst-case singleton flood and a
    tiny merge cap."""
    from wikiextractor_spark.operators.sketches import heavy_hitters

    m, cap = 10, 40
    n_hot = 1500
    n_noise = 8500  # all singletons
    # bound = 10000/11 + 2*10000/41 ~= 1397 < 1500: guaranteed
    df = (
        spark.range(n_hot + n_noise)
        .repartition(16)
        .selectExpr(
            f"CASE WHEN id < {n_hot} THEN 'hot' "
            "ELSE concat('v', id) END AS w"
        )
    )
    got = heavy_hitters(
        df, "w", k=1, candidates_per_partition=m, max_candidates=cap,
        merge_parallelism=4,
    ).collect()
    assert [(r["value"], r["n"]) for r in got] == [("hot", n_hot)]


def test_max_partition_bytes_parses_size_suffixes(spark, tmp_path):
    """spark.sql.files.maxPartitionBytes accepts JavaUtils byte-string
    suffixes ('128m'); a suffix-blind parse would read 128 bytes and
    inflate the split estimate ~1e6x, silently disabling the spread
    for externally-configured sessions."""
    big = tmp_path / "big.txt"
    big.write_text(("y" * 99 + "\n") * 30_000)  # 3,000,000 bytes

    key = "spark.sql.files.maxPartitionBytes"
    orig = spark.conf.get(key)
    try:
        for raw, want in [
            ("1048576", 3),
            ("1m", 3),
            ("1MB", 3),
            (" 64k ", 46),
            ("1g", 1),
        ]:
            spark.conf.set(key, raw)
            assert _planned_splits(spark.read.text(str(big))) == want, raw
    finally:
        spark.conf.set(key, orig)


def test_bloom_auto_sizing_and_fill_warning(spark):
    """m_bits=None sizes the bitmap from the benchmark gram count
    (~10 bits/gram, power of two, >= 2^20); a deliberately undersized
    explicit m_bits warns on >50% fill but stays bit-identical to the
    broadcast report."""
    import warnings as w

    from wikiextractor_spark.operators.decontam import (
        contamination_report,
        contamination_report_bloom,
        sized_m_bits,
    )

    assert sized_m_bits(100) == 1 << 20  # floor
    assert sized_m_bits(1 << 24) == 1 << 28  # 10 bits/gram rounded up
    assert sized_m_bits((1 << 24) + 1) == 1 << 28

    schema = "doc_id long, text string"
    docs = spark.createDataFrame(
        [(i, f"alpha beta gamma delta {i} epsilon zeta") for i in range(30)],
        schema,
    )
    bench = spark.createDataFrame(
        [(100 + i, f"alpha beta gamma delta {i} epsilon zeta") for i in range(10)],
        schema,
    )
    exact = sorted(
        tuple(r) for r in contamination_report(
            docs, bench, n=3, threshold=0.2
        ).collect()
    )
    # auto-sized: no warning expected at this scale.  py4j collect()
    # sockets are GC-finalized and can surface as a ResourceWarning at
    # an arbitrary later point — drain any pending one before arming
    # the error filter, and again before leaving the test (r11).
    import gc

    with w.catch_warnings():
        w.simplefilter("ignore", ResourceWarning)
        gc.collect()
    with w.catch_warnings():
        w.simplefilter("error")
        w.simplefilter("ignore", ResourceWarning)
        auto = sorted(
            tuple(r) for r in contamination_report_bloom(
                docs, bench, n=3, threshold=0.2
            ).collect()
        )
    assert auto == exact
    # pathologically small explicit bitmap: warns, still exact
    with pytest.warns(UserWarning, match="fill ratio"):
        tiny = sorted(
            tuple(r) for r in contamination_report_bloom(
                docs, bench, n=3, threshold=0.2, m_bits=64, k=3
            ).collect()
        )
    assert tiny == exact
    with w.catch_warnings():
        w.simplefilter("ignore", ResourceWarning)
        gc.collect()


def test_synthesized_wavs_are_valid_files(docs):
    """The JVM-side generator must emit structurally valid WAVs: the
    stdlib `wave` module (an independent RIFF parser) recovers exactly
    the md5-derived parameters the DuckDB oracle states, and the
    engine's own chunk walker agrees with it."""
    import hashlib
    import io
    import wave

    media = multimodal.attach_fake_binary(docs.limit(60))
    texts = {r["doc_id"]: r["text"] for r in docs.limit(60).collect()}
    audio = [r for r in media.collect() if r["media_type"] == "audio"]
    assert audio
    for r in audio:
        payload = bytes(r["media"])
        dig = hashlib.md5(texts[r["doc_id"]].encode()).hexdigest()
        with wave.open(io.BytesIO(payload)) as w:
            assert w.getframerate() == (8000, 16000, 22050, 44100)[int(dig[0:2], 16) % 4]
            assert w.getnchannels() == 1 + int(dig[2:4], 16) % 2
            assert w.getsampwidth() == (1, 2)[int(dig[4:6], 16) % 2]
            assert w.getnframes() == 64 + int(dig[6:10], 16) % 1937
        parsed = multimodal._wav_decode_meta(payload)
        assert parsed is not None
        sr, bits, nch, frames, off, dsize = parsed
        assert (sr, bits // 8, nch, frames) == (
            w.getframerate(), w.getsampwidth(), w.getnchannels(), w.getnframes()
        )
        assert len(payload) == 44 + dsize == 44 + frames * nch * (bits // 8)


def test_synthesized_y4m_are_valid_streams(docs):
    """The JVM-side generator must emit structurally valid Y4M: ASCII
    header tokens, one FRAME marker per frame, exact C420 plane sizes,
    and the parser-recovered parameters match the md5 derivation the
    DuckDB oracle states."""
    import hashlib

    media = multimodal.attach_fake_binary(docs.limit(60))
    texts = {r["doc_id"]: r["text"] for r in docs.limit(60).collect()}
    videos = [r for r in media.collect() if r["media_type"] == "video"]
    assert videos
    for r in videos:
        payload = bytes(r["media"])
        dig = hashlib.md5(texts[r["doc_id"]].encode()).hexdigest()
        w = (8 + int(dig[0:2], 16) % 28) * 2
        h = (8 + int(dig[2:4], 16) % 28) * 2
        nfr = 2 + int(dig[4:6], 16) % 7
        header = f"YUV4MPEG2 W{w} H{h} F25:1 Ip A1:1 C420jpeg\n".encode()
        assert payload.startswith(header)
        frame_size = (w * h * 3) // 2
        assert len(payload) == len(header) + nfr * (6 + frame_size)
        parsed = multimodal._y4m_decode_meta(payload)
        assert parsed == (w, h, 3, nfr, len(header) + 6, frame_size)
        # every FRAME marker sits exactly where the stride says
        for k in range(nfr):
            off = len(header) + k * (6 + frame_size)
            assert payload[off : off + 6] == b"FRAME\n"


def test_real_audio_video_kernels_content_derived(docs, spark):
    """Resize/frames/features consume REAL decoded content: the audio
    resample equals a direct numpy resample of the PCM samples, video
    frames are verbatim payload slices, and features react to content
    (two different docs embed differently) while undecodable payloads
    still fall back to the fake kernel."""
    import numpy as np

    media = multimodal.attach_fake_binary(docs.limit(30))
    rows = {r["doc_id"]: r for r in media.collect()}

    # audio resize = NN resample of the real sample vector
    resized = {r["doc_id"]: r for r in multimodal.resize_media(media, 8, 8).collect()}
    a_id = next(i for i, r in rows.items() if r["media_type"] == "audio")
    samples = multimodal._wav_sample_array(bytes(rows[a_id]["media"]))
    idx = (np.arange(64) * len(samples)) // 64
    assert bytes(resized[a_id]["pixels"]) == samples[idx].tobytes()

    # video resize = NN resize of the real first-frame luma plane
    v_id = next(i for i, r in rows.items() if r["media_type"] == "video")
    luma = multimodal._y4m_luma_plane(bytes(rows[v_id]["media"]))
    ys = (np.arange(8) * luma.shape[0]) // 8
    xs = (np.arange(8) * luma.shape[1]) // 8
    assert bytes(resized[v_id]["pixels"]) == luma[np.ix_(ys, xs)].tobytes()

    # sampled frames are verbatim slices of the container
    payload = bytes(rows[v_id]["media"])
    w, h, _c, total, first_off, fsize = multimodal._y4m_decode_meta(payload)
    frames = {
        r["frame_no"]: bytes(r["frame"])
        for r in multimodal.sample_frames(media, n_frames=2).collect()
        if r["doc_id"] == v_id
    }
    for k in (0, 1):
        off = first_off + ((k * total) // 2) * (6 + fsize)
        assert frames[k] == payload[off : off + fsize]

    # undecodable audio payload falls back to the fake kernel
    junk = spark.createDataFrame(
        [(1, b"not a wav", "audio")], "doc_id long, media binary, media_type string"
    )
    meta = multimodal.decode_media_meta(junk).collect()[0]
    assert meta["width"] == 64 + __import__("hashlib").md5(b"not a wav").digest()[0] % 192


def test_semantic_dedup_pairs_matches_bruteforce_within_clusters(spark, emb):
    """SemDeDup pairs must equal the brute-force all-pairs cosine
    restricted to same-cluster pairs, and exact-duplicate recall must
    be 1 (identical vectors always share a cluster)."""
    from wikiextractor_spark.operators.similarity import (
        _as_double,
        cosine,
        ivf_assign,
        ivf_centroids,
        semantic_dedup_pairs,
    )

    base = emb.filter(F.col("vec_id") < 120)
    # plant exact duplicates: vec_id+10000 copies of the first 10
    planted = base.filter(F.col("vec_id") < 10).select(
        (F.col("vec_id") + 10000).alias("vec_id"), "embedding", "label"
    )
    corpus = base.unionByName(planted)

    cents = ivf_centroids(corpus, k=8, iters=2)
    got = {
        (r["id_a"], r["id_b"]): r["cos"]
        for r in semantic_dedup_pairs(
            corpus, threshold=0.9, centroids=cents
        ).collect()
    }
    # exact duplicates recalled with cos = 1
    for i in range(10):
        assert got.get((i, i + 10000)) == 1.0

    # equivalence: same-cluster brute force at the same threshold
    assigned = {r["vec_id"]: r["centroid_id"] for r in ivf_assign(corpus, cents).collect()}
    vecs = corpus.select(
        "vec_id", _as_double(F.col("embedding")).alias("v")
    )
    a, b = vecs.alias("a"), vecs.alias("b")
    brute = {
        (r["id_a"], r["id_b"]): r["cos"]
        for r in a.join(b, F.col("a.vec_id") < F.col("b.vec_id"))
        .select(
            F.col("a.vec_id").alias("id_a"),
            F.col("b.vec_id").alias("id_b"),
            F.round(cosine(F.col("a.v"), F.col("b.v")), 6).alias("cos"),
        )
        .filter(F.col("cos") >= 0.9)
        .collect()
        if assigned[r["id_a"]] == assigned[r["id_b"]]
    }
    assert got == brute


def test_semantic_dedup_survivors_and_plan(spark, emb):
    """Chain survivors drop every pair loser; component survivors keep
    exactly one id per connected component; the pair stage never plans
    a cartesian product."""
    import contextlib
    import io

    from wikiextractor_spark.operators.similarity import (
        semantic_dedup,
        semantic_dedup_pairs,
    )

    base = emb.filter(F.col("vec_id") < 80)
    planted = base.filter(F.col("vec_id") < 8).select(
        (F.col("vec_id") + 10000).alias("vec_id"), "embedding", "label"
    )
    corpus = base.unionByName(planted)

    for policy in ("chain", "component"):
        kept = semantic_dedup(
            corpus, threshold=0.999, survivors=policy, n_clusters=8
        )
        kept_ids = {r["vec_id"] for r in kept.select("vec_id").collect()}
        # each planted copy pairs with its source at cos=1: the copy
        # (larger id) must be gone, the source kept
        for i in range(8):
            assert i in kept_ids and (i + 10000) not in kept_ids

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        semantic_dedup_pairs(corpus, n_clusters=8).explain("formatted")
    assert "CartesianProduct" not in buf.getvalue()

    with pytest.raises(ValueError):
        semantic_dedup(corpus, survivors="nope")
    with pytest.raises(ValueError):
        semantic_dedup_pairs(corpus, threshold=1.5)


def test_temperature_mix(spark):
    """alpha=1 at the default target is the identity; alpha=0 flattens
    toward uniform (small domains kept whole, large ones down-sampled
    toward target/k); selection is deterministic across runs."""
    from wikiextractor_spark.operators.sampling import temperature_mix

    rows = (
        [(i, "big") for i in range(900)]
        + [(i + 1000, "mid") for i in range(90)]
        + [(i + 2000, "small") for i in range(10)]
    )
    df = spark.createDataFrame(rows, "doc_id long, domain string")

    # alpha=1, target=N: natural mix, every rate caps at 1 -> identity
    assert temperature_mix(df, "domain", alpha=1.0).count() == 1000

    # alpha=0: uniform weights -> target/3 per domain; 'small' (10)
    # and 'mid' (90) fit under 1000/3 so are kept whole, 'big' is
    # down-sampled to ~333
    flat = temperature_mix(df, "domain", alpha=0.0)
    by_dom = {
        r["domain"]: r["n"]
        for r in flat.groupBy("domain").agg(F.count("*").alias("n")).collect()
    }
    assert by_dom["small"] == 10 and by_dom["mid"] == 90
    assert 233 <= by_dom["big"] <= 433  # ~333 +- hash-gate noise

    # deterministic: the same call keeps the same rows
    ids1 = sorted(r["doc_id"] for r in flat.collect())
    ids2 = sorted(
        r["doc_id"] for r in temperature_mix(df, "domain", alpha=0.0).collect()
    )
    assert ids1 == ids2

    # intermediate alpha lands between natural and uniform for 'big'
    mid_alpha = temperature_mix(df, "domain", alpha=0.5)
    n_big_mid = mid_alpha.filter(F.col("domain") == "big").count()
    assert by_dom["big"] <= n_big_mid <= 900

    # explicit smaller target scales everything down
    n_target = temperature_mix(df, "domain", alpha=1.0, target_rows=500).count()
    assert 350 <= n_target <= 650

    with pytest.raises(ValueError):
        temperature_mix(df, "domain", alpha=-0.1)
    with pytest.raises(ValueError):
        temperature_mix(df, "domain", target_rows=-1)


def test_y4m_frame_params_variable_stride(spark):
    """The Y4M spec allows per-frame parameters (``FRAMEI...\\n``):
    frame extraction must walk the actual markers, not assume a fixed
    6-byte stride."""
    import numpy as np

    w, h, fs = 4, 2, 12  # C420: 4*2*3/2
    frames = [bytes(range(i * 16, i * 16 + fs)) for i in range(3)]
    payload = b"YUV4MPEG2 W4 H2 F25:1 C420jpeg\n"
    markers = [b"FRAME\n", b"FRAMEIt\n", b"FRAMEXlonger params\n"]
    for m, f in zip(markers, frames):
        payload += m + f
    parsed = multimodal._y4m_decode_meta(payload)
    assert parsed is not None and parsed[3] == 3  # all 3 frames seen
    for i in range(3):
        luma = multimodal._y4m_luma_plane(payload, i)
        assert luma is not None
        assert luma.tobytes() == frames[i][: w * h]
    media = spark.createDataFrame(
        [(1, payload, "video")], "doc_id long, media binary, media_type string"
    )
    got = {
        r["frame_no"]: bytes(r["frame"])
        for r in multimodal.sample_frames(media, n_frames=3).collect()
    }
    assert got == {0: frames[0], 1: frames[1], 2: frames[2]}


def test_ivf_index_incremental_add(spark, emb, tmp_path):
    """ivf_index_add appends a second corpus snapshot to a persisted
    index without retraining: an exhaustive probe over the grown index
    equals brute force over the UNION, stats reflect both snapshots,
    and partitions empty at build time are created on first use."""
    from wikiextractor_spark.operators.similarity import (
        ann_brute_force_topk,
        ann_ivf_topk_indexed,
        build_ivf_index,
        ivf_index_add,
        ivf_index_stats,
    )

    first = emb.filter(F.col("vec_id") < 60)
    second = emb.filter((F.col("vec_id") >= 60) & (F.col("vec_id") < 120))
    index_dir = str(tmp_path / "ivf")
    build_ivf_index(first, index_dir, k=6, iters=2)
    ivf_index_add(spark, index_dir, second)

    both = first.unionByName(second)
    want = {
        (r["q_id"], r["rank"]): (r["neighbor_id"], r["cos"])
        for r in ann_brute_force_topk(both, query_ids=[0, 70], k=4).collect()
    }
    got = {
        (r["q_id"], r["rank"]): (r["neighbor_id"], r["cos"])
        for r in ann_ivf_topk_indexed(
            spark, index_dir, query_ids=[0, 70], k=4, nprobe=6
        ).collect()
    }
    assert got == want

    stats = {
        r["centroid_id"]: r["n_vectors"]
        for r in ivf_index_stats(spark, index_dir).collect()
    }
    assert sum(stats.values()) == 120

    # a cluster with no build-time vectors gains its directory on add:
    # force it by adding vectors after deleting one partition's rows
    # is overkill — instead assert adds land in EXISTING dirs without
    # clobbering: re-probe a first-snapshot query and the second
    # snapshot's ids are reachable
    ids = {
        r["neighbor_id"]
        for r in ann_ivf_topk_indexed(
            spark, index_dir, query_ids=[0], k=100, nprobe=6
        ).collect()
    }
    assert any(i >= 60 for i in ids) and any(i < 60 for i in ids)


def _naive_trim(texts: dict, n: int, min_count: int) -> dict:
    """Reference implementation of repeated-span trimming: count every
    n-word window across the corpus, mark covered word indices, keep
    the rest."""
    from collections import Counter

    grams = Counter()
    for t in texts.values():
        ws = t.split(" ")
        for i in range(max(0, len(ws) - n + 1)):
            grams[" ".join(ws[i : i + n])] += 1
    out = {}
    for k, t in texts.items():
        ws = t.split(" ")
        covered = [False] * len(ws)
        for i in range(max(0, len(ws) - n + 1)):
            if grams[" ".join(ws[i : i + n])] >= min_count:
                for j in range(i, i + n):
                    covered[j] = True
        out[k] = " ".join(w for w, c in zip(ws, covered) if not c)
    return out


def test_trim_repeated_spans_planted_and_differential(spark):
    """A paragraph shared by two docs is cut from BOTH (ExactSubstr
    policy), unique text passes through byte-identical, within-doc
    repetition counts, and the operator matches a naive reference
    implementation on a randomized corpus."""
    import random

    from wikiextractor_spark.operators.spans import (
        repeated_span_report,
        trim_repeated_spans,
    )

    boiler = " ".join(f"b{i}" for i in range(8))
    texts = {
        1: "intro one two three " + boiler + " outro alpha beta",
        2: "different lead here " + boiler + " and a tail part",
        3: "totally unique document with no shared windows at all",
        # within-doc repetition: the same 6-gram twice
        4: " ".join(f"r{i % 6}" for i in range(12)) + " unique suffix words",
    }
    df = spark.createDataFrame(
        [(k, v) for k, v in texts.items()], "doc_id long, text string"
    )
    got = {
        r["doc_id"]: (r["text"], r["n_removed_words"])
        for r in trim_repeated_spans(df, n=6, min_count=2).collect()
    }
    want = _naive_trim(texts, 6, 2)
    for k in texts:
        assert got[k][0] == want[k], k
    assert boiler.split(" ")[0] not in got[1][0]
    assert got[3] == (texts[3], 0)  # unique doc untouched
    assert got[4][1] > 0  # within-doc repeat trimmed

    rep = {
        r["doc_id"]: r for r in repeated_span_report(df, n=6, min_count=2).collect()
    }
    assert rep[3]["n_spans"] == 0 and rep[3]["covered_frac"] == 0.0
    assert rep[1]["n_covered"] == len(texts[1].split()) - len(want[1].split())

    # randomized differential: a corpus with injected shared spans
    rng = random.Random(7)
    vocab = [f"w{i}" for i in range(40)]
    shared = " ".join(rng.choice(vocab) for _ in range(9))
    rnd = {
        i: " ".join(rng.choice(vocab) for _ in range(rng.randint(3, 30)))
        + (f" {shared} " + " ".join(rng.choice(vocab) for _ in range(4))
           if i % 3 == 0 else "")
        for i in range(24)
    }
    rdf = spark.createDataFrame(
        [(k, v) for k, v in rnd.items()], "doc_id long, text string"
    )
    got_r = {
        r["doc_id"]: r["text"]
        for r in trim_repeated_spans(rdf, n=5, min_count=2).collect()
    }
    assert got_r == _naive_trim(rnd, 5, 2)

    with pytest.raises(ValueError):
        trim_repeated_spans(df, n=0)
    with pytest.raises(ValueError):
        trim_repeated_spans(df, min_count=1)


def test_training_shards_deterministic_and_selectable(spark, docs, tmp_path):
    """Shard membership and within-shard order are pure functions of
    (id, seed): two writes are byte-order-identical, the union of
    shards is the corpus, a different seed draws a different order,
    and loaders can select explicit shard subsets."""
    from wikiextractor_spark.sink import (
        read_training_shards,
        write_training_shards,
    )

    src = docs.limit(200).select("doc_id", "text")
    d1, d2, d3 = (str(tmp_path / n) for n in ("s1", "s2", "s3"))
    assert write_training_shards(src, d1, n_shards=4, seed="ep0") == 4
    write_training_shards(src, d2, n_shards=4, seed="ep0")
    write_training_shards(src, d3, n_shards=4, seed="ep1")

    def order(path, ids=None):
        df = read_training_shards(spark, path, ids)
        return [
            (r["shard_id"], r["doc_id"])
            for r in df.select("shard_id", "doc_id").collect()
        ]

    # same seed -> identical shard contents and order
    a, b = order(d1), order(d2)
    assert sorted(a) == sorted(b)

    def by_shard(rows):
        return {s: [i for ss, i in rows if ss == s] for s in {s for s, _ in rows}}

    per_shard_a = by_shard(a)
    assert per_shard_a == by_shard(b)

    # union of shards = corpus, no duplication
    assert sorted(i for _s, i in a) == sorted(
        r["doc_id"] for r in src.collect()
    )

    # a different seed shuffles differently (overwhelmingly likely)
    c = order(d3)
    assert {s: [i for ss, i in c if ss == s] for s in {s for s, _ in c}} != per_shard_a

    # explicit shard selection returns exactly those shards
    sel = order(d1, ids=[0, 2])
    assert {s for s, _ in sel} <= {0, 2}
    assert sorted(sel) == sorted((s, i) for s, i in a if s in (0, 2))

    # within-shard order is the hash order (reproducible shuffle)
    got0 = [i for s, i in order(d1, ids=[0])]
    want0 = [
        r["doc_id"]
        for r in src.withColumn(
            "_o", F.xxhash64(F.col("doc_id").cast("string"), F.lit("ep0"))
        )
        .withColumn("_s", F.pmod(F.col("_o"), F.lit(4)))
        .filter(F.col("_s") == 0)
        .orderBy("_o", "doc_id")
        .collect()
    ]
    assert got0 == want0

    import pytest as _p

    with _p.raises(ValueError):
        write_training_shards(src, str(tmp_path / "bad"), n_shards=0)
    with _p.raises(ValueError):
        read_training_shards(spark, d1, [99])


def test_temperature_mix_null_domain(spark):
    """A NULL domain must neither crash the driver-side fraction sort
    nor silently vanish: NULL-group rows are gated like any other
    domain."""
    from wikiextractor_spark.operators.sampling import temperature_mix

    rows = [(i, "a") for i in range(50)] + [(100 + i, None) for i in range(50)]
    df = spark.createDataFrame(rows, "doc_id long, domain string")
    # alpha=1 at the default target: every rate caps at 1 -> identity,
    # INCLUDING the NULL-domain rows
    assert temperature_mix(df, "domain", alpha=1.0).count() == 100
    out = temperature_mix(df, "domain", alpha=0.0, target_rows=60)
    by = {
        r["domain"]: r["n"]
        for r in out.groupBy("domain").agg(F.count("*").alias("n")).collect()
    }
    assert by.get("a", 0) > 0 and by.get(None, 0) > 0


def test_y4m_unknown_colorspace_rejected():
    """10-bit / alpha colorspace variants must reject (fake fallback)
    rather than walk frame markers at a wrong stride; 444alpha sizes
    its fourth plane correctly."""
    w, h = 4, 2
    base = b"YUV4MPEG2 W4 H2 F25:1 C%s\n"
    for cs, fs in ((b"420p10", None), (b"422p12", None), (b"444alpha", w * h * 4)):
        frame = bytes(range(48))[: fs or 12]
        payload = base % cs + b"FRAME\n" + frame
        parsed = multimodal._y4m_decode_meta(payload)
        if fs is None:
            assert parsed is None, cs
        else:
            assert parsed is not None and parsed[5] == fs and parsed[2] == 4


def test_ivf_rebuild_overwrites_centroids(spark, emb, tmp_path):
    """Rebuilding an index into the same directory must fully replace
    the centroid matrix — stale part files alongside the new one
    would make the loader read the union (silently wrong probes)."""
    from wikiextractor_spark.operators.similarity import (
        build_ivf_index,
        load_ivf_centroids,
    )

    base = emb.filter(F.col("vec_id") < 60)
    index_dir = str(tmp_path / "ivf")
    build_ivf_index(base, index_dir, k=6, iters=1)
    assert len(load_ivf_centroids(spark, index_dir)) == 6
    # plant a stale extra file the way a pre-r7 Spark write would have
    import shutil

    src = f"{index_dir}/centroids/part-00000.parquet"
    shutil.copy(src, f"{index_dir}/centroids/part-00000-stale.parquet")
    assert len(load_ivf_centroids(spark, index_dir)) == 12  # the bug shape
    build_ivf_index(base, index_dir, k=4, iters=1)
    assert len(load_ivf_centroids(spark, index_dir)) == 4


def test_boilerplate_line_removal(spark):
    """C4/RefinedWeb-style line dedup: lines whose normalized form
    appears in >= min_docs distinct docs are removed everywhere
    (original bytes preserved for survivors, order intact, blank
    lines kept); within-doc repetition alone never triggers it."""
    from wikiextractor_spark.operators.spans import (
        boilerplate_line_counts,
        remove_boilerplate_lines,
    )

    bp = "Subscribe to our newsletter"
    docs = spark.createDataFrame(
        [
            (1, f"unique opening one\n{bp}\nunique closing one"),
            (2, f"{bp}\nunique middle two\n\nafter a blank line"),
            # cosmetic variant: case + extra whitespace, must match
            (3, f"second doc line\n  subscribe   to our NEWSLETTER "),
            # within-doc repetition of a line NOT shared across docs
            (4, "echo echo line\necho echo line\necho echo line"),
            (5, "nothing shared here at all"),
        ],
        "doc_id long, text string",
    )

    counts = {
        r["line"]: r["n_docs"]
        for r in boilerplate_line_counts(docs, min_docs=3).collect()
    }
    assert counts == {"subscribe to our newsletter": 3}

    out = {
        r["doc_id"]: (r["text"], r["n_removed_lines"])
        for r in remove_boilerplate_lines(docs, min_docs=3).collect()
    }
    assert out[1] == ("unique opening one\nunique closing one", 1)
    # blank line survives (never counted, never removed)
    assert out[2] == ("unique middle two\n\nafter a blank line", 1)
    assert out[3] == ("second doc line", 1)
    # 3 in-doc copies but only 1 distinct doc: kept
    assert out[4] == ("echo echo line\necho echo line\necho echo line", 0)
    assert out[5] == ("nothing shared here at all", 0)

    # doc that is ALL boilerplate empties but never disappears
    all_bp = spark.createDataFrame(
        [(i, bp) for i in range(4)], "doc_id long, text string"
    )
    gone = {
        r["doc_id"]: (r["text"], r["n_removed_lines"])
        for r in remove_boilerplate_lines(all_bp, min_docs=3).collect()
    }
    assert gone == {i: ("", 1) for i in range(4)}

    # tab/CR-edged variants normalize to the clean twin (collapse
    # BEFORE trim), lone-tab separator lines stay protected like
    # blank ones, and NULL text stays NULL with a zero count
    messy = spark.createDataFrame(
        [
            (1, f"{bp}\nkeep one"),
            (2, f"\t{bp}  \r\nkeep two"),
            (3, f"{bp.upper()}\r\nkeep three"),
            (4, "\t\nkeep four"),
            (5, "\t\nkeep five"),
            (6, "\t\nkeep six"),
            (7, None),
        ],
        "doc_id long, text string",
    )
    m = {
        r["doc_id"]: (r["text"], r["n_removed_lines"])
        for r in remove_boilerplate_lines(messy, min_docs=3).collect()
    }
    assert m[1] == ("keep one", 1)
    assert m[2] == ("keep two", 1)
    assert m[3] == ("keep three", 1)
    assert m[4] == ("\t\nkeep four", 0)
    assert m[7] == (None, 0)

    import pytest as _pytest

    with _pytest.raises(ValueError, match="min_docs"):
        remove_boilerplate_lines(docs, min_docs=1)


def test_boilerplate_line_removal_duckdb_twin(spark, docs):
    """Differential vs an independent DuckDB restatement on real
    document texts (line grain manufactured by replacing every 5th
    space with a newline, so docs share their most common 'lines')."""
    import duckdb

    from wikiextractor_spark.operators.spans import remove_boilerplate_lines

    src = (
        docs.select("doc_id", "text").limit(80)
        .select(
            "doc_id",
            F.regexp_replace(
                F.col("text"), r"((?:\S+ ){4}\S+) ", "$1\n"
            ).alias("text"),
        )
        .localCheckpoint(eager=True)
    )
    got = {
        r["doc_id"]: (r["text"], r["n_removed_lines"])
        for r in remove_boilerplate_lines(src, min_docs=2).collect()
    }

    con = duckdb.connect()
    con.register("src", src.toPandas())
    rows = con.execute(
        """
        WITH l AS (
          SELECT doc_id, g.i AS pos, g.line,
                 lower(trim(regexp_replace(g.line, '\\s+', ' ', 'g'))) AS norm
          FROM src,
               LATERAL (SELECT unnest(string_split(text, chr(10))) AS line,
                               generate_subscripts(string_split(text, chr(10)), 1) AS i) g
        ),
        flagged AS (
          SELECT norm FROM (SELECT DISTINCT doc_id, norm FROM l WHERE len(norm) >= 1)
          GROUP BY norm HAVING COUNT(*) >= 2
        ),
        kept AS (
          SELECT doc_id, pos, line FROM l
          WHERE NOT (len(norm) >= 1 AND norm IN (SELECT norm FROM flagged))
        ),
        reb AS (
          SELECT doc_id,
                 string_agg(line, chr(10) ORDER BY pos) AS text,
                 COUNT(*) AS n_kept
          FROM kept GROUP BY doc_id
        )
        SELECT s.doc_id,
               COALESCE(reb.text, '') AS text,
               len(string_split(s.text, chr(10))) - COALESCE(reb.n_kept, 0) AS n_removed
        FROM src s LEFT JOIN reb ON reb.doc_id = s.doc_id
        """
    ).fetchall()
    want = {r[0]: (r[1], r[2]) for r in rows}
    assert set(got) == set(want)
    for k in got:
        assert got[k] == want[k], k


def test_boilerplate_line_removal_random_differential(spark):
    """Seeded randomized differential vs a pure-Python model: on a
    random corpus drawn from a tiny line vocabulary (maximizing
    cross-doc collisions), the engine's removal equals the
    from-scratch reimplementation doc for doc."""
    import random
    import re as _re

    from wikiextractor_spark.operators.spans import remove_boilerplate_lines

    rng = random.Random(1234)
    vocab = [
        "subscribe now", "  Subscribe   NOW ", "\tcontact us\r",
        "contact us", "x", " ", "", "\t", "some longer unique line %d",
        "another body sentence", "ANOTHER body   sentence",
    ]
    docs = []
    for i in range(60):
        lines = []
        for j in range(rng.randint(0, 6)):
            t = rng.choice(vocab)
            lines.append(t % (i * 10 + j) if "%d" in t else t)
        docs.append((i, "\n".join(lines)))
    df = spark.createDataFrame(docs, "doc_id long, text string")

    min_docs, min_chars = 3, 1

    def norm(line):
        return _re.sub(r"\s+", " ", line).strip().lower()

    per_doc = {i: t.split("\n") for i, t in docs}
    seen = {}
    for i, lines in per_doc.items():
        for n in {norm(l) for l in lines if len(norm(l)) >= min_chars}:
            seen[n] = seen.get(n, 0) + 1
    flagged = {n for n, c in seen.items() if c >= min_docs}
    want = {}
    for i, lines in per_doc.items():
        kept = [
            l for l in lines
            if not (len(norm(l)) >= min_chars and norm(l) in flagged)
        ]
        want[i] = ("\n".join(kept), len(lines) - len(kept))

    got = {
        r["doc_id"]: (r["text"], r["n_removed_lines"])
        for r in remove_boilerplate_lines(
            df, min_docs=min_docs, min_line_chars=min_chars
        ).collect()
    }
    assert got == want


def test_dedup_near_best_survivor(spark):
    """survivors='best' keeps the highest-scoring member of each
    near-dup component (ties to the smallest id), not the smallest
    id; docs outside the pair graph survive untouched."""
    import pytest as _pytest

    from wikiextractor_spark.operators.dedup import dedup_near

    base = (
        "alpha beta gamma delta epsilon zeta eta theta iota kappa "
        "lambda mu nu xi omicron pi rho sigma tau upsilon"
    )
    docs = spark.createDataFrame(
        [
            (1, base.replace("kappa", "edited")),
            (2, base + " extra trailing tokens here"),  # longest copy
            (3, base.replace("sigma", "changed")),
            (9, "a completely different document about other things "
                "entirely with no overlap at all"),
        ],
        "doc_id long, text string",
    )

    kept_best = {
        r["doc_id"]
        for r in dedup_near(
            docs, threshold=0.7, survivors="best",
            score=F.length("text"),
        ).collect()
    }
    assert kept_best == {2, 9}

    kept_comp = {
        r["doc_id"]
        for r in dedup_near(docs, threshold=0.7, survivors="component").collect()
    }
    assert kept_comp == {1, 9}

    # default score path (quality_score): still exactly one survivor
    # per component
    kept_q = {
        r["doc_id"]
        for r in dedup_near(docs, threshold=0.7, survivors="best").collect()
    }
    assert 9 in kept_q and len(kept_q) == 2

    with _pytest.raises(ValueError, match="score"):
        dedup_near(docs, survivors="chain", score=F.length("text"))

    # empty-text docs form a component (whole-text shingle fallback ->
    # identical signatures); the default quality score must not
    # ANSI-crash on them — they rank below every scored doc and one
    # survives per component
    with_empty = spark.createDataFrame(
        [(1, ""), (2, ""), (3, "some perfectly ordinary real text here")],
        "doc_id long, text string",
    )
    kept_e = {
        r["doc_id"]
        for r in dedup_near(with_empty, survivors="best").collect()
    }
    assert 3 in kept_e and len(kept_e) == 2


def test_cross_corpus_embedding_pairs_and_subtract(spark, emb):
    """Semantic cross-corpus dedup: exact and scaled copies of corpus
    A's vectors planted in corpus B pair up at cos=1.0 (scale
    invariance), unrelated random vectors do not, subtraction removes
    exactly the flagged left-side ids, and the candidate join never
    degenerates to a cartesian product."""
    import contextlib
    import io

    from wikiextractor_spark.operators.similarity import (
        cross_corpus_embedding_pairs,
        subtract_embedding_duplicates,
    )

    kept = (
        emb.select("vec_id", "embedding").orderBy("vec_id").limit(40)
        .localCheckpoint(eager=True)
    )
    # crawl: 10 exact copies, 5 scaled copies (x2.5 — same direction),
    # 5 fresh pseudo-random vectors (ordered limits: an unordered
    # limit could pick different rows on re-evaluation)
    copies = kept.orderBy("vec_id").limit(10).select(
        (F.col("vec_id") + 10_000).alias("vec_id"), "embedding"
    )
    scaled = (
        kept.orderBy("vec_id").limit(15).orderBy(F.desc("vec_id")).limit(5)
        .select(
            (F.col("vec_id") + 20_000).alias("vec_id"),
            F.expr("transform(embedding, x -> x * 2.5f)").alias("embedding"),
        )
    )
    fresh = spark.range(5).select(
        (F.col("id") + 30_000).alias("vec_id"),
        F.expr(
            "transform(sequence(1, 64), i -> "
            "cast(pmod(xxhash64(id * 64 + i), 997) as float) - 498.5f)"
        ).alias("embedding"),
    )
    crawl = copies.union(scaled).union(fresh).localCheckpoint(eager=True)

    pairs = cross_corpus_embedding_pairs(crawl, kept, threshold=0.999)
    got = {(r["left_id"], r["right_id"]): r["cos"] for r in pairs.collect()}
    for r in copies.collect():
        assert got.get((r["vec_id"], r["vec_id"] - 10_000)) == 1.0
    for r in scaled.collect():
        assert got.get((r["vec_id"], r["vec_id"] - 20_000)) == 1.0
    assert not {p for p in got if p[0] >= 30_000}

    kept_out = subtract_embedding_duplicates(crawl, kept, threshold=0.999)
    out_ids = {r["vec_id"] for r in kept_out.collect()}
    flagged = {p[0] for p in got}
    assert out_ids == {r["vec_id"] for r in crawl.collect()} - flagged
    assert {30_000 + i for i in range(5)} <= out_ids

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        pairs.explain("formatted")
    plan = buf.getvalue()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


@pytest.mark.parametrize("grain", ["jaccard", "hamming", "cosine"])
def test_self_pairs_equal_ordered_cross_pairs(spark, near_dup_docs, emb, grain):
    """Self mode is the ordered special case of cross mode: per grain,
    the self-join pairs of a corpus equal its cross pairs against
    itself restricted to ``left_id < right_id`` — ids AND the verified
    value (jaccard / hamming with both signatures / cos)."""
    from wikiextractor_spark.operators.similarity import (
        cross_corpus_embedding_pairs,
        embedding_near_duplicate_pairs,
    )

    if grain == "jaccard":
        self_pairs = dedup.near_duplicate_pairs(near_dup_docs)
        cross = dedup.cross_corpus_jaccard_pairs(near_dup_docs, near_dup_docs)
    elif grain == "hamming":
        self_pairs = dedup.simhash_candidate_pairs(near_dup_docs)
        cross = dedup.cross_corpus_near_pairs(near_dup_docs, near_dup_docs)
    else:
        base = emb.select("vec_id", "embedding").orderBy("vec_id").limit(60)
        # planted near-copies: every vector nudged by +-0.01 per lane
        nudged = base.limit(30).select(
            (F.col("vec_id") + 10_000).alias("vec_id"),
            F.expr(
                "transform(embedding, (x, i) -> x + cast(pmod(i, 3) - 1 "
                "as float) * 0.01f)"
            ).alias("embedding"),
        )
        corpus = base.union(nudged).localCheckpoint(eager=True)
        self_pairs = embedding_near_duplicate_pairs(corpus, threshold=0.9)
        cross = cross_corpus_embedding_pairs(corpus, corpus, threshold=0.9)

    want = sorted(tuple(r) for r in self_pairs.collect())
    got = sorted(
        tuple(r)
        for r in cross.filter(F.col("left_id") < F.col("right_id")).collect()
    )
    assert want and got == want
    # the planted near-copies verify below a perfect score, so the
    # value column (last) is really compared, not just the ids
    assert {r[-1] for r in want} - {0 if grain == "hamming" else 1.0}


def test_lsh_bucket_dim_mismatch_raises(spark, emb):
    """A vector whose length differs from the hyperplane dim must
    raise loudly, not silently land every vector in bucket 0 (which
    would degenerate the band equi-join into an all-pairs product)."""
    import pytest as _pytest

    from wikiextractor_spark.operators.similarity import lsh_bucket

    ok = lsh_bucket(emb.limit(5))
    assert ok.count() == 5
    short = emb.limit(5).select(
        "vec_id", F.expr("slice(embedding, 1, 32)").alias("embedding")
    )
    with _pytest.raises(Exception, match="expected 64-dim vector"):
        lsh_bucket(short).collect()


def test_ann_ivf_search_vectors(spark, emb, tmp_path):
    """The serving path: searching the persisted index with an
    EXTERNAL query vector.  For a vector that happens to equal a
    corpus member, the results must equal ann_ivf_topk_indexed's for
    that member — except the member itself now appears as its own
    top-1 neighbor (no self-exclusion across id spaces)."""
    import pytest as _pytest

    from wikiextractor_spark.operators.similarity import (
        ann_ivf_search_vectors,
        ann_ivf_topk_indexed,
        build_ivf_index,
    )

    idx = str(tmp_path / "ivf")
    corpus = emb.limit(300).localCheckpoint(eager=True)
    build_ivf_index(corpus, idx, k=4, iters=1)

    member = corpus.filter(F.col("vec_id") == 7).collect()[0]
    by_id = [
        (r["neighbor_id"], r["cos"])
        for r in ann_ivf_topk_indexed(
            spark, idx, query_ids=[7], k=3, nprobe=4
        ).orderBy("rank").collect()
    ]
    by_vec = [
        (r["neighbor_id"], r["cos"])
        for r in ann_ivf_search_vectors(
            spark, idx, [(99, list(member["embedding"]))], k=4, nprobe=4
        ).orderBy("rank").collect()
    ]
    # the external query finds the member itself first (cos 1.0),
    # then the member's own neighbors in order
    assert by_vec[0] == (7, 1.0)
    assert by_vec[1:] == by_id

    with _pytest.raises(ValueError, match="dims"):
        ann_ivf_search_vectors(spark, idx, [(1, [1.0, 2.0])])
    with _pytest.raises(ValueError, match="no query"):
        ann_ivf_search_vectors(spark, idx, [])
    v = list(member["embedding"])
    with _pytest.raises(ValueError, match="duplicate"):
        ann_ivf_search_vectors(spark, idx, [(1, v), (1, v)])


def test_lsh_bucket_null_vector_gets_null_bucket(spark, emb):
    """NULL embeddings must get a NULL bucket (dropped by every
    equi-join — conservative keep), not fall through the ANSI
    size(NULL)=NULL dim check into bucket 0 of every band."""
    from wikiextractor_spark.operators.similarity import lsh_bucket

    mixed = emb.filter(F.col("vec_id") < 3).select(
        "vec_id",
        F.when(F.col("vec_id") == 0, F.lit(None)).otherwise(
            F.col("embedding")
        ).alias("embedding"),
    )
    rows = {r["vec_id"]: r["bucket"] for r in lsh_bucket(mixed).collect()}
    assert rows[0] is None
    assert all(v is not None for k, v in rows.items() if k != 0)


def test_cap_group_tokens(spark):
    """Token-grain mix cap: each group keeps its hash-ordered prefix
    within max_tokens (overshoot <= the last kept row), every
    non-empty group keeps >= 1 row even when its first row alone
    exceeds the cap, small groups pass untouched, and the selection
    matches a pure-Python replay of the same ordering."""
    import hashlib

    import pytest as _pytest

    from wikiextractor_spark.operators.sampling import cap_group_tokens

    rows = []
    # domain 'big': 20 docs x 50 tokens = 1000 tokens
    for i in range(20):
        rows.append((i, "big", " ".join(["w"] * 50)))
    # domain 'small': 2 docs x 10 tokens
    for i in range(100, 102):
        rows.append((i, "small", " ".join(["w"] * 10)))
    # domain 'huge-doc': one 500-token doc, over any small cap
    rows.append((200, "huge", " ".join(["w"] * 500)))
    docs = spark.createDataFrame(rows, "doc_id long, domain string, text string")

    out = cap_group_tokens(docs, ["domain"], max_tokens=200, salt="s")
    got = {r["doc_id"] for r in out.collect()}

    # pure-Python replay: same md5 bucket (value THEN salt, first 8
    # hex chars mod 1e6 — see sampling._hash_bucket), same
    # exclusive-cumsum gate
    def hb(i):
        return int(hashlib.md5(f"{i}s".encode()).hexdigest()[:8], 16) % 1_000_000

    want = set()
    for dom in ("big", "small", "huge"):
        members = sorted(
            [(i, t) for i, d, t in rows if d == dom],
            key=lambda p: (hb(p[0]), p[0]),
        )
        cum = 0
        for i, t in members:
            if cum < 200:
                want.add(i)
            cum += len(t.split(" "))
    assert got == want
    # invariants: small group untouched, huge group keeps exactly its
    # one row, big group's kept tokens stay within cap + one row
    assert {100, 101} <= got and 200 in got
    big_kept = len([i for i in got if i < 100]) * 50
    assert 200 <= big_kept <= 200 + 50
    # deterministic across runs
    assert got == {
        r["doc_id"]
        for r in cap_group_tokens(docs, ["domain"], 200, salt="s").collect()
    }
    with _pytest.raises(ValueError, match="max_tokens"):
        cap_group_tokens(docs, ["domain"], 0)


def test_upsample_groups_integer_and_fractional(spark):
    """Integer factors repeat every row exactly; a fractional factor
    repeats the hash-gated share of keys one extra time, keeping the
    expected multiple; epoch numbers are 0-based and contiguous."""
    from wikiextractor_spark.operators.sampling import upsample_groups

    docs = spark.createDataFrame(
        [(i, "wiki" if i < 200 else "crawl") for i in range(1000)],
        "doc_id long, source string",
    )
    out = upsample_groups(docs, "source", {"wiki": 3.0})
    by = {r["source"]: r["count"]
          for r in out.groupBy("source").count().collect()}
    assert by == {"wiki": 600, "crawl": 800}  # crawl defaults to 1 epoch
    epochs = {r["epoch"] for r in out.filter("source = 'wiki'")
              .select("epoch").distinct().collect()}
    assert epochs == {0, 1, 2}
    # every wiki key appears exactly 3 times
    bad = (out.filter("source = 'wiki'").groupBy("doc_id").count()
           .filter("count != 3").count())
    assert bad == 0

    frac = upsample_groups(docs, "source", {"crawl": 1.5})
    n_crawl = frac.filter("source = 'crawl'").count()
    assert 1100 <= n_crawl <= 1300  # ~1.5 x 800, hash-gate noise
    # deterministic: rerun reproduces the same extra-copy set
    again = upsample_groups(docs, "source", {"crawl": 1.5})
    assert (frac.exceptAll(again).count() == 0
            and again.exceptAll(frac).count() == 0)


def test_upsample_groups_zero_drop_and_validation(spark):
    from wikiextractor_spark.operators.sampling import upsample_groups

    docs = spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, None)], "doc_id long, source string"
    )
    out = upsample_groups(docs, "source", {"a": 0.0, None: 2.0})
    got = {(r["doc_id"], r["epoch"]) for r in out.collect()}
    assert got == {(2, 0), (3, 0), (3, 1)}  # a dropped, NULL doubled

    with pytest.raises(ValueError, match="10000"):
        upsample_groups(docs, "source", {"a": float("nan")})
    with pytest.raises(ValueError, match="10000"):
        upsample_groups(docs, "source", {"a": 1e9})
    with pytest.raises(ValueError, match="epoch"):
        upsample_groups(docs.withColumn("epoch", F.lit(0)), "source", {"a": 2})


def test_upsample_groups_plan_is_narrow(spark):
    """Row multiplication must not shuffle: the plan is scan →
    filter/project → explode, with no Exchange."""
    from wikiextractor_spark.operators.sampling import upsample_groups

    docs = spark.createDataFrame(
        [(i, "a") for i in range(10)], "doc_id long, source string"
    )
    plan = upsample_groups(docs, "source", {"a": 2.5})._jdf.queryExecution(
    ).executedPlan().toString()
    assert "Exchange" not in plan


def test_perplexity_buckets(spark):
    """Thirds of the score distribution land in head/middle/tail;
    fluent docs rank head, gibberish ranks tail; zero-token docs get
    a NULL bucket."""
    from wikiextractor_spark.functions.lmquality import (
        fit_unigram_lm,
        perplexity_buckets,
    )

    # doc i blends i in-vocabulary tokens with (30 - i) unseen ones,
    # so mean_logp rises strictly with i and the quantile cuts fall
    # BETWEEN documents (tied scores would sit on the boundary and
    # make the >=-inclusive labels group-size dependent)
    rows = [
        (i, " ".join(["common"] * i + [f"qq{i}x{j}" for j in range(30 - i)]))
        for i in range(30)
    ] + [(999, "   ")]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    lm = fit_unigram_lm(docs, vocab_size=100)
    out = perplexity_buckets(docs, lm, relative_error=0.001)
    got = {r["doc_id"]: r["ppx_bucket"] for r in out.collect()}
    assert got[29] == "head" and got[15] == "middle" and got[0] == "tail"
    assert got[999] is None
    assert out.count() == 31  # left join keeps every doc

    with pytest.raises(ValueError, match="cuts"):
        perplexity_buckets(docs, lm, cuts=(0.0, 0.5))


def test_upsample_groups_scratch_column_collision(spark):
    """A caller's own '_n_copies'/'_n' column must survive untouched."""
    from wikiextractor_spark.operators.sampling import upsample_groups

    docs = spark.createDataFrame(
        [(1, "a", 7), (2, "b", 9)], "doc_id long, source string, _n_copies int"
    )
    out = upsample_groups(docs, "source", {"a": 2.0})
    rows = {(r["doc_id"], r["epoch"]): r["_n_copies"] for r in out.collect()}
    assert rows == {(1, 0): 7, (1, 1): 7, (2, 0): 9}


def test_weighted_sample_proportionality(spark):
    """High-weight rows survive at ~their weight ratio; the draw is
    deterministic; NULL/NaN/negative weights drop; validation."""
    from wikiextractor_spark.operators.sampling import weighted_sample

    rows = ([(i, 1.0) for i in range(2000)]
            + [(10_000 + i, 4.0) for i in range(2000)])
    df = spark.createDataFrame(rows, "doc_id long, w double")
    out = weighted_sample(df, "w")
    by = {r["w"]: r["count"] for r in out.groupBy("w").count().collect()}
    assert by[4.0] == 2000                    # max weight keeps all
    assert 400 <= by[1.0] <= 600              # ~1/4 of 2000
    again = weighted_sample(df, "w")
    # symmetric: sub-multiset in one direction alone would pass a
    # draw that nondeterministically kept MORE rows
    assert (out.exceptAll(again).count() == 0
            and again.exceptAll(out).count() == 0)

    # target fraction: unclipped expectation ~ target
    frac = weighted_sample(df, "w", target_fraction=0.4)
    assert 0.30 <= frac.count() / 4000 <= 0.45

    bad = spark.createDataFrame(
        [(1, 2.0), (2, None), (3, -1.0), (4, float("nan"))],
        "doc_id long, w double",
    )
    kept = {r["doc_id"] for r in weighted_sample(bad, "w").collect()}
    # the sole valid row is also the max weight -> kept with p=1
    assert kept == {1}

    # no valid rows -> empty frame (consistent with the other
    # samplers), never a crash — and invalid rows must not poison
    # the calibration stats (a NaN max would disable proportionality)
    assert weighted_sample(
        spark.createDataFrame([(1, -2.0)], "doc_id long, w double"), "w"
    ).count() == 0
    poisoned = spark.createDataFrame(
        [(i, 1.0) for i in range(2000)]
        + [(10_000 + i, 4.0) for i in range(2000)]
        + [(99_999, float("nan")), (99_998, -50.0)],
        "doc_id long, w double",
    )
    pby = {r["w"]: r["count"] for r in weighted_sample(poisoned, "w")
           .groupBy("w").count().collect()}
    assert pby.get(4.0) == 2000 and 400 <= pby.get(1.0, 0) <= 600

    with pytest.raises(ValueError, match="target_fraction"):
        weighted_sample(df, "w", target_fraction=1.5)


def test_hashed_embeddings_contracts(spark):
    """Model-free feature-hashed embeddings: identical docs map to
    identical unit vectors, near-dups sit at high cosine, unrelated
    docs near zero, empty/NULL docs get NULL, the plan is narrow."""
    import math

    from wikiextractor_spark.operators.similarity import hashed_embeddings

    long_a = " ".join(f"word{i}" for i in range(200))
    long_b = long_a.replace("word5 ", "changed ")
    other = " ".join(f"tok{i}" for i in range(200))
    df = spark.createDataFrame(
        [(1, long_a), (2, long_a), (3, long_b), (4, other),
         (5, "   "), (6, None)],
        "doc_id long, text string",
    )
    rows = {r["vec_id"]: r["embedding"]
            for r in hashed_embeddings(df).collect()}

    def cos(a, b):
        return sum(x * y for x, y in zip(a, b))

    assert rows[1] == rows[2]
    assert all(abs(math.sqrt(cos(v, v)) - 1.0) < 1e-9
               for v in rows.values() if v is not None)
    assert cos(rows[1], rows[3]) > 0.95
    assert abs(cos(rows[1], rows[4])) < 0.3
    assert rows[5] is None and rows[6] is None
    plan = hashed_embeddings(df)._jdf.queryExecution(
    ).executedPlan().toString()
    assert "Exchange" not in plan
    with pytest.raises(ValueError, match="dim"):
        hashed_embeddings(df, dim=1)


def test_hashed_embeddings_feed_semantic_dedup(spark):
    """The model-free vectors drive the semantic family end to end:
    prepare_corpus(dedup='semantic') on raw text alone collapses the
    planted paraphrase-grade near-dup."""
    from wikiextractor_spark.operators.corpus import prepare_corpus
    from wikiextractor_spark.operators.similarity import hashed_embeddings

    base = " ".join(f"word{i}" for i in range(150))
    docs = spark.createDataFrame(
        [(1, base), (2, base.replace("word7 ", "seven ")),
         (3, " ".join(f"tok{i}" for i in range(150)))],
        "doc_id long, text string",
    )
    out = prepare_corpus(
        docs, dedup="semantic",
        embeddings=hashed_embeddings(docs),
        semantic_dedup_threshold=0.9,
        semantic_cluster={"n_clusters": 1},
    )
    kept = {r["doc_id"] for r in out.collect()}
    assert 3 in kept and len(kept & {1, 2}) == 1


def _clustered_vectors(n, dim=64, centers=5, seed=13):
    import random as _r

    rng = _r.Random(seed)
    cs = [[rng.gauss(0, 1) for _ in range(dim)] for _ in range(centers)]
    out = []
    for i in range(n):
        c = cs[i % centers]
        out.append((i, [x + rng.gauss(0, 0.15) for x in c]))
    return out


def test_pq_encode_contracts(spark):
    from wikiextractor_spark.operators.similarity import pq_encode, train_pq

    emb = spark.createDataFrame(
        _clustered_vectors(80), "vec_id long, embedding array<double>"
    )
    books = train_pq(emb, m=8, k=16)
    assert len(books) == 8 and all(len(b) <= 16 for b in books)
    codes = pq_encode(emb, books)
    rows = {r["vec_id"]: r["codes"] for r in codes.collect()}
    assert all(len(c) == 8 for c in rows.values())
    assert all(0 <= x < 16 for c in rows.values() for x in c)
    # deterministic
    again = {r["vec_id"]: r["codes"] for r in pq_encode(emb, books).collect()}
    assert rows == again
    # the encode plan is narrow (no shuffle)
    plan = pq_encode(emb, books)._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan

    with pytest.raises(ValueError, match="divide"):
        train_pq(emb, m=7)


def test_pq_search_recall_vs_brute_force(spark):
    """Asymmetric-distance search over the compressed corpus recovers
    a useful share of the exact top-k at the FINAL grain, and more at
    the SHORTLIST grain (topk×4 — what the refine stage re-ranks).

    The final-grain pin is deliberately modest, and the change from
    the old 0.5 pin is a REAL measured drop on this fixture, not
    noise: raw-mean L2 codebooks (Jégou 2011, ADVICE r7) reconstruct
    tight clusters so well that within-cluster order degenerates to
    the id tie-break (~0.4 here vs ~0.56 for the old unit-norm
    codebooks, whose 27×-worse reconstruction error accidentally
    shattered the ties).  The trade is taken deliberately: shortlist
    -grain recall — what the refine stage actually consumes — stays
    within noise of the old mode (asserted below), and refine is the
    family's documented recall path (see
    test_ivf_pq_composed_search); full ablation in train_pq's
    docstring."""
    from wikiextractor_spark.operators.similarity import (
        ann_brute_force_topk,
        pq_encode,
        pq_search,
        train_pq,
    )

    data = _clustered_vectors(100)
    emb = spark.createDataFrame(data, "vec_id long, embedding array<double>")
    books = train_pq(emb, m=8, k=16)
    codes = pq_encode(emb, books).localCheckpoint(eager=True)

    queries = [(i, v) for i, v in data[:3]]
    got = pq_search(codes, books, queries, topk=5, exclude_self=True)
    exact = ann_brute_force_topk(emb, query_ids=[0, 1, 2], k=5)
    g = {}
    for r in got.collect():
        g.setdefault(r["q_id"], set()).add(r["neighbor_id"])
    e = {}
    for r in exact.collect():
        e.setdefault(r["q_id"], set()).add(r["neighbor_id"])
    recalls = [len(g[q] & e[q]) / 5 for q in e]
    assert sum(recalls) / len(recalls) >= 0.3, recalls
    # every query got exactly topk rows, ranked 1..k
    for q, ids in g.items():
        assert len(ids) == 5
    # the shortlist grain (what refine re-ranks) recovers strictly
    # more of the exact set than the final grain loses to ties
    short = pq_search(codes, books, queries, topk=20, exclude_self=True)
    gs = {}
    for r in short.collect():
        gs.setdefault(r["q_id"], set()).add(r["neighbor_id"])
    short_recalls = [len(gs[q] & e[q]) / 5 for q in e]
    assert sum(short_recalls) / len(short_recalls) >= 0.6, short_recalls

    with pytest.raises(ValueError, match="at least one query"):
        pq_search(codes, books, [])


def test_ivf_pq_composed_search(spark):
    """The IVF-PQ composition: probe pruning + compressed scoring
    still recovers most exact neighbors on clustered data, serves
    never-seen query vectors, and excludes a query from its own
    neighbors when it exists in the corpus."""
    from wikiextractor_spark.operators.similarity import (
        ann_brute_force_topk,
        ann_ivf_pq_topk,
    )

    data = _clustered_vectors(120)
    emb = spark.createDataFrame(data, "vec_id long, embedding array<double>")
    queries = [(i, v) for i, v in data[:3]]
    got = ann_ivf_pq_topk(
        emb, queries, topk=5, nprobe=4, n_centroids=8, m=16, k_sub=16,
        exclude_self=True,
    )
    exact = ann_brute_force_topk(emb, query_ids=[0, 1, 2], k=5)
    g, e = {}, {}
    for r in got.collect():
        g.setdefault(r["q_id"], set()).add(r["neighbor_id"])
    for r in exact.collect():
        e.setdefault(r["q_id"], set()).add(r["neighbor_id"])
    recalls = [len(g[q] & e[q]) / 5 for q in e]
    assert sum(recalls) / len(recalls) >= 0.7, recalls
    assert all(q not in ids for q, ids in g.items())  # self-excluded

    # refine=1 (pure PQ order) degrades on tight clusters — identical
    # codes tie-break by id; the re-rank must beat it
    raw = ann_ivf_pq_topk(
        emb, queries, topk=5, nprobe=4, refine=1, n_centroids=8,
        m=16, k_sub=16, exclude_self=True,
    )
    g1 = {}
    for r in raw.collect():
        g1.setdefault(r["q_id"], set()).add(r["neighbor_id"])
    raw_recall = sum(len(g1[q] & e[q]) / 5 for q in e) / len(e)
    assert sum(recalls) / len(recalls) >= raw_recall

    # a NEW vector (not in the corpus) is served too
    new_q = [(999_999, [v + 0.01 for v in data[0][1]])]
    served = ann_ivf_pq_topk(
        emb, new_q, topk=3, nprobe=4, n_centroids=8, m=16, k_sub=16
    ).collect()
    assert len(served) == 3 and {r["q_id"] for r in served} == {999_999}

    with pytest.raises(ValueError, match="at least one query"):
        ann_ivf_pq_topk(emb, [])


def test_pq_serving_guards(spark):
    """The serving-surface guards the sibling path established:
    dimension mismatch, duplicate q_ids, no silent caller-space
    self-exclusion, wrong-dim corpus at train time."""
    from wikiextractor_spark.operators.similarity import (
        pq_encode,
        pq_search,
        train_pq,
    )

    data = _clustered_vectors(40)
    emb = spark.createDataFrame(data, "vec_id long, embedding array<double>")
    books = train_pq(emb, m=8, k=8)
    codes = pq_encode(emb, books)

    with pytest.raises(ValueError, match="64-dim"):
        pq_search(codes, books, [(1, [0.0] * 32)])
    with pytest.raises(ValueError, match="duplicate"):
        pq_search(codes, books, [(1, data[0][1]), (1, data[1][1])])

    # caller-space ids: default keeps a corpus row sharing the id
    got = pq_search(codes, books, [(0, data[0][1])], topk=3).collect()
    assert 0 in {r["neighbor_id"] for r in got}  # itself, score ~max

    short = spark.createDataFrame(
        [(i, v[:32]) for i, v in data], "vec_id long, embedding array<double>"
    )
    with pytest.raises(ValueError, match="expected 64-dim"):
        train_pq(short)


def test_pq_broadcast_join_path_equals_stack_path(spark):
    """The PQ search paths score through one broadcast (q_id, lut)
    frame.  Their rows equal the literal rows captured when an
    inlined-stack path still existed beside it (both paths agreed
    then), and the broadcast path serves a 1000-query batch — where
    per-query inlined SQL blew up codegen (VERDICT r7)."""
    from wikiextractor_spark.operators.similarity import (
        ann_ivf_pq_topk,
        pq_encode,
        pq_search,
        train_pq,
    )

    data = _clustered_vectors(60)
    emb = spark.createDataFrame(data, "vec_id long, embedding array<double>")
    books = train_pq(emb, m=8, k=8)
    codes = pq_encode(emb, books).localCheckpoint(eager=True)
    queries = [(i, v) for i, v in data[:6]]

    def rows(df):
        return sorted(
            (r["q_id"], r["neighbor_id"], r["score"], r["rank"])
            for r in df.collect()
        )

    assert rows(pq_search(codes, books, queries, topk=4)) == [
        (0, 0, 60.764737, 1), (0, 5, 60.764737, 2),
        (0, 10, 60.764737, 3), (0, 15, 60.764737, 4),
        (1, 6, 80.352723, 1), (1, 11, 79.19203, 4),
        (1, 41, 79.555158, 2), (1, 46, 79.354569, 3),
        (2, 2, 57.260265, 1), (2, 7, 57.260265, 2),
        (2, 12, 57.260265, 3), (2, 17, 57.260265, 4),
        (3, 18, 62.312171, 1), (3, 38, 62.19739, 2),
        (3, 48, 61.967686, 3), (3, 53, 61.941471, 4),
        (4, 4, 61.539302, 4), (4, 14, 61.703447, 3),
        (4, 24, 61.783132, 1), (4, 49, 61.783132, 2),
        (5, 0, 59.975082, 1), (5, 5, 59.975082, 2),
        (5, 10, 59.975082, 3), (5, 15, 59.975082, 4),
    ]

    composed = ann_ivf_pq_topk(
        emb, queries, topk=4, nprobe=3, n_centroids=6, m=8, k_sub=8,
    )
    assert rows(composed) == [
        (0, 0, 1.0, 1), (0, 5, 0.983317, 3),
        (0, 40, 0.983911, 2), (0, 55, 0.983255, 4),
        (1, 1, 1.0, 1), (1, 6, 0.986472, 4),
        (1, 16, 0.987689, 2), (1, 36, 0.987368, 3),
        (2, 2, 1.0, 1), (2, 7, 0.979503, 2),
        (2, 12, 0.974247, 4), (2, 47, 0.976507, 3),
        (3, 3, 1.0, 1), (3, 28, 0.979494, 2),
        (3, 38, 0.978613, 3), (3, 53, 0.978225, 4),
        (4, 4, 1.0, 1), (4, 24, 0.980636, 2),
        (4, 39, 0.979859, 4), (4, 49, 0.980215, 3),
        (5, 0, 0.983317, 2), (5, 5, 1.0, 1),
        (5, 25, 0.982421, 4), (5, 40, 0.982953, 3),
    ]

    # 1000-query batch through the broadcast path: completes and returns
    # exactly topk rows per query (the pin is "no codegen blowup")
    import random as _r

    rng = _r.Random(3)
    big = [
        (10_000 + i, [rng.gauss(0, 1) for _ in range(64)])
        for i in range(1000)
    ]
    served = pq_search(codes, books, big, topk=2)
    counts = served.groupBy("q_id").count().collect()
    assert len(counts) == 1000 and all(r["count"] == 2 for r in counts)


def test_ivf_index_pq_build_and_serving(spark, emb, tmp_path):
    """A pq= build persists codes IN the vectors table and the
    codebooks next to the centroids; the use_pq serving path scores
    codes off disk (column-pruned — the scan that feeds the LUT join
    never reads the vector column) and equals the in-memory
    ann_ivf_pq_topk on the same centroids/books."""
    from wikiextractor_spark.operators.similarity import (
        ann_ivf_pq_topk,
        ann_ivf_search_vectors,
        build_ivf_index,
        ivf_index_add,
        load_ivf_centroids,
        load_pq_books,
        pq_encode,
    )

    idx = str(tmp_path / "ivfpq")
    corpus = emb.limit(200).localCheckpoint(eager=True)
    centroids = build_ivf_index(
        corpus, idx, k=4, iters=1, pq={"m": 8, "k": 8, "iters": 1}
    )
    books = load_pq_books(spark, idx)
    assert books is not None and len(books) == 8
    assert all(len(b) <= 8 for b in books)

    # stored codes equal a fresh encode under the stored books
    stored = {
        r["vec_id"]: list(r["codes"])
        for r in spark.read.parquet(f"{idx}/vectors").collect()
    }
    fresh = {
        r["vec_id"]: list(r["codes"])
        for r in pq_encode(corpus, books).collect()
    }
    assert stored == fresh

    qrows = corpus.filter(F.col("vec_id") < 3).collect()
    queries = [(900 + r["vec_id"], [float(x) for x in r["embedding"]])
               for r in qrows]
    served = ann_ivf_search_vectors(
        spark, idx, queries, k=4, nprobe=2, use_pq=True, refine=3
    )
    mem = ann_ivf_pq_topk(
        corpus, queries, topk=4, nprobe=2, refine=3,
        centroids=load_ivf_centroids(spark, idx), books=books,
    )
    s_rows = sorted(
        (r["q_id"], r["neighbor_id"], r["cos"], r["rank"])
        for r in served.collect()
    )
    m_rows = sorted(
        (r["q_id"], r["neighbor_id"], r["score"], r["rank"])
        for r in mem.collect()
    )
    assert s_rows == m_rows

    # bytes-read bound: the code-scoring scan is pruned to the codes
    # column (no embedding), and the refine fetch pushes the id
    # filter down to the parquet scan.  localCheckpoint truncates the
    # shortlist's lineage out of the final explain, so neutralize it
    # for the plan inspection only.
    import contextlib
    import io
    from unittest import mock

    # patch the CONCRETE DataFrame class (pyspark.sql.DataFrame is an
    # abstract base in Spark 4; its subclass overrides the method)
    _DF = type(corpus)

    with mock.patch.object(
        _DF, "localCheckpoint", lambda self, eager=True: self
    ):
        full = ann_ivf_search_vectors(
            spark, idx, queries, k=4, nprobe=2, use_pq=True, refine=3
        )
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            full.explain("formatted")
    plan = buf.getvalue()
    scans = [l for l in plan.splitlines() if "ReadSchema" in l]
    assert any("codes" in l and "embedding" not in l for l in scans), scans
    pushed = [l for l in plan.splitlines() if "PushedFilters" in l]
    assert any("vec_id" in l and "in(" in l.lower() for l in pushed), pushed

    # incremental add encodes against the STORED books
    extra = emb.filter(
        (F.col("vec_id") >= 200) & (F.col("vec_id") < 220)
    ).localCheckpoint(eager=True)
    ivf_index_add(spark, idx, extra)
    stored2 = {
        r["vec_id"]: list(r["codes"])
        for r in spark.read.parquet(f"{idx}/vectors").collect()
    }
    fresh2 = {
        r["vec_id"]: list(r["codes"])
        for r in pq_encode(extra, books).collect()
    }
    assert all(stored2[i] == fresh2[i] for i in fresh2)

    # a non-PQ index refuses use_pq loudly
    import pytest as _pytest

    idx2 = str(tmp_path / "plain")
    build_ivf_index(corpus.limit(50), idx2, k=2, iters=0)
    assert load_pq_books(spark, idx2) is None
    with _pytest.raises(ValueError, match="pq_books"):
        ann_ivf_search_vectors(
            spark, idx2, queries[:1], use_pq=True
        )


def test_ivf_index_pq_member_queries(spark, emb, tmp_path):
    """Member-id search with use_pq: same PQ-scored candidate scan as
    the external-vector path, self excluded.  For a member whose
    vector is also submitted externally, the external result equals
    the member result after dropping the self row."""
    from wikiextractor_spark.operators.similarity import (
        ann_ivf_search_vectors,
        ann_ivf_topk_indexed,
        build_ivf_index,
    )

    idx = str(tmp_path / "ivfpq_member")
    corpus = emb.limit(150).localCheckpoint(eager=True)
    build_ivf_index(corpus, idx, k=4, iters=1, pq={"m": 8, "k": 8})

    member = corpus.filter(F.col("vec_id") == 5).collect()[0]
    # refine=60 makes the k·refine shortlist exceed the corpus, so
    # the exact re-rank sees every candidate and the two paths must
    # agree exactly (at small refine their PQ shortlists legitimately
    # differ — the external path spends one slot on the self row)
    by_id = [
        (r["neighbor_id"], r["cos"])
        for r in ann_ivf_topk_indexed(
            spark, idx, query_ids=[5], k=3, nprobe=4, use_pq=True,
            refine=60,
        ).orderBy("rank").collect()
    ]
    by_vec = [
        (r["neighbor_id"], r["cos"])
        for r in ann_ivf_search_vectors(
            spark, idx, [(77, list(member["embedding"]))], k=4, nprobe=4,
            use_pq=True, refine=60,
        ).orderBy("rank").collect()
    ]
    assert by_vec[0] == (5, 1.0)  # finds itself first, cos 1.0
    assert by_vec[1:] == by_id    # then the member's own neighbors
    assert all(n != 5 for n, _ in by_id)  # self excluded
    # small-refine path still serves: k rows, self excluded, ranked
    small = ann_ivf_topk_indexed(
        spark, idx, query_ids=[5], k=3, nprobe=4, use_pq=True, refine=3,
    ).collect()
    assert len(small) == 3
    assert all(r["neighbor_id"] != 5 for r in small)
    assert sorted(r["rank"] for r in small) == [1, 2, 3]

    import pytest as _pytest

    idx2 = str(tmp_path / "plain2")
    build_ivf_index(corpus.limit(30), idx2, k=2, iters=0)
    with _pytest.raises(ValueError, match="pq_books"):
        ann_ivf_topk_indexed(spark, idx2, [5], use_pq=True)


def test_build_ivf_index_rejects_unknown_pq_keys(spark, emb, tmp_path):
    """A typo'd pq key (e.g. k_sub, mirroring ann_ivf_pq_topk's
    parameter name) must raise instead of silently training default
    codebooks."""
    from wikiextractor_spark.operators.similarity import build_ivf_index

    with pytest.raises(ValueError, match="k_sub"):
        build_ivf_index(
            emb.limit(20), str(tmp_path / "x"), k=2, iters=0,
            pq={"m": 8, "k_sub": 8},
        )


def test_ivf_rebuild_without_pq_clears_stale_books(spark, emb, tmp_path):
    """A rebuild WITHOUT pq= must remove a previous build's codebooks:
    a stale pq_books directory would make load_pq_books misreport the
    raw-vector index as PQ-carrying (use_pq guard passes, then the
    probe dies on the missing codes column; ivf_index_add would
    encode appends against stale books)."""
    from wikiextractor_spark.operators.similarity import (
        build_ivf_index,
        load_pq_books,
    )

    idx = str(tmp_path / "rebuilt")
    corpus = emb.limit(40).localCheckpoint(eager=True)
    build_ivf_index(corpus, idx, k=2, iters=0, pq={"m": 8, "k": 4})
    assert load_pq_books(spark, idx) is not None
    build_ivf_index(corpus, idx, k=2, iters=0)  # rebuild, no pq
    assert load_pq_books(spark, idx) is None
    assert "codes" not in spark.read.parquet(f"{idx}/vectors").columns


def test_sq8_encode_and_recall(spark, emb):
    """Scalar quantization: int8 codes in range, deterministic,
    narrow encode plan, and near-exact recall (8 bits/dim keeps far
    more information than PQ's ~1 bit/dim)."""
    from wikiextractor_spark.operators.similarity import (
        ann_brute_force_topk,
        sq_encode,
        sq_search,
        train_sq,
    )

    corpus = emb.limit(200).localCheckpoint(eager=True)
    sq = train_sq(corpus)
    assert len(sq) == 64
    assert all(st >= 0 for _lo, st in sq)

    codes = sq_encode(corpus, sq).localCheckpoint(eager=True)
    # codes are true 1-byte elements (level - 128 in a SIGNED byte):
    # element width IS the compression story for SQ
    assert dict(codes.dtypes)["codes"] == "array<tinyint>"
    rows = {r["vec_id"]: r["codes"] for r in codes.collect()}
    assert all(-128 <= c <= 127 for cs in rows.values() for c in cs)
    again = {r["vec_id"]: r["codes"] for r in sq_encode(corpus, sq).collect()}
    assert rows == again
    plan = sq_encode(corpus, sq)._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan

    qrows = corpus.filter(F.col("vec_id") < 5).collect()
    queries = [(r["vec_id"], [float(x) for x in r["embedding"]])
               for r in qrows]
    got = sq_search(codes, sq, queries, topk=5, exclude_self=True)
    exact = ann_brute_force_topk(corpus, query_ids=[q for q, _ in queries], k=5)
    g, e = {}, {}
    for r in got.collect():
        g.setdefault(r["q_id"], set()).add(r["neighbor_id"])
    for r in exact.collect():
        e.setdefault(r["q_id"], set()).add(r["neighbor_id"])
    recall = sum(len(g[q] & e[q]) / 5 for q in e) / len(e)
    assert recall >= 0.8, recall
    for ids in g.values():
        assert len(ids) == 5

    # serving guards shared with the PQ family
    with pytest.raises(ValueError, match="at least one query"):
        sq_search(codes, sq, [])
    with pytest.raises(ValueError, match="duplicate"):
        sq_search(codes, sq, [(1, queries[0][1]), (1, queries[1][1])])
    with pytest.raises(ValueError, match="64-dim"):
        sq_search(codes, sq, [(1, [0.0] * 32)])


def test_sq8_constant_dimension_roundtrip(spark):
    """A constant dimension gets step 0 and decodes exactly — no
    divide-by-zero, no code drift."""
    from wikiextractor_spark.operators.similarity import (
        sq_encode,
        sq_search,
        train_sq,
    )

    rows = [(i, [1.5, float(i % 7), -2.0]) for i in range(30)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    sq = train_sq(df)
    assert sq[0][1] == 0.0 and sq[2][1] == 0.0  # constant dims
    codes = {r["vec_id"]: r["codes"] for r in sq_encode(df, sq).collect()}
    assert all(c[0] == -128 and c[2] == -128 for c in codes.values())
    got = sq_search(codes=sq_encode(df, sq), sq=sq,
                    queries=[(0, rows[0][1])], topk=3).collect()
    assert len(got) == 3


def test_sq8_guards_and_broadcast_path(spark, emb):
    """Review findings r8: dim-mismatched or NULL-element code rows
    RAISE instead of silently vanishing from results; all-NULL
    training dimensions raise the contract error; the broadcast
    scoring path returns the literal rows captured when an
    inlined-stack path still existed beside it (both agreed then)."""
    from wikiextractor_spark.operators.similarity import (
        sq_encode,
        sq_search,
        train_sq,
    )

    corpus = emb.limit(60).localCheckpoint(eager=True)
    sq = train_sq(corpus)
    codes = sq_encode(corpus, sq).localCheckpoint(eager=True)
    qrows = corpus.filter(F.col("vec_id") < 4).collect()
    queries = [(r["vec_id"], [float(x) for x in r["embedding"]])
               for r in qrows]

    def rows(df):
        return sorted(
            (r["q_id"], r["neighbor_id"], r["score"], r["rank"])
            for r in df.collect()
        )

    assert rows(sq_search(codes, sq, queries, topk=3)) == [
        (0, 0, 1.000156, 1), (0, 12, 0.311302, 3), (0, 17, 0.335411, 2),
        (1, 1, 1.000366, 1), (1, 14, 0.165582, 3), (1, 50, 0.196602, 2),
        (2, 2, 1.001147, 1), (2, 24, 0.230624, 2), (2, 33, 0.186777, 3),
        (3, 3, 1.000116, 1), (3, 32, 0.227831, 2), (3, 53, 0.217077, 3),
    ]

    # a short-codes row raises
    short = spark.createDataFrame(
        [(999, [0] * 32)], "vec_id long, codes array<int>"
    ).select("vec_id", F.expr("transform(codes, c -> cast(c as tinyint))")
             .alias("codes"))
    with pytest.raises(Exception, match="does not match"):
        sq_search(codes.unionByName(short), sq, queries[:1],
                  topk=3).collect()

    # all-NULL training dimension
    null_dim = corpus.select(
        "vec_id",
        F.expr("transform(embedding, (x, i) -> IF(i = 3, NULL, "
               "cast(x as double)))").alias("embedding"),
    )
    with pytest.raises(ValueError, match="NULL in every"):
        train_sq(null_dim)


def test_pq_codes_shape_guard_raises(spark, emb, tmp_path):
    """ADVICE r9: PQ scoring (pq_search and the persisted use_pq
    probe) must RAISE on a codes row with the wrong length or a NULL
    element — zip_with/t[c] would otherwise NULL-score it and
    silently drop it from every shortlist, the exact asymmetry the
    sibling sq_search already guards against."""
    from wikiextractor_spark.operators.similarity import (
        ann_ivf_search_vectors,
        build_ivf_index,
        pq_encode,
        pq_search,
        train_pq,
    )

    corpus = emb.limit(60).localCheckpoint(eager=True)
    books = train_pq(corpus, m=8, k=8, iters=0)
    codes = pq_encode(corpus, books).localCheckpoint(eager=True)
    qrows = corpus.filter(F.col("vec_id") < 3).collect()
    queries = [(r["vec_id"], [float(x) for x in r["embedding"]])
               for r in qrows]

    short = spark.createDataFrame(
        [(901, [0] * 4)], "vec_id long, codes array<int>"
    )
    nulled = spark.createDataFrame(
        [(902, [0] * 7 + [None])], "vec_id long, codes array<int>"
    )
    for bad in (short, nulled):
        with pytest.raises(Exception, match="does not match"):
            pq_search(codes.unionByName(bad), books, queries[:1],
                      topk=3).collect()

    # persisted path: a corrupt codes row planted INSIDE the index
    # partitions must raise at serving time, not vanish
    pidx = str(tmp_path / "pqidx")
    build_ivf_index(
        corpus, pidx, k=2, iters=0, pq={"m": 8, "k": 8, "iters": 0}
    )
    one = spark.read.parquet(f"{pidx}/vectors").limit(1)
    (
        one.withColumn("codes", F.expr("slice(codes, 1, 4)"))
        .withColumn("vec_id", F.lit(990_001))
        .withColumn("centroid_id", F.lit(0))
        .repartition(1)
        .write.mode("append").partitionBy("centroid_id")
        .parquet(f"{pidx}/vectors")
    )
    with pytest.raises(Exception, match="does not match"):
        ann_ivf_search_vectors(
            spark, pidx, queries[:1], k=3, nprobe=2,
            use_pq=True, refine=2,
        ).collect()


def test_ivf_index_add_books_none_on_pq_index_raises(spark, emb, tmp_path):
    """ADVICE r9 (medium): books=None on a PQ-carrying index would
    append rows WITHOUT a codes column — a mixed-schema vectors table
    whose code-less rows silently vanish from every use_pq probe.
    The add must fail fast instead (mirror of the build's stale-books
    guard); explicit books=None on a PLAIN index stays valid (the
    streaming loop's artifact cache passes it)."""
    from wikiextractor_spark.operators.similarity import (
        build_ivf_index,
        ivf_index_add,
        load_ivf_centroids,
    )

    corpus = emb.limit(40).localCheckpoint(eager=True)
    extra = emb.filter(
        (F.col("vec_id") >= 40) & (F.col("vec_id") < 50)
    ).localCheckpoint(eager=True)

    idx = str(tmp_path / "pqidx")
    build_ivf_index(corpus, idx, k=2, iters=0,
                    pq={"m": 8, "k": 8, "iters": 0})
    with pytest.raises(ValueError, match="code-less"):
        ivf_index_add(spark, idx, extra, books=None)
    # nothing was appended by the refused call
    n = spark.read.parquet(f"{idx}/vectors").count()
    assert n == 40

    plain = str(tmp_path / "plainidx")
    build_ivf_index(corpus, plain, k=2, iters=0)
    ivf_index_add(
        spark, plain, extra,
        centroids=load_ivf_centroids(spark, plain), books=None,
    )
    assert spark.read.parquet(f"{plain}/vectors").count() == 50


def test_ivf_index_sq_build_and_serving(spark, emb, tmp_path):
    """VERDICT r8 item 3: an sq=True build persists the per-dim codec
    and an sq_codes column; use_sq serving reads codes column-pruned,
    shortlists per the SAME scores as flat sq_search on the loaded
    codec, and exact-reranks the sliver — so with a full probe the
    result is pinned two ways: (a) against a hand-built shortlist →
    brute-force-cosine rerank, (b) with refine covering the corpus,
    against the unquantized serving path exactly."""
    import math

    from wikiextractor_spark.operators.similarity import (
        ann_ivf_search_vectors,
        build_ivf_index,
        ivf_index_add,
        load_sq_codec,
        sq_encode,
        sq_search,
    )

    idx = str(tmp_path / "ivfsq")
    corpus = emb.limit(60).localCheckpoint(eager=True)
    build_ivf_index(corpus, idx, k=3, iters=1, sq=True)
    codec = load_sq_codec(spark, idx)
    assert codec is not None and len(codec) == 64

    # stored sq_codes equal a fresh encode under the loaded codec
    stored = {
        r["vec_id"]: list(r["sq_codes"])
        for r in spark.read.parquet(f"{idx}/vectors").collect()
    }
    fresh = {
        r["vec_id"]: list(r["codes"])
        for r in sq_encode(corpus, codec).collect()
    }
    assert stored == fresh

    vecs = {
        r["vec_id"]: [float(x) for x in r["embedding"]]
        for r in corpus.collect()
    }
    qrows = corpus.filter(F.col("vec_id") < 3).collect()
    queries = [(900 + r["vec_id"], [float(x) for x in r["embedding"]])
               for r in qrows]

    # (a) shortlist parity vs FLAT sq_search on the same codec, then
    # brute-force exact-cosine rerank of that shortlist
    k, refine = 4, 3
    flat = sq_search(
        sq_encode(corpus, codec), codec, queries, topk=k * refine,
    ).collect()
    short_by_q: dict[int, list[int]] = {}
    for r in flat:
        short_by_q.setdefault(r["q_id"], []).append(r["neighbor_id"])

    def _cos(a, b):
        num = sum(x * y for x, y in zip(a, b))
        da = math.sqrt(sum(x * x for x in a))
        db = math.sqrt(sum(x * x for x in b))
        return round(num / (da * db), 6) if da and db else 0.0

    expected = []
    for qid, qv in queries:
        ranked = sorted(
            ((_cos(qv, vecs[n]), n) for n in short_by_q[qid]),
            key=lambda t: (-t[0], t[1]),
        )[:k]
        expected.extend(
            (qid, n, c, i + 1) for i, (c, n) in enumerate(ranked)
        )
    served = ann_ivf_search_vectors(
        spark, idx, queries, k=k, nprobe=3, use_sq=True, refine=refine,
    )
    got = sorted(
        (r["q_id"], r["neighbor_id"], r["cos"], r["rank"])
        for r in served.collect()
    )
    assert got == sorted(expected)

    # (b) refine covering the corpus → equals the unquantized path
    full_sq = ann_ivf_search_vectors(
        spark, idx, queries, k=k, nprobe=3, use_sq=True, refine=60,
    )
    plain = ann_ivf_search_vectors(spark, idx, queries, k=k, nprobe=3)
    as_rows = lambda df: sorted(  # noqa: E731
        (r["q_id"], r["neighbor_id"], r["cos"], r["rank"])
        for r in df.collect()
    )
    assert as_rows(full_sq) == as_rows(plain)

    # bytes-read bound: the scoring scan reads sq_codes WITHOUT the
    # embedding column; the refine fetch pushes the id filter down
    import contextlib
    import io
    from unittest import mock

    _DF = type(corpus)
    with mock.patch.object(
        _DF, "localCheckpoint", lambda self, eager=True: self
    ):
        full = ann_ivf_search_vectors(
            spark, idx, queries, k=k, nprobe=3, use_sq=True, refine=refine,
        )
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            full.explain("formatted")
    plan = buf.getvalue()
    scans = [l for l in plan.splitlines() if "ReadSchema" in l]
    assert any("sq_codes" in l and "embedding" not in l for l in scans), scans
    pushed = [l for l in plan.splitlines() if "PushedFilters" in l]
    assert any("vec_id" in l and "in(" in l.lower() for l in pushed), pushed

    # incremental add encodes against the STORED codec
    extra = emb.filter(
        (F.col("vec_id") >= 60) & (F.col("vec_id") < 70)
    ).localCheckpoint(eager=True)
    ivf_index_add(spark, idx, extra)
    stored2 = {
        r["vec_id"]: list(r["sq_codes"])
        for r in spark.read.parquet(f"{idx}/vectors").collect()
    }
    fresh2 = {
        r["vec_id"]: list(r["codes"])
        for r in sq_encode(extra, codec).collect()
    }
    assert all(stored2[i] == fresh2[i] for i in fresh2)


def test_ivf_index_sq_contracts(spark, emb, tmp_path):
    """SQ-in-index contract edges: use_sq on a codec-less index and
    sq=None appends to an SQ-carrying index both raise; use_pq and
    use_sq are mutually exclusive; a rebuild without sq clears the
    stale codec; pq= and sq=True compose in one build."""
    from wikiextractor_spark.operators.similarity import (
        ann_ivf_search_vectors,
        build_ivf_index,
        ivf_index_add,
        load_pq_books,
        load_sq_codec,
    )

    corpus = emb.limit(40).localCheckpoint(eager=True)
    q = [(1, [float(x) for x in corpus.first()["embedding"]])]

    plain = str(tmp_path / "plain")
    build_ivf_index(corpus, plain, k=2, iters=0)
    with pytest.raises(ValueError, match="sq_codec"):
        ann_ivf_search_vectors(spark, plain, q, use_sq=True)

    both = str(tmp_path / "both")
    build_ivf_index(corpus, both, k=2, iters=0,
                    pq={"m": 8, "k": 8, "iters": 0}, sq=True)
    assert load_pq_books(spark, both) is not None
    assert load_sq_codec(spark, both) is not None
    row = spark.read.parquet(f"{both}/vectors").first()
    assert len(row["codes"]) == 8 and len(row["sq_codes"]) == 64
    with pytest.raises(ValueError, match="mutually exclusive"):
        ann_ivf_search_vectors(spark, both, q, use_pq=True, use_sq=True)
    # each representation serves alone
    assert ann_ivf_search_vectors(
        spark, both, q, k=2, nprobe=2, use_pq=True).count() == 2
    assert ann_ivf_search_vectors(
        spark, both, q, k=2, nprobe=2, use_sq=True).count() == 2

    extra = emb.filter(
        (F.col("vec_id") >= 40) & (F.col("vec_id") < 45)
    ).localCheckpoint(eager=True)
    with pytest.raises(ValueError, match="code-less"):
        ivf_index_add(spark, both, extra, sq=None)

    # rebuild WITHOUT sq clears the stale codec
    build_ivf_index(corpus, both, k=2, iters=0)
    assert load_sq_codec(spark, both) is None
    assert load_pq_books(spark, both) is None


def test_ivf_index_sq_member_queries(spark, emb, tmp_path):
    """Member-id search with use_sq: same SQ-scored candidate scan,
    self excluded; with refine covering the corpus it equals the
    unquantized member path exactly."""
    from wikiextractor_spark.operators.similarity import (
        ann_ivf_topk_indexed,
        build_ivf_index,
    )

    idx = str(tmp_path / "ivfsq_m")
    corpus = emb.limit(50).localCheckpoint(eager=True)
    build_ivf_index(corpus, idx, k=3, iters=1, sq=True)

    as_rows = lambda df: sorted(  # noqa: E731
        (r["q_id"], r["neighbor_id"], r["cos"], r["rank"])
        for r in df.collect()
    )
    got = ann_ivf_topk_indexed(
        spark, idx, [0, 1, 2], k=3, nprobe=3, use_sq=True, refine=50,
    )
    plain = ann_ivf_topk_indexed(spark, idx, [0, 1, 2], k=3, nprobe=3)
    rows = as_rows(got)
    assert rows == as_rows(plain)
    assert all(r[0] != r[1] for r in rows)  # self excluded


def test_index_artifact_loaders_validate_density(spark, emb, tmp_path):
    """ADVICE r10: the codec/book loaders read EXTERNAL artifacts — a
    duplicated or missing row (a stray append, a partial overwrite)
    must raise the module's ValueError contract, never KeyError or a
    silent last-duplicate-wins remap (codes index into the book by
    POSITION, so a gap re-maps every later code)."""
    import pytest

    from wikiextractor_spark.operators.similarity import (
        build_ivf_index,
        load_pq_books,
        load_sq_codec,
    )

    idx = str(tmp_path / "valid_idx")
    corpus = emb.limit(30).localCheckpoint(eager=True)
    build_ivf_index(
        corpus, idx, k=2, iters=0,
        pq={"m": 8, "k": 8, "iters": 0}, sq=True,
    )
    # pristine artifacts load fine
    assert len(load_sq_codec(spark, idx)) == 64
    assert len(load_pq_books(spark, idx)) == 8

    # a stray append duplicating one dim row corrupts the codec
    one = spark.read.parquet(f"{idx}/sq_codec").limit(1)
    one.write.mode("append").parquet(f"{idx}/sq_codec")
    with pytest.raises(ValueError, match="sq_codec"):
        load_sq_codec(spark, idx)

    # same for the PQ books: drop one (subspace, code) row
    books_rows = spark.read.parquet(f"{idx}/pq_books")
    pruned = books_rows.filter(
        ~((F.col("subspace") == 3) & (F.col("code") == 5))
    )
    idx2 = str(tmp_path / "valid_idx2")
    build_ivf_index(corpus, idx2, k=2, iters=0,
                    pq={"m": 8, "k": 8, "iters": 0})
    pruned.write.mode("overwrite").parquet(f"{idx2}/pq_books")
    with pytest.raises(ValueError, match="pq_books"):
        load_pq_books(spark, idx2)

    # a DUPLICATED (subspace, code) row: the grid still looks dense
    # after dict collapse, so density checks alone would pass and
    # serving would score against a file-order-dependent centroid —
    # the row-count check must catch it (r10 review finding)
    idx3 = str(tmp_path / "valid_idx3")
    build_ivf_index(corpus, idx3, k=2, iters=0,
                    pq={"m": 8, "k": 8, "iters": 0})
    one_book = spark.read.parquet(f"{idx3}/pq_books").filter(
        (F.col("subspace") == 3) & (F.col("code") == 5)
    )
    one_book.write.mode("append").parquet(f"{idx3}/pq_books")
    with pytest.raises(ValueError, match="duplicated"):
        load_pq_books(spark, idx3)

    # a present-but-EMPTY sq_codec (crashed partial rewrite) must
    # raise, not return [] — an empty codec would slip past every
    # `codec is None` guard and serve dim-0 all-tie scores silently
    # (r10 review finding)
    spark.read.parquet(f"{idx}/sq_codec").limit(0).write.mode(
        "overwrite"
    ).parquet(f"{idx2}/sq_codec")
    with pytest.raises(ValueError, match="zero rows"):
        load_sq_codec(spark, idx2)


def test_keyword_only_serving_flags(spark, emb, tmp_path):
    """ADVICE r10: use_pq/use_sq/refine are keyword-only on both
    persisted-serving entry points — a caller passing refine
    positionally would otherwise silently land it on use_pq."""
    import pytest

    from wikiextractor_spark.operators.similarity import (
        ann_ivf_search_vectors,
        ann_ivf_topk_indexed,
    )

    with pytest.raises(TypeError, match="positional"):
        ann_ivf_topk_indexed(
            spark, "/nonexistent", [0], 5, 4, "vec_id", "embedding", True,
        )
    with pytest.raises(TypeError, match="positional"):
        ann_ivf_search_vectors(
            spark, "/nonexistent", [(0, [1.0])], 5, 4, "vec_id",
            "embedding", True,
        )


def test_rerank_semi_join_above_query_threshold(spark, emb, tmp_path, monkeypatch):
    """VERDICT r9 'What's wrong' #1: above _RERANK_ISIN_MAX_IDS
    inlined shortlist ids (queries × k × refine) the exact-rerank
    fetch switches from a literal isin() to a broadcast semi-join
    against the materialized shortlist — result-identical, and the
    generated plan stays O(1) in the query count."""
    from wikiextractor_spark.operators import similarity
    from wikiextractor_spark.operators.similarity import (
        ann_ivf_search_vectors,
        build_ivf_index,
    )

    idx = str(tmp_path / "semijoin_idx")
    corpus = emb.limit(40).localCheckpoint(eager=True)
    build_ivf_index(
        corpus, idx, k=2, iters=0,
        pq={"m": 8, "k": 8, "iters": 0}, sq=True,
    )
    qrows = emb.limit(6).collect()
    queries = [
        (int(r["vec_id"]) + 5000, [float(x) for x in r["embedding"]])
        for r in qrows
    ]

    def rows(df):
        return sorted(
            (r["q_id"], r["neighbor_id"], r["cos"], r["rank"])
            for r in df.collect()
        )

    for kw in ({"use_pq": True}, {"use_sq": True}):
        via_isin = rows(ann_ivf_search_vectors(
            spark, idx, queries, k=3, nprobe=2, refine=2, **kw,
        ))
        monkeypatch.setattr(similarity, "_RERANK_ISIN_MAX_IDS", 0)
        semi_df = ann_ivf_search_vectors(
            spark, idx, queries, k=3, nprobe=2, refine=2, **kw,
        )
        # plan pin: the fetch is a semi-join, not an inlined IN-list
        plan = semi_df._jdf.queryExecution().executedPlan().toString()
        assert "LeftSemi" in plan
        assert rows(semi_df) == via_isin
        monkeypatch.setattr(similarity, "_RERANK_ISIN_MAX_IDS", 10240)


def test_rerank_plan_size_constant_in_query_count(spark, emb, tmp_path):
    """The 1000-query-scale pin: the serving plan above the threshold
    must not grow a literal per shortlist id (~40k literals at 1000
    queries × k=10 × refine=4 — the same generated-plan blow-up the
    r8 broadcast-LUT switch fixed for PQ scoring).  Compared at plan
    level only (no collect): the 300-query plan may not be
    meaningfully longer than the 270-query plan."""
    from wikiextractor_spark.operators.similarity import (
        _RERANK_ISIN_MAX_IDS,
        ann_ivf_search_vectors,
        build_ivf_index,
    )

    assert _RERANK_ISIN_MAX_IDS == 10240
    idx = str(tmp_path / "plansize_idx")
    corpus = emb.limit(40).localCheckpoint(eager=True)
    build_ivf_index(corpus, idx, k=2, iters=0, sq=True)
    base = [float(x) for x in emb.limit(1).collect()[0]["embedding"]]

    # k=10 × refine=4 is the documented serving shape: 270 queries
    # put the inlined-id count (270 × 40 = 10800) just past the
    # threshold, so BOTH runs must take the semi-join path — the
    # boundary is denominated in ids, not queries (a 200-query k=100
    # refine=10 call would inline 200k literals under a query gate)
    def plan_len(n):
        qs = [(i, [v + i * 1e-6 for v in base]) for i in range(n)]
        df = ann_ivf_search_vectors(
            spark, idx, qs, k=10, nprobe=2, refine=4, use_sq=True,
        )
        return len(df._jdf.queryExecution().optimizedPlan().toString())

    a, b = plan_len(270), plan_len(300)
    assert abs(b - a) < 2000, (a, b)


def test_compact_ivf_index_restores_build_layout(spark, emb, tmp_path):
    """r10: a long-running ingest stream appends one file per touched
    centroid partition per micro-batch; compact_ivf_index must fold
    the fragments back to the build's one-file-per-partition layout
    with bit-identical search results, stats, and artifacts."""
    import os

    from wikiextractor_spark.operators.similarity import (
        ann_ivf_topk_indexed,
        build_ivf_index,
        compact_ivf_index,
        ivf_index_add,
        ivf_index_stats,
    )

    idx = str(tmp_path / "compact_idx")
    vecs = emb.select("vec_id", "embedding").localCheckpoint(eager=True)
    build_ivf_index(
        vecs.filter(F.col("vec_id") < 30), idx, k=2, iters=0,
        pq={"m": 8, "k": 8, "iters": 0}, sq=True,
    )
    # four incremental adds fragment both vectors and assignments
    for lo in (30, 35, 40, 45):
        ivf_index_add(
            spark, idx,
            vecs.filter(
                (F.col("vec_id") >= lo) & (F.col("vec_id") < lo + 5)
            ),
        )

    def part_files(c):
        d = f"{idx}/vectors/centroid_id={c}"
        return [
            f for f in os.listdir(d)
            if not f.startswith(("_", ".")) and os.path.isfile(f"{d}/{f}")
        ]

    def rows(df):
        return sorted(
            (r["q_id"], r["neighbor_id"], r["cos"], r["rank"])
            for r in df.collect()
        )

    assert len(part_files(0)) > 1 or len(part_files(1)) > 1
    before = rows(ann_ivf_topk_indexed(
        spark, idx, query_ids=[0, 31, 47], k=5, nprobe=2,
    ))
    before_pq = rows(ann_ivf_topk_indexed(
        spark, idx, query_ids=[0, 31, 47], k=5, nprobe=2, use_pq=True,
    ))
    stats_before = {
        (r["centroid_id"], r["n_vectors"])
        for r in ivf_index_stats(spark, idx).collect()
    }

    n = compact_ivf_index(spark, idx, min_files=2)
    assert n >= 2  # at least one vectors partition + assignments

    # build layout restored: one data file per fragmented partition
    assert len(part_files(0)) == 1 and len(part_files(1)) == 1
    # results, stats, and the quantized serving path are unchanged
    assert rows(ann_ivf_topk_indexed(
        spark, idx, query_ids=[0, 31, 47], k=5, nprobe=2,
    )) == before
    assert rows(ann_ivf_topk_indexed(
        spark, idx, query_ids=[0, 31, 47], k=5, nprobe=2, use_pq=True,
    )) == before_pq
    assert {
        (r["centroid_id"], r["n_vectors"])
        for r in ivf_index_stats(spark, idx).collect()
    } == stats_before
    # idempotent: already-compact units fall under min_files
    assert compact_ivf_index(spark, idx, min_files=2) == 0


def test_compact_ivf_index_repair_and_contracts(spark, emb, tmp_path):
    """The crash-state repair: a partition retired but not promoted
    is restored; stray tmp dirs are cleared; a missing index raises
    the module's contract error rather than creating directories."""
    import os
    import shutil

    import pytest

    from wikiextractor_spark.operators.similarity import (
        ann_ivf_topk_indexed,
        build_ivf_index,
        compact_ivf_index,
    )

    with pytest.raises(ValueError, match="no index"):
        compact_ivf_index(spark, str(tmp_path / "nope"))

    idx = str(tmp_path / "repair_idx")
    vecs = emb.select("vec_id", "embedding").limit(40).localCheckpoint(
        eager=True
    )
    build_ivf_index(vecs, idx, k=2, iters=0)
    before = sorted(
        (r["q_id"], r["neighbor_id"], r["cos"])
        for r in ann_ivf_topk_indexed(
            spark, idx, query_ids=[0, 1], k=5, nprobe=2,
        ).collect()
    )

    # crash between retire and promote: live partition missing, data
    # only under .compact_retired — repair must rename it back
    os.makedirs(f"{idx}/.compact_retired/vectors", exist_ok=True)
    shutil.move(
        f"{idx}/vectors/centroid_id=0",
        f"{idx}/.compact_retired/vectors/centroid_id=0",
    )
    # plus a stray tmp from the same crash
    os.makedirs(f"{idx}/.compact_tmp/vectors/centroid_id=0", exist_ok=True)
    compact_ivf_index(spark, idx)
    assert os.path.isdir(f"{idx}/vectors/centroid_id=0")
    assert not os.path.exists(f"{idx}/.compact_retired")
    assert not os.path.exists(f"{idx}/.compact_tmp")
    assert sorted(
        (r["q_id"], r["neighbor_id"], r["cos"])
        for r in ann_ivf_topk_indexed(
            spark, idx, query_ids=[0, 1], k=5, nprobe=2,
        ).collect()
    ) == before
