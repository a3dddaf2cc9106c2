"""LLM-pipeline operators: property tests (recall/precision vs brute
force, signature invariants, multimodal plumbing) at sf0.001."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from gcpde_spark.catalog import load_table
from gcpde_spark.llm.dedup import (
    exact_dedup,
    minhash_near_dup_pairs,
    ngram_jaccard_pairs,
    simhash_near_dup_pairs,
    with_minhash_signature,
    with_simhash,
)
from gcpde_spark.llm.similarity import brute_force_topk, lsh_topk
from gcpde_spark.llm.text import with_fingerprint, with_text_stats
from tests.conftest import SF_SMALL


@pytest.fixture(scope="module")
def docs(spark):
    return load_table(spark, SF_SMALL, "documents").cache()


@pytest.fixture(scope="module")
def emb(spark):
    return load_table(spark, SF_SMALL, "embeddings").cache()


# -- exact dedup ---------------------------------------------------------------


def test_exact_dedup_keeps_min_id_survivor(docs):
    """Duplicating every doc under a shifted id must leave exactly the
    originals (plus nothing else) after dedup."""
    n = docs.count()
    shifted = docs.withColumn("doc_id", F.col("doc_id") + 100000)
    union = docs.unionByName(shifted)
    kept = exact_dedup(union, "doc_id")
    assert kept.count() == n
    assert kept.agg(F.max("doc_id")).collect()[0][0] < 100000


def test_exact_dedup_is_whitespace_case_insensitive(spark):
    df = spark.createDataFrame(
        [(1, "Hello  World"), (2, "hello world"), (3, "other text")],
        "doc_id int, text string",
    )
    kept = exact_dedup(df, "doc_id")
    assert sorted(r.doc_id for r in kept.collect()) == [1, 3]


# -- MinHash -------------------------------------------------------------------


def _perturbed_docs(docs, n_docs=40):
    """Originals + near-duplicates made by dropping every 10th token."""
    base = docs.where(F.col("doc_id") < n_docs).select("doc_id", "text")
    toks = F.split(F.trim(F.regexp_replace(F.lower("text"), r"\s+", " ")), " ")
    near = base.select(
        (F.col("doc_id") + 10000).alias("doc_id"),
        F.concat_ws(
            " ", F.filter(toks, lambda t, i: i % 10 != 9)
        ).alias("text"),
    )
    return base.unionByName(near)


def test_minhash_signature_shape_and_determinism(docs):
    sig = with_minhash_signature(docs.limit(5), num_hashes=32)
    rows = sig.select("minhash").collect()
    assert all(len(r.minhash) == 32 for r in rows)
    again = with_minhash_signature(docs.limit(5), num_hashes=32).select("minhash").collect()
    assert [r.minhash for r in rows] == [r.minhash for r in again]


def test_minhash_near_dup_recall_and_precision(docs):
    corpus = _perturbed_docs(docs)
    pairs = minhash_near_dup_pairs(
        corpus, "doc_id", num_hashes=128, bands=32, threshold=0.5
    )
    got = {(r.id_a, r.id_b) for r in pairs.collect()}
    # expected: each original within Jaccard ≥ 0.5 of its perturbed copy
    expected_pairs = (
        corpus.select(F.col("doc_id").alias("id_a"))
        .where(F.col("id_a") < 10000)
        .select("id_a", (F.col("id_a") + 10000).alias("id_b"))
    )
    truth = ngram_jaccard_pairs(corpus, expected_pairs, "doc_id")
    expected = {(r.id_a, r.id_b) for r in truth.collect() if r.jaccard >= 0.5}
    assert expected, "sanity: perturbation should produce high-jaccard pairs"
    recall = len(got & expected) / len(expected)
    assert recall >= 0.8, f"recall {recall} below 0.8 (128 hashes / 32 bands)"
    # precision is structural: every emitted pair passed exact verification
    verified = {(r.id_a, r.id_b) for r in pairs.where(F.col("jaccard") >= 0.5).collect()}
    assert got == verified


# -- SimHash -------------------------------------------------------------------


def test_simhash_invariants(spark):
    df = spark.createDataFrame(
        [
            (1, "spark shuffles data across the cluster"),
            (2, "spark shuffles data across the cluster"),  # identical
            (3, "completely different words about bananas and apples"),
        ],
        "doc_id int, text string",
    )
    rows = {r.doc_id: r.simhash for r in with_simhash(df).collect()}
    assert rows[1] == rows[2]
    assert bin(rows[1] ^ rows[3]).count("1") > 10  # far apart


def test_simhash_near_dup_finds_exact_dups(docs):
    corpus = docs.select("doc_id", "text").unionByName(
        docs.select((F.col("doc_id") + 10000).alias("doc_id"), "text")
    )
    pairs = simhash_near_dup_pairs(corpus, "doc_id", max_hamming=3)
    got = {(r.id_a, r.id_b) for r in pairs.collect()}
    n = docs.count()
    expected = {(i, i + 10000) for i in range(n)}
    assert expected <= got  # hamming 0 pairs are always captured
    assert all(r.hamming <= 3 for r in pairs.collect())


# -- similarity ----------------------------------------------------------------


def test_brute_force_topk_matches_numpy(emb):
    import numpy as np

    rows = emb.orderBy("vec_id").collect()
    mat = np.array([r.embedding for r in rows], dtype=np.float64)
    ids = np.array([r.vec_id for r in rows])
    mat = mat / np.linalg.norm(mat, axis=1, keepdims=True)
    q = emb.where(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qvec")
    )
    got = brute_force_topk(emb, q, k=5).collect()
    for qid in range(3):
        sims = mat @ mat[ids == qid].T
        order = np.lexsort((ids, -np.round(sims[:, 0], 4)))
        expected = [int(ids[i]) for i in order[:5]]
        actual = [r.vec_id for r in sorted(got, key=lambda r: r.rank) if r.qid == qid]
        assert actual == expected, f"qid={qid}"


def test_lsh_topk_recall_vs_brute_force(emb):
    q = emb.where(F.col("vec_id") < 20).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qvec")
    )
    # n_planes sized to the data: 2^4 buckets over ~500 vectors keeps
    # candidate lists big enough for useful recall at this tiny scale
    exact = brute_force_topk(emb, q, k=5).collect()
    approx = lsh_topk(emb, q, k=5, n_planes=4).collect()
    exact_sets = {}
    for r in exact:
        exact_sets.setdefault(r.qid, set()).add(r.vec_id)
    approx_sets = {}
    for r in approx:
        approx_sets.setdefault(r.qid, set()).add(r.vec_id)
    recalls = [
        len(exact_sets[qid] & approx_sets.get(qid, set())) / len(exact_sets[qid])
        for qid in exact_sets
    ]
    mean_recall = sum(recalls) / len(recalls)
    assert mean_recall >= 0.5, f"mean recall@5 {mean_recall} too low"


def test_ivf_topk_recall_vs_brute_force(emb):
    from gcpde_spark.llm.similarity import ivf_topk

    q = emb.where(F.col("vec_id") < 20).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qvec")
    )
    exact = brute_force_topk(emb, q, k=5).collect()
    approx = ivf_topk(emb, q, k=5, n_centroids=16, nprobe=4).collect()
    exact_sets, approx_sets = {}, {}
    for r in exact:
        exact_sets.setdefault(r.qid, set()).add(r.vec_id)
    for r in approx:
        approx_sets.setdefault(r.qid, set()).add(r.vec_id)
    recalls = [
        len(exact_sets[qid] & approx_sets.get(qid, set())) / len(exact_sets[qid])
        for qid in exact_sets
    ]
    mean_recall = sum(recalls) / len(recalls)
    # nprobe/n_centroids = 1/4 of the table scanned per query; spherical
    # k-means cells capture near-neighbors far better than random slices
    assert mean_recall >= 0.6, f"mean recall@5 {mean_recall} too low"


def test_ivf_topk_is_deterministic(emb):
    from gcpde_spark.llm.similarity import ivf_topk

    q = emb.where(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qvec")
    )
    a = [tuple(r) for r in ivf_topk(emb, q, k=5).orderBy("qid", "rank").collect()]
    b = [tuple(r) for r in ivf_topk(emb, q, k=5).orderBy("qid", "rank").collect()]
    assert a == b


def test_embedding_near_dup_finds_planted_duplicate(emb):
    from gcpde_spark.llm.similarity import embedding_near_dup_pairs

    planted = emb.where(F.col("vec_id") < 5).select(
        (F.col("vec_id") + 50000).alias("vec_id"), "embedding", "label"
    )
    corpus = emb.unionByName(planted)
    pairs = embedding_near_dup_pairs(corpus, threshold=0.99, n_planes=6)
    got = {(r.id_a, r.id_b) for r in pairs.collect()}
    assert {(i, i + 50000) for i in range(5)} <= got


def test_embedding_near_dup_bucket_cap_guards_degenerate_bucket(spark):
    """10k identical vectors all land in ONE bucket; without a cap that is
    ~5e7 candidate pairs. The cap drops the degenerate bucket whole while a
    planted normal near-dup pair outside it is still found."""
    import random

    from gcpde_spark.llm.similarity import embedding_near_dup_pairs

    rnd = random.Random(7)
    const = [(i, [1.0] * 8) for i in range(10_000)]
    v = [rnd.gauss(0, 1) for _ in range(8)]
    near = [(20_000, v), (20_001, [x * 1.0000001 for x in v])]
    df = spark.createDataFrame(
        const + near, "vec_id long, embedding array<double>"
    )
    pairs = embedding_near_dup_pairs(
        df, threshold=0.99, dim=8, n_planes=4, max_bucket_size=100
    )
    got = {(r.id_a, r.id_b) for r in pairs.collect()}
    assert (20_000, 20_001) in got
    assert all(a >= 20_000 for a, _ in got)  # degenerate cohort emitted nothing


# -- text ----------------------------------------------------------------------


def test_text_stats_sane_ranges(docs):
    stats = with_text_stats(docs.limit(50)).collect()
    for r in stats:
        assert r.n_tokens > 0
        assert 0 <= r.punct_ratio <= 1
        assert 0 <= r.stopword_ratio <= 1
        assert 0 <= r.quality_score <= 1


def test_bucket_cap_drops_degenerate_cohort_keeps_normal_pairs(spark):
    """max_bucket_size guards the quadratic blowup: a boilerplate cohort
    whose members all share every band bucket is dropped whole, while an
    ordinary near-dup pair outside the cohort is still found."""
    from gcpde_spark.llm.dedup import minhash_near_dup_pairs

    boiler = [(i, "lorem ipsum dolor sit amet " * 5) for i in range(30)]
    near = [
        (100, "the quick brown fox jumps over the lazy dog again and again today"),
        (101, "the quick brown fox jumps over the lazy dog again and again now"),
    ]
    df = spark.createDataFrame(boiler + near, "doc_id long, text string")
    capped = minhash_near_dup_pairs(
        df, "doc_id", num_hashes=64, bands=16, threshold=0.5, max_bucket_size=10
    )
    got = {(r.id_a, r.id_b) for r in capped.collect()}
    assert (100, 101) in got            # normal pair survives
    assert all(a >= 100 for a, _ in got)  # degenerate cohort emitted nothing
    # without the cap the cohort floods the pair list
    uncapped = minhash_near_dup_pairs(
        df, "doc_id", num_hashes=64, bands=16, threshold=0.5
    )
    assert uncapped.count() == len(got) + 30 * 29 // 2


def test_bucket_pairs_streams_without_quadratic_array(spark):
    """Round 10 (sf10 full-corpus OOM): the bucket pair expansion must be
    two chained Generate (explode) operators, never one in-row
    flatten(transform(...)) that allocates the whole m(m-1)/2 pair array
    as a single value — a 100k-member bucket is a 5e9-struct allocation
    in one row under the old shape. Pin the plan shape AND prove the
    output is the exact ordered-pair set on a bucket big enough that the
    one-allocation form would be ~1.1M structs in one array."""
    from pyspark.sql import functions as F

    from gcpde_spark.llm.dedup import _bucket_pairs

    m = 1500
    skinny = spark.range(m).select(
        F.lit(0).alias("bucket"), F.col("id").alias("_id")
    )
    pairs = _bucket_pairs(skinny, ["bucket"])
    plan = pairs._jdf.queryExecution().optimizedPlan().toString()
    assert plan.count("Generate") == 2, plan
    assert "flatten(transform" not in plan, plan
    assert pairs.count() == m * (m - 1) // 2
    sample = {(r.id_a, r.id_b) for r in pairs.where(F.col("id_a") >= m - 3).collect()}
    assert sample == {(m - 3, m - 2), (m - 3, m - 1), (m - 2, m - 1)}


def test_stopword_hits_matches_token_semantics(spark):
    """The regexp_count-based stopword counter must equal the reference
    semantics — count of whitespace tokens (of the NORMALIZED text) equal
    to a list word, repeats included — on adversarial inputs: substring
    words (a/and), punctuation-glued tokens ('the,'), repeated and
    adjacent hits, empty and whitespace-only text, multi-byte tokens."""
    from gcpde_spark.llm.text import STOPWORDS, normalize_text, stopword_hits

    cases = [
        "the a of and to in is it for on",         # every word once
        "a a a",                                    # adjacent repeats
        "and android banda a",                      # substring traps
        "the, the. (the) the",                      # punctuation glue: only bare 'the'
        "THE  A\t\tOF",                             # case + whitespace collapse
        "", "   ", "xyzzy plugh",                   # empty / no hits
        "的 了 hello 的",                            # multi-byte tokens
        "on on on the on",
    ]
    df = spark.createDataFrame([(i, t) for i, t in enumerate(cases)], "i int, t string")
    for lang in ("en", "zh"):
        words = STOPWORDS[lang]
        got = {
            r.i: r.h
            for r in df.select(
                "i", stopword_hits(normalize_text("t"), words).alias("h")
            ).collect()
        }
        for i, t in enumerate(cases):
            norm = " ".join(t.lower().split())
            expected = sum(1 for tok in norm.split(" ") if tok in words)
            assert got[i] == expected, (lang, t, got[i], expected)


def test_redact_pii_replaces_typed_spans(spark):
    from gcpde_spark.llm.text import with_redacted_pii

    rows = [
        (1, "mail me at a.user+x@example.co.uk or visit https://ex.com/p?q=1#f"),
        (2, "server 10.0.255.7 answered; call +1 (555) 123-4567 today"),
        (3, "no pii here, just 42 and v1.2.3"),
        (4, None),
    ]
    df = spark.createDataFrame(rows, "doc_id int, text string")
    got = {r.doc_id: r.text for r in with_redacted_pii(df).collect()}
    assert got[1] == "mail me at <EMAIL> or visit <URL>"
    assert got[2] == "server <IP> answered; call <PHONE> today"
    assert got[3] == rows[2][1]  # untouched, version numbers survive
    assert got[4] is None  # NULL passes through
    # out_col keeps the original; kinds filters classes
    both = with_redacted_pii(df, out_col="clean", kinds=("EMAIL",)).collect()
    r1 = next(r for r in both if r.doc_id == 1)
    assert "a.user+x@example.co.uk" in r1.text and "<EMAIL>" in r1.clean
    assert "https://ex.com" in r1.clean  # URL kind not requested
    import pytest as _pt

    with _pt.raises(ValueError):
        with_redacted_pii(df, kinds=("SSN",))


def test_fingerprint_order_invariance(spark):
    df = spark.createDataFrame(
        [(1, "alpha beta gamma"), (2, "gamma beta alpha alpha")],
        "doc_id int, text string",
    )
    rows = {r.doc_id: r for r in with_fingerprint(df).collect()}
    assert rows[1].fp_exact != rows[2].fp_exact
    assert rows[1].fp_bow == rows[2].fp_bow  # bag-of-words invariant


# -- multimodal ----------------------------------------------------------------


@pytest.fixture()
def media_dir(tmp_path):
    (tmp_path / "a.jpg").write_bytes(b"\xff\xd8fakejpegbytes" * 10)
    (tmp_path / "b.png").write_bytes(b"\x89PNGfake" * 5)
    (tmp_path / "clip.mp4").write_bytes(b"\x00\x00mp4data" * 100)
    (tmp_path / "note.txt").write_bytes(b"not media")
    return str(tmp_path)


def test_binary_file_source_and_media_type(spark, media_dir):
    from gcpde_spark.llm.multimodal import read_binary_files

    df = read_binary_files(spark, media_dir)
    got = {r.path.rsplit("/", 1)[-1]: r.media_type for r in df.collect()}
    assert got == {
        "a.jpg": "image",
        "b.png": "image",
        "clip.mp4": "video",
        "note.txt": "other",
    }
    assert dict(df.dtypes)["content"] == "binary"


def test_decode_media_stub_schema_and_determinism(spark, media_dir):
    from gcpde_spark.llm.multimodal import decode_media, read_binary_files

    df = read_binary_files(spark, media_dir)
    decoded = decode_media(df)
    rows = {r.path.rsplit("/", 1)[-1]: r for r in decoded.collect()}
    assert rows["a.jpg"].width is not None and rows["a.jpg"].duration_ms is None
    assert rows["clip.mp4"].duration_ms is not None and rows["clip.mp4"].width is None
    again = {r.path.rsplit("/", 1)[-1]: r for r in decode_media(df).collect()}
    assert rows["a.jpg"].width == again["a.jpg"].width  # deterministic stub
    with pytest.raises(ValueError):
        decode_media(df, decode="nope")


def _make_png(width: int, height: int, channels: int = 3) -> bytes:
    """Minimal valid PNG (8-bit, filter 0, zlib-deflated) from the spec —
    no imaging library involved."""
    import struct
    import zlib

    color_type = {1: 0, 2: 4, 3: 2, 4: 6}[channels]

    def chunk(tag: bytes, body: bytes) -> bytes:
        return (
            struct.pack(">I", len(body))
            + tag
            + body
            + struct.pack(">I", zlib.crc32(tag + body))
        )

    ihdr = struct.pack(">IIBBBBB", width, height, 8, color_type, 0, 0, 0)
    raw = b"".join(b"\x00" + bytes(width * channels) for _ in range(height))
    return (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(raw))
        + chunk(b"IEND", b"")
    )


def _make_wav(n_channels: int, rate: int, n_frames: int) -> bytes:
    import io
    import wave

    buf = io.BytesIO()
    with wave.open(buf, "wb") as w:
        w.setnchannels(n_channels)
        w.setsampwidth(2)
        w.setframerate(rate)
        w.writeframes(b"\x00\x00" * n_channels * n_frames)
    return buf.getvalue()


def test_decode_media_real_headers(spark, tmp_path):
    """decode='real' reads true container metadata (generated PNG/WAV,
    stdlib-only encoders) and shares the fake path's schema contract."""
    from gcpde_spark.llm.multimodal import decode_media, read_binary_files

    (tmp_path / "img.png").write_bytes(_make_png(37, 21, channels=3))
    (tmp_path / "gray.png").write_bytes(_make_png(5, 9, channels=1))
    (tmp_path / "tone.wav").write_bytes(_make_wav(2, 8000, 4000))  # 500 ms
    (tmp_path / "junk.png").write_bytes(b"\x89PNGnot-actually-png")
    df = read_binary_files(spark, str(tmp_path))
    real = decode_media(df, decode="real")
    fake = decode_media(df, decode="fake")
    assert real.schema == fake.schema  # contract: identical shape
    rows = {r.path.rsplit("/", 1)[-1]: r for r in real.collect()}
    assert (rows["img.png"].width, rows["img.png"].height) == (37, 21)
    assert rows["img.png"].n_channels == 3
    assert (rows["gray.png"].width, rows["gray.png"].height) == (5, 9)
    assert rows["gray.png"].n_channels == 1
    assert rows["tone.wav"].n_channels == 2
    assert rows["tone.wav"].duration_ms == 500
    # junk degrades to null metadata instead of failing the batch
    assert rows["junk.png"].width is None and rows["junk.png"].n_channels is None


def test_extract_features_shape(spark, media_dir):
    from gcpde_spark.llm.multimodal import extract_features, read_binary_files

    df = read_binary_files(spark, media_dir, glob="*.jpg")
    feats = extract_features(df, dim=32).collect()
    assert len(feats) == 1 and len(feats[0].features) == 32


def test_resize_images_metadata_and_passthrough(spark, media_dir):
    from gcpde_spark.llm.multimodal import read_binary_files, resize_images

    df = read_binary_files(spark, media_dir)
    resized = {
        r.path.rsplit("/", 1)[-1]: r for r in resize_images(df, 224, 224).collect()
    }
    assert resized["a.jpg"].resized_width == 224
    assert resized["a.jpg"].resized_height == 224
    assert resized["note.txt"].resized_width is None  # non-image passthrough
    assert resized["note.txt"].resize_applied is None
    # no stdlib codec for JPEG: bytes pass through, explicitly flagged
    assert resized["a.jpg"].resize_applied is False
    orig = {r.path.rsplit("/", 1)[-1]: bytes(r.content) for r in df.collect()}
    assert bytes(resized["a.jpg"].content) == orig["a.jpg"]


def _make_bmp(pixels: list[list[tuple[int, int, int]]]) -> bytes:
    """Minimal uncompressed 24-bpp BMP from the spec (rows bottom-up,
    4-byte padded) — no imaging library involved."""
    import struct

    h, w = len(pixels), len(pixels[0])
    stride = (w * 3 + 3) // 4 * 4
    body = b""
    for row in reversed(pixels):  # bottom-up
        line = b"".join(bytes((bl, g, r)) for (r, g, bl) in row)
        body += line + bytes(stride - len(line))
    info = struct.pack("<IiiHHIIiiII", 40, w, h, 1, 24, 0, len(body), 2835, 2835, 0, 0)
    return struct.pack("<2sIHHI", b"BM", 54 + len(body), 0, 0, 54) + info + body


def _read_bmp_pixels(b: bytes) -> list[list[tuple[int, int, int]]]:
    off = int.from_bytes(b[10:14], "little")
    w = int.from_bytes(b[18:22], "little", signed=True)
    h = int.from_bytes(b[22:26], "little", signed=True)
    stride = (w * 3 + 3) // 4 * 4
    rows = []
    for y in range(h):
        line = b[off + y * stride : off + y * stride + w * 3]
        rows.append([(line[x * 3 + 2], line[x * 3 + 1], line[x * 3]) for x in range(w)])
    return list(reversed(rows))  # back to top-down


def test_resize_images_real_bmp_pixels(spark, tmp_path):
    """BMP rows are REALLY resampled: a 2x2 color-block image upscaled to
    4x4 must show each source pixel as a 2x2 block (nearest neighbor),
    and the output must be a well-formed BMP at the target geometry."""
    from gcpde_spark.llm.multimodal import read_binary_files, resize_images

    red, green, blue, white = (255, 0, 0), (0, 255, 0), (0, 0, 255), (255, 255, 255)
    (tmp_path / "tiny.bmp").write_bytes(_make_bmp([[red, green], [blue, white]]))
    df = read_binary_files(spark, str(tmp_path))
    row = resize_images(df, 4, 4).collect()[0]
    assert row.resize_applied is True
    assert (row.resized_width, row.resized_height) == (4, 4)
    px = _read_bmp_pixels(bytes(row.content))
    assert len(px) == 4 and len(px[0]) == 4
    expect = [
        [red, red, green, green],
        [red, red, green, green],
        [blue, blue, white, white],
        [blue, blue, white, white],
    ]
    assert px == expect
    # downscale back: picks one representative pixel per block
    row2 = resize_images(df, 1, 1).collect()[0]
    assert row2.resize_applied is True
    assert _read_bmp_pixels(bytes(row2.content)) == [[red]]


def test_sample_frames_only_videos(spark, media_dir):
    from gcpde_spark.llm.multimodal import read_binary_files, sample_frames

    df = read_binary_files(spark, media_dir)
    frames = sample_frames(df, n_frames=4).collect()
    assert len(frames) == 4
    assert all(r.media_type == "video" for r in frames)
    assert [r.frame_idx for r in sorted(frames, key=lambda r: r.frame_idx)] == [0, 1, 2, 3]


def test_png_codec_roundtrip_all_filters():
    """The PNG decoder really unfilters: an image encoded with each of
    the five scanline filter types (incl. Paeth) decodes back to the
    identical pixel array, for gray/RGB/RGBA layouts."""
    import numpy as np

    from gcpde_spark.llm.multimodal import _png_decode, _png_encode

    rng = np.random.default_rng(7)
    for channels in (1, 3, 4):
        px = rng.integers(0, 256, size=(11, 7, channels), dtype=np.uint8)
        for ftype in range(5):
            out = _png_decode(_png_encode(px, filter_type=ftype))
            assert out is not None, (channels, ftype)
            assert np.array_equal(out, px), (channels, ftype)


def test_png_decode_palette():
    """Color-type-3 (indexed) PNGs expand through the PLTE table."""
    import struct
    import zlib

    import numpy as np

    from gcpde_spark.llm.multimodal import _png_decode

    palette = [(255, 0, 0), (0, 255, 0), (0, 0, 255)]
    idx = [[0, 1], [2, 0]]

    def chunk(ctype, data):
        return (
            struct.pack(">I", len(data))
            + ctype
            + data
            + struct.pack(">I", zlib.crc32(ctype + data))
        )

    ihdr = struct.pack(">IIBBBBB", 2, 2, 8, 3, 0, 0, 0)
    plte = b"".join(bytes(c) for c in palette)
    raw = b"".join(b"\x00" + bytes(row) for row in idx)
    png = (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", ihdr)
        + chunk(b"PLTE", plte)
        + chunk(b"IDAT", zlib.compress(raw))
        + chunk(b"IEND", b"")
    )
    out = _png_decode(png)
    expect = np.array([[palette[i] for i in row] for row in idx], dtype=np.uint8)
    assert np.array_equal(out, expect)


def test_resize_images_real_png_pixels(spark, tmp_path):
    """PNG rows are REALLY resampled, same contract as the BMP path."""
    import numpy as np

    from gcpde_spark.llm.multimodal import (
        _png_decode,
        _png_encode,
        read_binary_files,
        resize_images,
    )

    px = np.array(
        [[[255, 0, 0], [0, 255, 0]], [[0, 0, 255], [255, 255, 255]]], dtype=np.uint8
    )
    (tmp_path / "tiny.png").write_bytes(_png_encode(px))
    df = read_binary_files(spark, str(tmp_path))
    row = resize_images(df, 4, 4).collect()[0]
    assert row.resize_applied is True
    out = _png_decode(bytes(row.content))
    assert out.shape == (4, 4, 3)
    for y in range(4):
        for x in range(4):
            assert tuple(out[y][x]) == tuple(px[y // 2][x // 2])


def _make_gif(delays_cs: list[int], w: int = 3, h: int = 2) -> bytes:
    """Minimal animated GIF89a: global 2-color table, one GCE + image
    descriptor per frame (LZW data is a dummy sub-block — the engine
    parses structure, not pixels)."""
    out = b"GIF89a" + w.to_bytes(2, "little") + h.to_bytes(2, "little")
    out += bytes([0x80, 0, 0])  # packed: GCT present, 2 entries
    out += b"\x00\x00\x00\xff\xff\xff"  # global color table
    for d in delays_cs:
        out += bytes([0x21, 0xF9, 0x04, 0x00]) + d.to_bytes(2, "little")
        out += bytes([0x00, 0x00])  # transparent idx + terminator
        out += b"\x2c" + b"\x00" * 4 + w.to_bytes(2, "little")
        out += h.to_bytes(2, "little") + b"\x00"  # no local color table
        out += bytes([0x02, 0x01, 0x00, 0x00])  # LZW min + 1-byte block + end
    return out + b"\x3b"


def test_gif_frame_inventory_and_duration(spark, tmp_path):
    """Animated GIFs get a REAL frame inventory: true frame count,
    per-frame cumulative offsets from the parsed GCE delays, and a
    summed duration in decode_media(real)."""
    from gcpde_spark.llm.multimodal import (
        decode_media,
        read_binary_files,
        sample_frames,
    )

    (tmp_path / "anim.gif").write_bytes(_make_gif([5, 10, 20]))  # 50/100/200 ms
    df = read_binary_files(spark, str(tmp_path))
    meta = decode_media(df, decode="real").collect()[0]
    assert meta.duration_ms == 350
    assert (meta.width, meta.height) == (3, 2)
    frames = sorted(sample_frames(df, n_frames=3).collect(), key=lambda r: r.frame_idx)
    assert [(r.frame_idx, r.frame_offset_ms) for r in frames] == [
        (0, 0),
        (1, 50),
        (2, 150),
    ]
    # n_frames above the real frame count: one row per actual frame only
    assert len(sample_frames(df, n_frames=10).collect()) == 3


def test_extract_features_real(spark, tmp_path):
    """features='real' computes true content statistics for PNG/WAV and
    flags stub fallbacks: a solid-gray PNG has mean≈128/255 and a
    one-bin histogram; a sine WAV has RMS≈0.707·amplitude; a JPEG falls
    back to the hash stub with features_real=false."""
    import math
    import struct
    import wave

    import numpy as np

    from gcpde_spark.llm.multimodal import (
        _png_encode,
        extract_features,
        read_binary_files,
    )

    px = np.full((8, 8, 3), 128, dtype=np.uint8)
    (tmp_path / "gray.png").write_bytes(_png_encode(px))
    buf = __import__("io").BytesIO()
    amp, rate = 0.5, 8000
    with wave.open(buf, "wb") as wv:
        wv.setnchannels(1)
        wv.setsampwidth(2)
        wv.setframerate(rate)
        samples = [
            int(amp * 32767 * math.sin(2 * math.pi * 440 * t / rate))
            for t in range(rate)
        ]
        wv.writeframes(struct.pack(f"<{len(samples)}h", *samples))
    (tmp_path / "tone.wav").write_bytes(buf.getvalue())
    (tmp_path / "pic.jpg").write_bytes(b"\xff\xd8fakejpeg" * 4)

    df = read_binary_files(spark, str(tmp_path))
    rows = {
        r.path.rsplit("/", 1)[-1]: r
        for r in extract_features(df, dim=32, features="real").collect()
    }
    g = rows["gray.png"]
    assert g.features_real is True
    assert abs(g.features[0] - 128 / 255) < 1e-3  # channel-0 mean
    assert abs(g.features[3]) < 1e-6  # 4th channel absent -> 0
    hist = g.features[8:24]
    assert abs(hist[8] - 1.0) < 1e-6 and sum(hist) == pytest.approx(1.0)
    t = rows["tone.wav"]
    assert t.features_real is True
    assert abs(t.features[0] - amp / math.sqrt(2)) < 0.01  # RMS
    assert abs(t.features[1] - amp) < 0.01  # peak
    j = rows["pic.jpg"]
    assert j.features_real is False
    assert len(j.features) == 32


def test_repetition_stats_exact_fractions(spark):
    """Exact repetition fractions on crafted documents: a pure-spam doc
    maxes every signal, a no-repeat doc zeroes them, short/empty docs
    degrade to 0.0 instead of null/degenerate sequences."""
    from gcpde_spark.llm.text import repetition_stats

    df = spark.createDataFrame(
        [
            (1, "spam spam spam spam"),  # 1 distinct word, 3 identical bigrams
            (2, "one two three four"),  # all distinct
            (3, "a b a b c"),  # bigrams: ab, ba, ab, bc -> top=2/4, dup=2/4
            (4, "solo"),  # shorter than the ngram
            (5, ""),
        ],
        "doc_id int, text string",
    )
    rows = {r.doc_id: r for r in repetition_stats(df).collect()}
    assert rows[1].dup_word_fraction == pytest.approx(0.75)
    assert rows[1].top_ngram_fraction == pytest.approx(1.0)
    assert rows[1].dup_ngram_fraction == pytest.approx(1.0)
    assert rows[2].dup_word_fraction == pytest.approx(0.0)
    assert rows[2].top_ngram_fraction == pytest.approx(1 / 3)  # 3 distinct bigrams
    assert rows[2].dup_ngram_fraction == pytest.approx(0.0)
    assert rows[3].top_ngram_fraction == pytest.approx(0.5)
    assert rows[3].dup_ngram_fraction == pytest.approx(0.5)
    for short_id in (4, 5):
        assert rows[short_id].top_ngram_fraction == 0.0
        assert rows[short_id].dup_ngram_fraction == 0.0
        assert rows[short_id].dup_word_fraction == 0.0


def test_repetition_stats_no_python_udf(spark, docs):
    """The repetition plan stays JVM-side: no BatchEvalPython, and the
    only shuffles are the two keyed aggregations + the rejoin."""
    from gcpde_spark.llm.text import repetition_stats

    plan = repetition_stats(docs)._jdf.queryExecution().executedPlan().toString()
    assert "BatchEvalPython" not in plan
    assert "PythonUDF" not in plan


def test_winnowing_fingerprints_properties(docs, spark):
    """Winnowing guarantees: position-shift robustness (a shared long
    substring yields shared fingerprints) and no fingerprints for
    too-short documents."""
    from gcpde_spark.llm.text import winnowing_fingerprints

    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    rows = [
        (1, base),
        (2, "PREFIX WORDS HERE " + base),  # same content, shifted
        (3, "tiny doc"),  # < k + w - 1 tokens -> no fingerprints
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    fps = winnowing_fingerprints(df, "doc_id", k=3, w=4)
    by_doc = {}
    for r in fps.collect():
        by_doc.setdefault(r.doc_id, set()).add(r.fingerprint)
    assert 3 not in by_doc
    # the shared substring dominates both docs: most fingerprints overlap
    inter = by_doc[1] & by_doc[2]
    assert len(inter) >= len(by_doc[1]) * 0.5


def test_llm_operators_handle_empty_input(spark):
    """Every dedup/similarity/text operator must return an empty result
    (not crash) on an empty table — the degenerate partition case every
    100 TB job hits on some task."""
    from gcpde_spark.llm.similarity import embedding_near_dup_pairs, ivf_topk
    from gcpde_spark.llm.text import winnowing_fingerprints, with_token_counts

    no_docs = spark.createDataFrame([], "doc_id long, text string")
    assert exact_dedup(no_docs, "doc_id").count() == 0
    assert minhash_near_dup_pairs(no_docs, "doc_id").count() == 0
    assert simhash_near_dup_pairs(no_docs, "doc_id").count() == 0
    assert with_text_stats(no_docs).count() == 0
    assert with_token_counts(no_docs).count() == 0
    assert winnowing_fingerprints(no_docs, "doc_id").count() == 0

    no_vecs = spark.createDataFrame([], "vec_id long, embedding array<float>")
    q = spark.createDataFrame([], "qid long, qvec array<float>")
    assert brute_force_topk(no_vecs, q).count() == 0
    assert lsh_topk(no_vecs, q).count() == 0
    assert embedding_near_dup_pairs(no_vecs).count() == 0
    # IVF needs explicit centroids when there is nothing to train on
    assert ivf_topk(no_vecs, q, centroids=[[0.0] * 64] * 4).count() == 0


def test_curation_pipeline_gates(spark):
    from gcpde_spark.llm.pipeline import curate_documents

    long_en = "the quick brown fox jumps over the lazy dog and " * 5
    rows = [
        (1, long_en),             # kept
        (2, long_en),             # exact dup of 1 -> dropped
        (3, "short text"),        # < min_tokens -> dropped
        (4, "el la de y que en un una por con " * 6),  # spanish -> dropped
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = curate_documents(df, min_tokens=20, min_quality=0.1)
    kept = [r.doc_id for r in out.collect()]
    assert kept == [1]
    row = out.collect()[0]
    assert row.lang_pred == "en" and row.n_tokens >= 20
    assert row.n_tokens_bpe >= row.n_tokens  # BPE pieces >= whitespace tokens


def test_tfidf_rare_term_outranks_common_term(spark):
    from gcpde_spark.llm.text import tfidf_top_terms

    rows = [
        (1, "common rare"),
        (2, "common other"),
        (3, "common filler"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    top = {
        r.doc_id: r.term
        for r in tfidf_top_terms(df, "doc_id", k=1).collect()
    }
    # 'common' appears in every doc (idf = 1, score 0.5); each doc-unique
    # term has idf = 3 (score 1.5) and must outrank it
    assert top[1] == "rare" and top[2] == "other" and top[3] == "filler"


def test_quantize_dequantize_roundtrip_preserves_cosine(emb):
    import numpy as np

    from gcpde_spark.llm.similarity import (
        dequantize_embeddings,
        quantize_embeddings,
    )

    sample = emb.where(F.col("vec_id") < 50)
    rt = dequantize_embeddings(
        quantize_embeddings(sample), out_col="rt_embedding"
    )
    rows = rt.select("vec_id", "embedding", "rt_embedding", "q_embedding").collect()
    assert len(rows) == 50
    for r in rows:
        a = np.asarray(r.embedding, dtype=np.float64)
        b = np.asarray(r.rt_embedding, dtype=np.float64)
        assert all(-127 <= q <= 127 for q in r.q_embedding)
        cos = a @ b / (np.linalg.norm(a) * np.linalg.norm(b))
        assert cos > 0.999, f"vec {r.vec_id}: cosine {cos}"


def test_search_over_quantized_embeddings(emb):
    """The storage->search path: quantize to int8, dequantize in the
    query, and top-k results stay essentially the exact results."""
    from gcpde_spark.llm.similarity import (
        dequantize_embeddings,
        quantize_embeddings,
    )

    stored = quantize_embeddings(emb).drop("embedding")  # what 100 TB keeps
    restored = dequantize_embeddings(stored)
    q = emb.where(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qvec")
    )
    exact = brute_force_topk(emb, q, k=5).collect()
    quant = brute_force_topk(restored, q, k=5).collect()
    exact_sets, quant_sets = {}, {}
    for r in exact:
        exact_sets.setdefault(r.qid, set()).add(r.vec_id)
    for r in quant:
        quant_sets.setdefault(r.qid, set()).add(r.vec_id)
    recalls = [
        len(exact_sets[qid] & quant_sets.get(qid, set())) / len(exact_sets[qid])
        for qid in exact_sets
    ]
    assert sum(recalls) / len(recalls) >= 0.9


def test_connected_components_chains_and_cliques(spark):
    from gcpde_spark.llm.dedup import connected_components

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4),      # chain -> component 1
         (10, 11), (11, 10),          # clique (both directions)
         (20, 21)],
        "id_a long, id_b long",
    )
    got = {r.id: r.component for r in connected_components(pairs).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10, 20: 20, 21: 20}


def test_connected_components_labels_a_long_chain_exactly(spark):
    """A 40-node path is one component labelled by its smallest id —
    however many hops the label has to travel (iterative min-label
    propagation capped at 15 rounds left node 40 labelled 25)."""
    from gcpde_spark.llm.dedup import connected_components

    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(1, 40)], "id_a long, id_b long"
    )
    got = {r.id: r.component for r in connected_components(pairs).collect()}
    assert got == {i: 1 for i in range(1, 41)}


def test_connected_components_empty_edges_keep_the_schema(spark):
    from gcpde_spark.llm.dedup import connected_components

    pairs = spark.createDataFrame([], "id_a string, id_b string")
    out = connected_components(pairs)
    assert out.schema.simpleString() == "struct<id:string,component:string>"
    assert out.collect() == []


def _bfs_components(edges):
    """Pure-Python reference: each vertex's smallest reachable id."""
    adj = {}
    for a, b in edges:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    comp = {}
    for start in adj:
        if start in comp:
            continue
        seen, todo = {start}, [start]
        while todo:
            for nxt in adj[todo.pop()] - seen:
                seen.add(nxt)
                todo.append(nxt)
        comp.update(dict.fromkeys(seen, min(seen)))
    return comp


def test_connected_components_match_bfs_on_random_graphs(spark):
    """Hypothesis differential against BFS: random graphs with edges in
    both directions, duplicate edges, self-loops, and integer or
    (non-ASCII) string ids, whose order must be the reference's."""
    from hypothesis import given, settings, strategies as st

    from gcpde_spark.llm.dedup import connected_components

    ints = st.integers(-5, 30)
    strs = st.text(alphabet="abZé€😀", min_size=1, max_size=3)

    @settings(max_examples=25, deadline=None)
    @given(
        st.one_of(
            st.lists(st.tuples(ints, ints), max_size=40).map(
                lambda e: ("bigint", e)
            ),
            st.lists(st.tuples(strs, strs), max_size=40).map(
                lambda e: ("string", e)
            ),
        )
    )
    def run(case):
        typ, edges = case
        pairs = spark.createDataFrame(edges, f"id_a {typ}, id_b {typ}")
        out = connected_components(pairs)
        assert out.schema.simpleString() == f"struct<id:{typ},component:{typ}>"
        rows = out.collect()
        got = {r.id: r.component for r in rows}
        assert len(got) == len(rows)
        assert got == _bfs_components(edges)

    run()


def test_dedup_clusters_keeps_one_per_duplicate_group(docs):
    from gcpde_spark.llm.dedup import dedup_clusters

    # two extra exact copies of each of the first 10 docs
    base = docs.select("doc_id", "text").where(F.col("doc_id") < 30)
    copies = base.where(F.col("doc_id") < 10)
    corpus = (
        base.unionByName(
            copies.select((F.col("doc_id") + 1000).alias("doc_id"), "text")
        )
        .unionByName(
            copies.select((F.col("doc_id") + 2000).alias("doc_id"), "text")
        )
    )
    clusters = dedup_clusters(corpus, "doc_id", threshold=0.9)
    rows = clusters.collect()
    kept = {r.doc_id for r in rows if r.keep}
    by_id = {r.doc_id: r.component for r in rows}
    # a planted copy is never the survivor (an original with a smaller id
    # always exists in its cluster), and each copy resolves to the same
    # cluster as its original (which may itself merge with a natural
    # near-dup in the testdata — doc sets contain planted near-dups)
    assert not any(k >= 1000 for k in kept)
    for i in range(10):
        assert by_id[i + 1000] == by_id[i] == by_id[i + 2000]
    # exactly one keeper per component
    comp_keeps = {}
    for r in rows:
        comp_keeps[r.component] = comp_keeps.get(r.component, 0) + (1 if r.keep else 0)
    assert all(n == 1 for n in comp_keeps.values())


# -- NULL-text handling (round-3 ADVICE) --------------------------------------


def test_with_signature_keeps_null_text_rows(spark):
    """with_minhash_signature / with_simhash add a column — a NULL-text
    row must survive with a NULL signature, not vanish (the signature
    join is left, not inner)."""
    df = spark.createDataFrame(
        [(1, "some real text here"), (2, None), (3, "")],
        "doc_id int, text string",
    )
    mh = with_minhash_signature(df, id_col="doc_id", num_hashes=8).collect()
    assert sorted(r.doc_id for r in mh) == [1, 2, 3]
    by_id = {r.doc_id: r.minhash for r in mh}
    assert by_id[1] is not None and by_id[2] is None

    sh = with_simhash(df, id_col="doc_id").collect()
    assert sorted(r.doc_id for r in sh) == [1, 2, 3]
    assert {r.doc_id: r.simhash for r in sh}[2] is None


def test_exact_dedup_null_texts_are_not_duplicates_of_each_other(spark):
    df = spark.createDataFrame(
        [(1, "same"), (2, "same"), (3, None), (4, None)],
        "doc_id int, text string",
    )
    kept = sorted(r.doc_id for r in exact_dedup(df, "doc_id").collect())
    assert kept == [1, 3, 4]


# -- SimHash chunking derives from the Hamming bound (round-3 ADVICE) ---------


def test_simhash_chunk_count_follows_max_hamming(docs):
    """max_hamming > 3 used to silently lose recall (fixed 4-chunk split
    only pigeonholes distance <= 3). The chunk count now derives from the
    bound, so a wider bound must find at least the pairs a tighter one
    does, plus everything the verify step admits."""
    sample = docs.limit(30)
    tight = simhash_near_dup_pairs(sample, "doc_id", max_hamming=3)
    wide = simhash_near_dup_pairs(sample, "doc_id", max_hamming=6)
    tight_pairs = {(r.id_a, r.id_b) for r in tight.collect()}
    wide_pairs = {(r.id_a, r.id_b) for r in wide.collect()}
    assert tight_pairs <= wide_pairs


def test_simhash_max_hamming_out_of_range_raises(docs):
    with pytest.raises(ValueError, match="max_hamming"):
        simhash_near_dup_pairs(docs, "doc_id", max_hamming=32)


# -- curation: decontamination / sampling / packing / survivor policies --------


def test_decontaminate_flags_overlapping_docs(spark):
    from gcpde_spark.llm.curation import decontaminate

    bench_text = "the capital of france is paris and the capital of italy is rome"
    docs = spark.createDataFrame(
        [
            (1, "completely unrelated text about distributed query engines and shuffles here"),
            (2, "quiz answer: the capital of france is paris and the capital of italy is rome obviously"),
            (3, "another clean document with its own words that do not appear in any benchmark item"),
        ],
        "doc_id long, text string",
    )
    bench = spark.createDataFrame([(100, bench_text)], "bench_id long, text string")
    out = {r.doc_id: r for r in decontaminate(docs, bench, n=5).collect()}
    assert out[2].contaminated and out[2].n_shared_ngrams >= 1
    assert not out[1].contaminated and out[1].n_shared_ngrams == 0
    assert not out[3].contaminated
    # min_shared raises the bar
    from gcpde_spark.llm.curation import decontaminate as dec

    strict = {r.doc_id: r for r in dec(docs, bench, n=5, min_shared=10**6).collect()}
    assert not any(r.contaminated for r in strict.values())


def test_sample_stratified_exact_and_deterministic(docs, spark):
    from gcpde_spark.llm.curation import sample_stratified
    from gcpde_spark.llm.text import with_language_id

    base = with_language_id(docs).select("doc_id", "lang_pred")
    s1 = sample_stratified(base, ["lang_pred"], n_per_stratum=7, seed=1)
    s2 = sample_stratified(base, ["lang_pred"], n_per_stratum=7, seed=1)
    got1 = sorted(r.doc_id for r in s1.collect())
    got2 = sorted(r.doc_id for r in s2.collect())
    assert got1 == got2  # deterministic
    per = {r.lang_pred: r.cnt for r in s1.groupBy("lang_pred").agg(
        F.count(F.lit(1)).alias("cnt")).collect()}
    full = {r.lang_pred: r.cnt for r in base.groupBy("lang_pred").agg(
        F.count(F.lit(1)).alias("cnt")).collect()}
    for lang, n in per.items():
        assert n == min(7, full[lang])  # exact per-stratum size
    s3 = sorted(r.doc_id for r in sample_stratified(
        base, ["lang_pred"], n_per_stratum=7, seed=2).collect())
    assert s3 != got1  # seed changes the sample


def test_pack_token_budget_respects_budget(spark):
    import random

    from gcpde_spark.llm.curation import pack_token_budget

    rnd = random.Random(3)
    rows = [(i, rnd.randrange(50, 2000)) for i in range(2000)]
    df = spark.createDataFrame(rows, "doc_id long, n_tokens long")
    packed = pack_token_budget(df, budget=10_000, n_buckets=8)
    shard_sums = packed.groupBy("shard_id").agg(
        F.sum("n_tokens").alias("tok"), F.count(F.lit(1)).alias("n")
    ).collect()
    # every multi-doc shard stays under budget + one max doc (greedy bound)
    for r in shard_sums:
        assert r.tok < 10_000 + 2000, r
    # all docs assigned exactly once
    assert packed.count() == 2000
    assert packed.select("doc_id").distinct().count() == 2000


def test_exact_dedup_keep_policies(spark):
    from gcpde_spark.llm.curation import exact_dedup_keep

    rows = [
        (1, "Same   Text here", 0.2),
        (2, "same text HERE", 0.9),      # same normalized text as 1
        (3, "same text here padded out", 0.5),  # different text
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string, quality_score double")
    by_min = {r.doc_id for r in exact_dedup_keep(df, keep="min_id").collect()}
    assert by_min == {1, 3}
    by_q = {r.doc_id for r in exact_dedup_keep(df, keep="max_quality").collect()}
    assert by_q == {2, 3}
    by_len = {r.doc_id for r in exact_dedup_keep(df, keep="longest").collect()}
    assert by_len == {2, 3} or by_len == {1, 3}  # raw lengths: 16 vs 14 -> doc 1
    assert by_len == {1, 3}
    import pytest as _pytest

    with _pytest.raises(ValueError):
        exact_dedup_keep(df, keep="nope")


def test_strip_html_tags_entities_and_blocks(spark):
    from pyspark.sql import functions as F

    from gcpde_spark.llm.text import strip_html

    rows = [
        (1, '<p class="a" data-x="1>2">hello <b>world</b></p>'),
        (2, "<script>if (a < b) { alert('x') }</script>kept"),
        (3, "<style>p { color: red }</style>kept"),
        (4, "<!-- secret --><span>shown</span>"),
        (5, "a&amp;b &lt;i&gt; &quot;q&quot; &#39;s&#39;&nbsp;end"),
        (6, "&amp;lt; stays encoded once"),
        (7, "line1<br>line2<br/>line3"),
        (8, "no markup at all"),
        (9, None),
    ]
    df = spark.createDataFrame(rows, "doc_id int, text string")
    got = {
        r.doc_id: r.c
        for r in df.select("doc_id", strip_html("text").alias("c")).collect()
    }
    assert got[1] == "hello world"
    assert got[2] == "kept"  # script payload (incl. '<') removed
    assert got[3] == "kept"
    assert got[4] == "shown"  # comment payload removed
    assert got[5] == 'a&b <i> "q" \'s\' end'
    assert got[6] == "&lt; stays encoded once"  # amp decoded LAST
    assert got[7] == "line1\nline2\nline3"  # br -> line structure
    assert got[8] == "no markup at all"
    assert got[9] is None


def test_strip_boilerplate_drops_marked_lines_only(spark):
    from gcpde_spark.llm.text import strip_boilerplate, strip_html, with_clean_text

    html = (
        "<div>Skip to main content</div>"
        "<p>real paragraph one</p>"
        "<div>Accept our Cookie Policy</div>"
        "<p>real paragraph two</p>"
        "<footer>Copyright 2026 · All Rights Reserved</footer>"
    )
    df = spark.createDataFrame([(1, html)], "doc_id int, text string")
    out = df.select(
        strip_boilerplate(strip_html("text")).alias("c")
    ).collect()[0].c
    assert out == "real paragraph one\nreal paragraph two"
    # composed convenience: normalized single-line output
    clean = with_clean_text(df).collect()[0].clean_text
    assert clean == "real paragraph one real paragraph two"


def test_strip_html_is_pure_projection(spark):
    from gcpde_spark.llm.text import with_clean_text

    df = spark.createDataFrame([(1, "<p>x</p>")], "doc_id int, text string")
    plan = with_clean_text(df)._jdf.queryExecution().executedPlan().toString()
    assert "BatchEvalPython" not in plan and "Exchange" not in plan


def test_unigram_logprob_matches_hand_computed_lm(spark):
    import math

    from gcpde_spark.llm.text import unigram_logprob

    df = spark.createDataFrame(
        [(1, "a a b"), (2, "a b")], "doc_id int, text string"
    )
    got = {r.doc_id: r for r in unigram_logprob(df, id_col="doc_id").collect()}
    # self-LM: P(a)=3/5, P(b)=2/5
    exp1 = (2 * math.log(3 / 5) + math.log(2 / 5)) / 3
    exp2 = (math.log(3 / 5) + math.log(2 / 5)) / 2
    assert got[1].n_tokens == 3 and abs(got[1].mean_logprob - exp1) < 1e-4
    assert got[2].n_tokens == 2 and abs(got[2].mean_logprob - exp2) < 1e-4
    # scoring against a separate reference: ref counts a=3, b=1,
    # total=4; OOV term 'z' gets the floor probability 1/(total+1)
    ref = spark.createDataFrame([(10, "a a a b")], "doc_id int, text string")
    df2 = spark.createDataFrame([(3, "a z")], "doc_id int, text string")
    s2 = unigram_logprob(df2, reference=ref).collect()[0]
    exp_z = (math.log(3 / 4) + math.log(1 / 5)) / 2
    assert abs(s2.mean_logprob - exp_z) < 1e-4


def test_dedup_paragraphs_global_first_occurrence(spark):
    from gcpde_spark.llm.dedup import dedup_paragraphs

    rows = [
        (1, "alpha beta\n\nshared para"),
        (2, "shared para\n\ngamma delta"),  # first para is a repeat
        (3, "Shared  PARA\n\n\n\nalpha beta"),  # normalized repeat + empty block
        (4, "shared para"),  # everything is a repeat -> empty output
        (5, ""),  # no paragraphs at all
    ]
    df = spark.createDataFrame(rows, "doc_id int, text string")
    got = {r.doc_id: r for r in dedup_paragraphs(df, id_col="doc_id").collect()}
    assert got[1].text_deduped == "alpha beta\n\nshared para"
    assert (got[1].n_paras_kept, got[1].n_paras_total) == (2, 2)
    assert got[2].text_deduped == "gamma delta"
    assert (got[2].n_paras_kept, got[2].n_paras_total) == (1, 2)
    # case/whitespace-normalized match; raw text of survivors preserved
    assert got[3].text_deduped == ""
    assert (got[3].n_paras_kept, got[3].n_paras_total) == (0, 2)
    assert got[4].text_deduped == "" and got[4].n_paras_kept == 0
    assert (got[5].n_paras_kept, got[5].n_paras_total) == (0, 0)


def test_bloom_dedup_no_false_negatives_and_bounded_fp(spark, docs):
    from gcpde_spark.llm.dedup import bloom_dedup_new

    old = docs.select("doc_id", "text")
    n = old.count()
    # new batch = half true duplicates (same text, shifted ids), half novel
    dups = old.where(F.col("doc_id") % 2 == 0).select(
        (F.col("doc_id") + 50000).alias("doc_id"), "text"
    )
    novel = old.where(F.col("doc_id") % 2 == 1).select(
        (F.col("doc_id") + 90000).alias("doc_id"),
        F.concat(F.lit("entirely novel prefix "), F.col("text"), F.col("doc_id").cast("string")).alias("text"),
    )
    new = dups.unionByName(novel)
    kept = bloom_dedup_new(new, old, fpp=0.01)
    kept_ids = {r.doc_id for r in kept.select("doc_id").collect()}
    # no false negatives: every true duplicate is dropped
    assert not any(i >= 50000 and i < 90000 for i in kept_ids)
    # novel docs survive at >= 1 - 5*fpp
    n_novel = novel.count()
    survived = sum(1 for i in kept_ids if i >= 90000)
    assert survived >= n_novel * 0.95, f"{survived}/{n_novel} novel kept"
    # exact mode equals the plain anti-join on fingerprints
    exact_kept = bloom_dedup_new(new, old, fpp=0.5, exact=True)
    from gcpde_spark.llm.text import normalize_text

    expected = new.withColumn("_f", F.md5(normalize_text("text"))).join(
        old.select(F.md5(normalize_text("text")).alias("_f")).distinct(),
        "_f",
        "left_anti",
    )
    assert {r.doc_id for r in exact_kept.collect()} == {
        r.doc_id for r in expected.collect()
    }


def test_bloom_filter_table_is_compact_and_distributed(spark, docs):
    from gcpde_spark.llm.dedup import _bloom_sizing, bloom_filter_table

    m, k = _bloom_sizing(500, 0.01)
    assert m % 64 == 0 and 6 <= k <= 8  # ~10 bits/key, 7 hashes at 1%
    bf = bloom_filter_table(docs.select(F.col("text")), "text", m, k)
    rows = bf.collect()
    assert len(rows) <= m // 64
    assert all(r.bits != 0 for r in rows)
    plan = bf._jdf.queryExecution().executedPlan().toString()
    assert "BatchEvalPython" not in plan


def test_sample_mixture_targets_and_determinism(docs, spark):
    from gcpde_spark.llm.curation import sample_mixture

    targets = {"src0": 3, "src1": 0, "src2": 100000}
    out = sample_mixture(docs, "source", targets, default=1)
    counts = {
        r.source: r.n
        for r in out.groupBy("source").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    full = {
        r.source: r.n
        for r in docs.groupBy("source").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    assert counts["src0"] == 3
    assert "src1" not in counts  # zero target drops the stratum
    assert counts["src2"] == full["src2"]  # capped at stratum size
    for s, n in counts.items():
        if s not in targets:
            assert n == 1  # default applies to unlisted strata
    # deterministic: same seed -> same ids
    a = sorted(r.doc_id for r in sample_mixture(docs, "source", targets).collect())
    b = sorted(r.doc_id for r in sample_mixture(docs, "source", targets).collect())
    assert a == b
    import pytest as _pt

    with _pt.raises(ValueError):
        sample_mixture(docs, "source", {"src0": -1})


def test_chunk_documents_windows_and_edges(spark):
    from gcpde_spark.llm.text import chunk_documents

    text = " ".join(f"t{i}" for i in range(10))
    df = spark.createDataFrame([(1, text), (2, "a b")], "doc_id int, text string")
    got = chunk_documents(df, chunk_tokens=4, overlap=1).collect()
    by_doc = {}
    for r in got:
        by_doc.setdefault(r.doc_id, []).append(r)
    c1 = sorted(by_doc[1], key=lambda r: r.chunk_id)
    # stride 3: chunks at 0/3/6 cover all 10 tokens with 1-token overlap
    assert [r.chunk_text for r in c1] == [
        "t0 t1 t2 t3",
        "t3 t4 t5 t6",
        "t6 t7 t8 t9",
    ]
    assert [r.n_chunk_tokens for r in c1] == [4, 4, 4]
    # short doc: one (possibly partial) chunk
    assert [(r.chunk_text, r.n_chunk_tokens) for r in by_doc[2]] == [("a b", 2)]
    # every token of every doc appears in some chunk (coverage)
    covered = set()
    for r in c1:
        covered.update(r.chunk_text.split(" "))
    assert covered == set(text.split(" "))
    import pytest as _pt

    with _pt.raises(ValueError):
        chunk_documents(df, chunk_tokens=4, overlap=4)


def test_dedup_paragraphs_document_scope(spark):
    from gcpde_spark.llm.dedup import dedup_paragraphs

    rows = [
        (1, "refrain\n\nverse one\n\nrefrain\n\nverse two\n\nrefrain"),
        (2, "refrain\n\nother content"),  # doc 1's repeats don't affect doc 2
    ]
    df = spark.createDataFrame(rows, "doc_id int, text string")
    got = {
        r.doc_id: r
        for r in dedup_paragraphs(df, id_col="doc_id", scope="document").collect()
    }
    assert got[1].text_deduped == "refrain\n\nverse one\n\nverse two"
    assert (got[1].n_paras_kept, got[1].n_paras_total) == (3, 5)
    # document scope keeps doc 2's own copy of the shared paragraph
    assert got[2].text_deduped == "refrain\n\nother content"
    # global scope would have removed it
    g = {r.doc_id: r for r in dedup_paragraphs(df, id_col="doc_id").collect()}
    assert g[2].text_deduped == "other content"
    import pytest as _pt

    with _pt.raises(ValueError):
        dedup_paragraphs(df, scope="corpus")


def test_kmeans_cluster_entry_properties(spark):
    from gcpde_spark.queries import CORPUS

    out = CORPUS["x09_kmeans_clusters"].build(spark, SF_SMALL)
    rows = out.collect()
    n_total = load_table(spark, SF_SMALL, "embeddings").count()
    assert sum(r.n_vectors for r in rows) == n_total  # partition of corpus
    assert 1 <= len(rows) <= 16
    assert all(r.n_vectors > 0 for r in rows)
    # deterministic: rebuilt entry gives identical sizes
    again = CORPUS["x09_kmeans_clusters"].build(spark, SF_SMALL).collect()
    assert sorted(map(tuple, rows)) == sorted(map(tuple, again))


def test_pack_chunk_sequences_slots_and_order(spark):
    from gcpde_spark.llm.curation import pack_chunk_sequences
    from gcpde_spark.llm.text import chunk_documents

    text = " ".join(f"w{i}" for i in range(40))
    df = spark.createDataFrame(
        [(i, text) for i in range(5)], "doc_id int, text string"
    )
    chunks = chunk_documents(df, chunk_tokens=8, overlap=0)  # 5 per doc
    packed = pack_chunk_sequences(chunks, chunks_per_seq=4, n_buckets=1)
    rows = sorted(packed.collect(), key=lambda r: (r.doc_id, r.chunk_id))
    # 25 chunks -> 7 sequences (6 full of 4 + one of 1)
    seqs = {}
    for r in rows:
        seqs.setdefault(r.seq_id, []).append(r)
    sizes = sorted(len(v) for v in seqs.values())
    assert sizes == [1, 4, 4, 4, 4, 4, 4]
    # slots are 0..k within each sequence, in (doc, chunk) order
    for members in seqs.values():
        members.sort(key=lambda r: (r.doc_id, r.chunk_id))
        assert [m.seq_slot for m in members] == list(range(len(members)))
    # chunks of one doc stay contiguous across sequence boundaries
    flat = [(r.doc_id, r.chunk_id) for r in rows]
    assert flat == sorted(flat)
    import pytest as _pt

    with _pt.raises(ValueError):
        pack_chunk_sequences(chunks, chunks_per_seq=0)


def test_chunk_documents_reassembly_invariant(spark, docs):
    """Concatenating each doc's chunks minus their overlaps reproduces
    the exact token stream — checked corpus-wide in one job."""
    from gcpde_spark.llm.text import chunk_documents, tokens

    overlap = 4
    chunks = chunk_documents(docs, chunk_tokens=16, overlap=overlap)
    rebuilt = (
        chunks.withColumn(
            "_part",
            F.when(
                F.col("chunk_id") == 0, F.col("chunk_text")
            ).otherwise(
                F.array_join(
                    F.slice(
                        F.split(F.col("chunk_text"), " "),
                        overlap + 1,
                        1_000_000,
                    ),
                    " ",
                )
            ),
        )
        .groupBy("doc_id")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct("chunk_id", "_part"))
                    ),
                    lambda s: s.getField("_part"),
                ),
                " ",
            ).alias("rebuilt")
        )
    )
    orig = docs.select("doc_id", F.array_join(tokens("text"), " ").alias("orig"))
    n_bad = (
        orig.join(rebuilt, "doc_id")
        .where(F.col("orig") != F.col("rebuilt"))
        .count()
    )
    assert n_bad == 0


def test_strip_html_is_whitespace_normalize_on_markup_free_text(spark, docs):
    """On text with no markup characters, strip_html must be exactly
    whitespace collapse — corpus-wide, one job."""
    from gcpde_spark.llm.text import strip_html

    clean = docs.where(
        ~F.col("text").contains("<") & ~F.col("text").contains("&")
    )
    n_bad = clean.where(
        strip_html("text")
        != F.regexp_replace(F.trim(F.col("text")), r"\s+", " ")
    ).count()
    assert n_bad == 0 and clean.count() > 0


def test_top_ngrams_counts_and_reach(spark):
    from gcpde_spark.llm.text import top_ngrams

    rows = [
        (1, "a b a b c"),   # bigrams: ab, ba, ab, bc
        (2, "a b x"),       # ab, bx
        (3, "z"),           # short doc -> whole-text shingle "z"
    ]
    df = spark.createDataFrame(rows, "doc_id int, text string")
    got = {r.ngram: r for r in top_ngrams(df, n=2, k=10).collect()}
    assert got["a b"].n_occurrences == 3 and got["a b"].n_docs == 2
    assert got["b a"].n_occurrences == 1 and got["b a"].n_docs == 1
    assert got["z"].n_occurrences == 1  # sub-n doc contributes whole text
    assert got["a b"].rank == 1
    # ties break lexicographically after count
    one_count = sorted(r.ngram for r in got.values() if r.n_occurrences == 1)
    ranks = [got[g].rank for g in one_count]
    assert ranks == sorted(ranks)


def test_curate_documents_optional_gates(spark):
    from gcpde_spark.llm.pipeline import curate_documents

    common = " ".join(["the and of to in is it for on a"] * 5)
    rows = [
        (1, f"<p>{common}</p><footer>Copyright 2026</footer>"),
        (2, common),  # same content as 1 after markup strip -> deduped
        # garble = 60 DISTINCT rare tokens (each a singleton in the
        # self-scored LM; repeated tokens would make themselves common)
        (3, " ".join(f"zq{i}" for i in range(60)) + " " + common[:40]),
    ]
    df = spark.createDataFrame(rows, "doc_id int, text string")
    # markup cleaning makes 1 and 2 exact duplicates; min id survives
    out = curate_documents(
        df, min_tokens=10, min_quality=0.0, clean_markup=True
    )
    ids = sorted(r.doc_id for r in out.collect())
    assert 1 in ids and 2 not in ids
    # without cleaning, markup makes them distinct
    out2 = curate_documents(df, min_tokens=10, min_quality=0.0)
    ids2 = sorted(r.doc_id for r in out2.collect())
    assert 1 in ids2 and 2 in ids2
    # LM gate drops the rare-token doc but keeps natural text
    gated = curate_documents(
        df,
        min_tokens=10,
        min_quality=0.0,
        clean_markup=True,
        min_mean_logprob=-3.5,
    )
    gids = sorted(r.doc_id for r in gated.collect())
    assert 1 in gids and 3 not in gids


def test_corpus_report_counts_and_dup_rate(spark):
    from gcpde_spark.llm.curation import corpus_report

    rows = [
        (1, "the cat sat on the mat today", "web", "en"),
        (2, "THE  cat sat on the mat today", "web", "en"),  # dup of 1
        (3, "something else entirely here now", "web", "en"),
        (4, "ein anderer text auf deutsch hier", "books", "de"),
    ]
    df = spark.createDataFrame(rows, "doc_id int, text string, source string, lang string")
    got = {(r.source, r.lang): r for r in corpus_report(df).collect()}
    web = got[("web", "en")]
    assert web.n_docs == 3 and web.n_distinct_texts == 2
    assert abs(web.dup_rate - (1 - 2 / 3)) < 1e-4
    assert web.total_tokens == 7 + 7 + 5
    assert 0.0 <= web.mean_quality <= 1.0
    books = got[("books", "de")]
    assert books.n_docs == 1 and books.dup_rate == 0.0
    # custom strata
    per_lang = corpus_report(df, strata_cols=["lang"]).collect()
    assert {r.lang for r in per_lang} == {"en", "de"}


def test_dedup_clusters_survivor_policies(spark):
    from gcpde_spark.llm.dedup import dedup_clusters

    rows = [
        (1, "short", 0.2),
        (2, "much longer text here", 0.9),
        (3, "medium text", 0.5),
        (10, "unrelated singleton", 0.1),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string, quality_score double")
    pairs = spark.createDataFrame([(1, 2), (2, 3)], "id_a long, id_b long")
    by_min = {r.doc_id: r.keep for r in dedup_clusters(df, "doc_id", pairs=pairs).collect()}
    assert by_min == {1: True, 2: False, 3: False, 10: True}
    by_len = {
        r.doc_id: r.keep
        for r in dedup_clusters(df, "doc_id", pairs=pairs, keep="longest").collect()
    }
    assert by_len == {1: False, 2: True, 3: False, 10: True}
    by_q = {
        r.doc_id: r.keep
        for r in dedup_clusters(
            df, "doc_id", pairs=pairs, keep="max_quality"
        ).collect()
    }
    assert by_q == {1: False, 2: True, 3: False, 10: True}
    import pytest as _pt

    with _pt.raises(ValueError):
        dedup_clusters(df, "doc_id", pairs=pairs, keep="newest")


def test_sample_hash_fraction_and_split(docs, spark):
    from gcpde_spark.llm.curation import sample_hash_fraction, split_train_val

    n = docs.count()
    s = sample_hash_fraction(docs, 0.3, seed=7)
    ids_a = {r.doc_id for r in s.select("doc_id").collect()}
    ids_b = {r.doc_id for r in sample_hash_fraction(docs, 0.3, seed=7).collect()}
    assert ids_a == ids_b  # deterministic
    assert 0.15 * n < len(ids_a) < 0.45 * n  # binomial around 0.3N
    # growth stability: membership unchanged on a subset of the corpus
    half = docs.where(F.col("doc_id") % 2 == 0)
    ids_half = {r.doc_id for r in sample_hash_fraction(half, 0.3, seed=7).collect()}
    assert ids_half == {i for i in ids_a if i % 2 == 0}
    # split: disjoint, exhaustive, val matches the fraction bucket
    train, val = split_train_val(docs, val_fraction=0.2, seed=7)
    t_ids = {r.doc_id for r in train.select("doc_id").collect()}
    v_ids = {r.doc_id for r in val.select("doc_id").collect()}
    assert t_ids.isdisjoint(v_ids) and len(t_ids) + len(v_ids) == n
    # no shuffle: pure filter plan
    plan = s._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan
    import pytest as _pt

    with _pt.raises(ValueError):
        sample_hash_fraction(docs, 1.5)


def test_round4_operators_null_text_behavior(spark):
    """NULL-text rows: projections pass NULL through, exploding
    operators drop or zero the row — never crash, never fabricate."""
    from gcpde_spark.llm.curation import corpus_report
    from gcpde_spark.llm.dedup import dedup_paragraphs
    from gcpde_spark.llm.text import chunk_documents, unigram_logprob

    df = spark.createDataFrame(
        [(1, "some real text here", "web", "en"), (2, None, "web", "en")],
        "doc_id int, text string, source string, lang string",
    )
    # paragraph dedup: NULL-text doc keeps an empty-output row
    p = {r.doc_id: r for r in dedup_paragraphs(df, id_col="doc_id").collect()}
    assert (p[2].text_deduped, p[2].n_paras_total) == ("", 0)
    # log-prob: NULL-text doc gets NULL stats via the left join
    s = {r.doc_id: r for r in unigram_logprob(df).collect()}
    assert s[2].mean_logprob is None and s[1].mean_logprob is not None
    # chunking: NULL-text doc yields no chunks (explode of NULL range)
    c = chunk_documents(df, chunk_tokens=4, overlap=1).collect()
    assert {r.doc_id for r in c} == {1}
    # corpus report: NULL text still counts as a document in its stratum
    rep = corpus_report(df).collect()[0]
    assert rep.n_docs == 2


def test_select_top_fraction_sizes_and_determinism(spark):
    from gcpde_spark.llm.curation import select_top_fraction

    rows = [
        # stratum "a": 5 docs, scores 5..1 → keep ceil(5*0.4)=2 best
        *[(i, "a", float(5 - i)) for i in range(5)],
        # stratum "b": 3 docs, one NULL score → NULLS LAST, keep ceil(3*0.4)=2
        (10, "b", 1.0),
        (11, "b", None),
        (12, "b", 2.0),
        # stratum "c": singleton always survives (ceil(1*0.4)=1)
        (20, "c", -5.0),
    ]
    df = spark.createDataFrame(rows, "doc_id long, source string, score double")
    out = select_top_fraction(
        df, score_col="score", frac=0.4, strata_cols=["source"]
    )
    got = {r["doc_id"] for r in out.collect()}
    # a: top-2 scores are doc 0 (5.0) and doc 1 (4.0); b: 12 (2.0), 10 (1.0);
    # the NULL-scored doc 11 is cut; c: the singleton survives.
    assert got == {0, 1, 12, 10, 20}
    again = {r["doc_id"] for r in out.collect()}
    assert again == got


def test_select_top_fraction_tie_break_is_id(spark):
    from gcpde_spark.llm.curation import select_top_fraction

    df = spark.createDataFrame(
        [(i, "s", 1.0) for i in range(4)],
        "doc_id long, source string, score double",
    )
    out = select_top_fraction(df, "score", 0.5, ["source"])
    assert {r["doc_id"] for r in out.collect()} == {0, 1}


def test_select_top_fraction_single_window_exchange(spark):
    """The rank and count windows share one partition spec → ONE
    Exchange on the strata key in the optimized plan."""
    from gcpde_spark.llm.curation import select_top_fraction

    df = spark.createDataFrame(
        [(1, "s", 1.0)], "doc_id long, source string, score double"
    )
    plan = (
        select_top_fraction(df, "score", 0.5, ["source"])
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert plan.count("Exchange hashpartitioning") == 1


def test_select_top_fraction_threshold_route_matches_exact(spark):
    """The skew-safe threshold route must select EXACTLY the exact
    route's rank-cut set — including score ties straddling the cut,
    NULL scores (NULLS LAST), multi-column strata, and a NULL stratum
    key (which the window keeps as a group, so the route's joins must
    be null-safe). Checked over several fracs on a skewed corpus."""
    import random

    from gcpde_spark.llm.curation import select_top_fraction

    rng = random.Random(7)
    rows = []
    for i in range(3000):  # planted giant stratum with heavy ties
        rows.append((i, "giant", "x", float(rng.randint(0, 40))))
    for i in range(3000, 3050):
        rows.append((i, "small", "x", rng.random() * 10))
    for i in range(3050, 3070):  # NULL-score tail in its own stratum
        rows.append((i, "small", "y", None if i % 3 else 1.0))
    rows.append((9000, None, "x", 5.0))  # NULL stratum key
    rows.append((9001, None, "x", 3.0))
    df = spark.createDataFrame(
        rows, "doc_id long, source string, lang string, score double"
    )
    for frac in (0.1, 0.5, 0.9, 1.0):
        exact = {
            r.doc_id
            for r in select_top_fraction(
                df, "score", frac, ["source", "lang"], method="exact"
            ).collect()
        }
        thr = {
            r.doc_id
            for r in select_top_fraction(
                df, "score", frac, ["source", "lang"], method="threshold"
            ).collect()
        }
        assert thr == exact, f"frac={frac}: {thr ^ exact}"


def test_sample_stratified_threshold_route_matches_exact(spark):
    """sample_stratified's skew-safe route (closed-form hash cutoffs +
    band rank + validation) must select exactly the exact route's n
    smallest seeded hashes per stratum — including strata smaller than
    n, a NULL stratum key, and across seeds."""
    from gcpde_spark.llm.curation import sample_stratified

    rows = [(i, "giant") for i in range(4000)]
    rows += [(10_000 + i, "tiny") for i in range(3)]
    rows += [(20_000, None), (20_001, None)]
    df = spark.createDataFrame(rows, "doc_id long, source string")
    for seed, n in ((42, 50), (7, 1), (99, 4000)):
        exact = {
            r.doc_id
            for r in sample_stratified(
                df, ["source"], n, seed=seed, method="exact"
            ).collect()
        }
        thr = {
            r.doc_id
            for r in sample_stratified(
                df, ["source"], n, seed=seed, method="threshold"
            ).collect()
        }
        assert thr == exact, f"seed={seed} n={n}: {thr ^ exact}"


def test_select_top_fraction_auto_routes_on_stratum_size(spark):
    """method='auto' mirrors profile_neighbors' measured routing: a
    planted 90%-one-stratum input past the bound takes the threshold
    route (its plan carries the percentile_approx cutoff aggregate and
    sorts only the boundary band, never the whole stratum); under the
    bound it stays on the single-window exact plan."""
    from gcpde_spark.llm.curation import select_top_fraction

    rows = [(i, "dominant" if i < 900 else f"s{i % 7}", float(i % 83))
            for i in range(1000)]
    df = spark.createDataFrame(rows, "doc_id long, source string, score double")

    routed = select_top_fraction(
        df, "score", 0.5, ["source"], stratum_bound=100
    )
    plan = routed._jdf.queryExecution().optimizedPlan().toString()
    assert "percentile_approx" in plan  # threshold route taken
    # the only sort-window runs over the band filter, not the stratum:
    # the full-stratum exact plan has zero Filters between scan and Window
    exact = select_top_fraction(
        df, "score", 0.5, ["source"], stratum_bound=10_000_000
    )
    assert "percentile_approx" not in (
        exact._jdf.queryExecution().optimizedPlan().toString()
    )
    assert {r.doc_id for r in routed.collect()} == {
        r.doc_id for r in exact.collect()
    }


def test_bm25_ranks_planted_relevant_doc_first(spark):
    from gcpde_spark.llm.text import bm25_topk

    docs = spark.createDataFrame(
        [
            (1, "alpha beta " * 30),            # no query terms
            (2, "needle alpha beta " * 10),     # some hits, long doc
            (3, "needle needle needle alpha"),  # dense hits, short doc
            (4, "beta gamma delta " * 20),
        ],
        "doc_id long, text string",
    )
    got = bm25_topk(docs, ["needle"], top_k=4).collect()
    # Only the two matching docs score at all, with positive scores.
    # (tf=10 in doc 2 saturates under k1=1.2 but still edges out doc 3's
    # tf=3 — BM25's saturation is asymptotic, not a hard cap.)
    assert {r["doc_id"] for r in got} == {2, 3}
    assert all(r["bm25"] > 0 for r in got)


def test_bm25_idf_downweights_ubiquitous_terms(spark):
    from gcpde_spark.llm.text import bm25_topk

    docs = spark.createDataFrame(
        [(i, "common word filler") for i in range(9)]
        + [(100, "rare common word")],
        "doc_id long, text string",
    )
    got = {r["doc_id"]: r["bm25"] for r in bm25_topk(docs, ["rare", "common"], top_k=10).collect()}
    # doc 100 matches both terms; its 'rare' contribution must dominate
    # any common-only doc's score.
    assert got[100] > max(v for k, v in got.items() if k != 100)


def test_bm25_large_query_route_matches_wide_route(spark, monkeypatch):
    """Past _BM25_WIDE_TERM_LIMIT the plan switches to the
    collect-matched-occurrences form (the per-term-column form blows
    codegen/constant-pool limits on big queries). Both routes must
    produce identical (doc, score) results — forced by dropping the
    limit to 1 on the same query."""
    from gcpde_spark.llm import text as text_mod
    from gcpde_spark.llm.text import bm25_topk

    docs = spark.createDataFrame(
        [
            (1, "alpha beta gamma " * 5),
            (2, "needle alpha needle " * 3),
            (3, "needle gamma"),
            (4, "delta " * 10),
            (5, "alpha beta needle gamma delta"),
        ],
        "doc_id long, text string",
    )
    q = ["needle", "gamma", "alpha"]
    wide = [(r.doc_id, r.bm25) for r in bm25_topk(docs, q, top_k=5).collect()]
    monkeypatch.setattr(text_mod, "_BM25_WIDE_TERM_LIMIT", 1)
    narrow = [(r.doc_id, r.bm25) for r in bm25_topk(docs, q, top_k=5).collect()]
    assert wide == narrow and len(wide) == 4  # doc 4 matches nothing
    # and a genuinely wide query list runs without error on the new route
    many = q + [f"zz{i}" for i in range(300)]
    assert {r.doc_id for r in bm25_topk(docs, many, top_k=5).collect()} == {
        1, 2, 3, 5,
    }


def test_jpeg_codec_roundtrip_variants():
    """The baseline JPEG codec is real both ways: solid blocks decode
    bit-exact, gradients within quantization error, and the decoder
    handles 4:2:0 subsampling and restart markers (the two structures
    in-the-wild baseline files actually use)."""
    import numpy as np

    from gcpde_spark.llm.multimodal import _jpeg_decode, _jpeg_encode

    solid = np.full((16, 16, 3), 100, dtype=np.uint8)
    solid[:, :, 2] = 200
    assert np.array_equal(
        _jpeg_decode(_jpeg_encode(solid, quality=90)), solid
    )
    assert np.array_equal(
        _jpeg_decode(_jpeg_encode(solid, quality=90, subsampling=2)), solid
    )
    gray = np.full((8, 8, 1), 128, dtype=np.uint8)
    assert np.array_equal(_jpeg_decode(_jpeg_encode(gray, quality=90)), gray)

    h, w = 13, 21  # non-multiple-of-8 edges exercise partial blocks
    grad = np.zeros((h, w, 3), dtype=np.uint8)
    grad[:, :, 0] = np.linspace(0, 255, w, dtype=np.uint8)[None, :]
    grad[:, :, 1] = np.linspace(0, 255, h, dtype=np.uint8)[:, None]
    grad[:, :, 2] = 77
    for kw, tol in (
        (dict(quality=95), 16),
        (dict(quality=95, restart_interval=2), 16),
        (dict(quality=95, subsampling=2), 30),
    ):
        out = _jpeg_decode(_jpeg_encode(grad, **kw))
        assert out.shape == grad.shape, kw
        err = np.abs(out.astype(int) - grad.astype(int)).max()
        assert err <= tol, (kw, err)
    # arithmetic-coded SOF9 is out of scope and must degrade to None
    b = bytearray(_jpeg_encode(grad))
    b[b.index(b"\xff\xc0") + 1] = 0xC9
    assert _jpeg_decode(bytes(b)) is None


def test_resize_images_real_jpeg_pixels(spark, tmp_path):
    """JPEG rows are REALLY resampled now: resize_applied flips to True
    and the output decodes at target geometry with the source colors."""
    import numpy as np

    from gcpde_spark.llm.multimodal import (
        _jpeg_decode,
        _jpeg_encode,
        read_binary_files,
        resize_images,
    )

    src = np.zeros((2, 2, 3), dtype=np.uint8)
    src[0, 0] = (250, 10, 10)
    src[0, 1] = (10, 250, 10)
    src[1, 0] = (10, 10, 250)
    src[1, 1] = (250, 250, 250)
    (tmp_path / "tiny.jpg").write_bytes(_jpeg_encode(src, quality=95))
    df = read_binary_files(spark, str(tmp_path))
    row = resize_images(df, 4, 4).collect()[0]
    assert row.resize_applied is True
    assert (row.resized_width, row.resized_height) == (4, 4)
    out = _jpeg_decode(bytes(row.content))
    assert out.shape == (4, 4, 3)
    # nearest-neighbor: each source pixel becomes a 2x2 block (tolerate
    # quantization error from the two lossy passes)
    up = np.repeat(np.repeat(src, 2, axis=0), 2, axis=1).astype(int)
    assert np.abs(out.astype(int) - up).max() <= 40


def test_extract_features_real_jpeg(spark, tmp_path):
    import numpy as np

    from gcpde_spark.llm.multimodal import (
        _jpeg_encode,
        extract_features,
        read_binary_files,
    )

    px = np.full((16, 16, 3), 60, dtype=np.uint8)
    (tmp_path / "img.jpg").write_bytes(_jpeg_encode(px, quality=95))
    row = extract_features(
        read_binary_files(spark, str(tmp_path)), features="real"
    ).collect()[0]
    assert row.features_real is True
    # channel means land on the solid value (normalized to [0,1])
    assert abs(row.features[0] - 60 / 255) < 0.02


def _lzw_gif_compress(min_code, data):
    """Reference GROWING-dictionary GIF-LZW compressor (spec appendix) —
    exercises the decoder's table-growth path, which the library's own
    clear-heavy encoder never emits."""
    clear, eoi = 1 << min_code, (1 << min_code) + 1
    out_codes = []
    table = {bytes([i]): i for i in range(clear)}
    next_code, width = eoi + 1, min_code + 1
    out_codes.append((clear, width))
    cur = b""
    for byte in bytes(data):
        nxt = cur + bytes([byte])
        if nxt in table:
            cur = nxt
            continue
        out_codes.append((table[cur], width))
        if next_code < 4096:
            table[nxt] = next_code
            if next_code == (1 << width) and width < 12:
                width += 1
            next_code += 1
        else:
            out_codes.append((clear, width))
            table = {bytes([i]): i for i in range(clear)}
            next_code, width = eoi + 1, min_code + 1
        cur = bytes([byte])
    if cur:
        out_codes.append((table[cur], width))
    out_codes.append((eoi, width))
    acc = nbits = 0
    body = bytearray()
    for code, w_ in out_codes:
        acc |= code << nbits
        nbits += w_
        while nbits >= 8:
            body.append(acc & 0xFF)
            acc >>= 8
            nbits -= 8
    if nbits:
        body.append(acc & 0xFF)
    return bytes(body)


def test_gif_codec_roundtrip_and_growing_lzw():
    import numpy as np

    from gcpde_spark.llm.multimodal import (
        _gif_decode,
        _gif_decode_indexed,
        _gif_encode_indexed,
        _gif_lzw_decode,
    )

    rng = np.random.default_rng(11)
    pal = rng.integers(0, 256, (8, 3), dtype=np.uint8)
    idx = rng.integers(0, 8, (32, 17), dtype=np.uint8)
    b = _gif_encode_indexed(idx, pal)
    got = _gif_decode_indexed(b)
    assert got is not None and np.array_equal(got[0], idx)
    assert np.array_equal(_gif_decode(b), pal[idx])

    # decoder must handle real growing-dictionary streams (with repeats
    # so the dictionary actually builds multi-byte entries)
    data = bytes((np.arange(4096) % 5).astype(np.uint8) % 8)
    comp = _lzw_gif_compress(3, data)
    out = _gif_lzw_decode(3, comp, len(data))
    assert bytes(out) == data

    # 256-entry palette → 9-bit initial code width
    pal256 = rng.integers(0, 256, (256, 3), dtype=np.uint8)
    i256 = rng.integers(0, 256, (20, 20), dtype=np.uint8)
    assert np.array_equal(
        _gif_decode_indexed(_gif_encode_indexed(i256, pal256))[0], i256
    )


def test_gif_interlace_and_resize(spark, tmp_path):
    import numpy as np

    from gcpde_spark.llm.multimodal import (
        _gif_decode_indexed,
        _gif_encode_indexed,
        read_binary_files,
        resize_images,
    )

    rng = np.random.default_rng(5)
    pal = rng.integers(0, 256, (8, 3), dtype=np.uint8)
    idx = rng.integers(0, 8, (11, 7), dtype=np.uint8)
    # hand-build an interlaced stream: rows in pass order + the flag bit
    h = 11
    rows = [*range(0, h, 8), *range(4, h, 8), *range(2, h, 4), *range(1, h, 2)]
    bi = bytearray(_gif_encode_indexed(idx[rows], pal))
    bi[13 + 3 * 8 + 9] |= 0x40
    assert np.array_equal(_gif_decode_indexed(bytes(bi))[0], idx)

    # resize happens in INDEX space: surviving pixels keep exact colors
    (tmp_path / "img.gif").write_bytes(_gif_encode_indexed(idx, pal))
    row = resize_images(read_binary_files(spark, str(tmp_path)), 4, 4).collect()[0]
    assert row.resize_applied is True
    out_idx, out_pal = _gif_decode_indexed(bytes(row.content))
    ys = (np.arange(4) * 11) // 4
    xs = (np.arange(4) * 7) // 4
    assert np.array_equal(out_pal[out_idx], pal[idx[ys][:, xs]])


def _make_real_anim_gif(frames, pal, delays_cs, transparent=None, disposal=0):
    """Animated GIF with REAL LZW pixel data: reuse the library writer's
    image block per frame, prepend a GCE carrying delay/transparency."""
    from gcpde_spark.llm.multimodal import _gif_encode_indexed

    first = _gif_encode_indexed(frames[0], pal)
    n_pal = 2 ** max(1, (len(pal) - 1).bit_length())
    head_len = 13 + 3 * n_pal
    out = bytearray(first[:head_len])
    for f, d in zip(frames, delays_cs):
        flags = (disposal & 0x7) << 2 | (1 if transparent is not None else 0)
        out += bytes([0x21, 0xF9, 0x04, flags]) + d.to_bytes(2, "little")
        out += bytes([transparent or 0, 0x00])
        enc = _gif_encode_indexed(f, pal)
        out += enc[head_len:-1]  # image descriptor + LZW data, no trailer
    return bytes(out) + b"\x3b"


def test_sample_frames_real_gif_pixels(spark, tmp_path):
    """Animated-GIF frame sampling now yields REAL composited pixels:
    each sampled row carries the frame re-encoded as PNG."""
    import numpy as np

    from gcpde_spark.llm.multimodal import (
        _png_decode,
        read_binary_files,
        sample_frames,
    )

    pal = np.array(
        [[255, 0, 0], [0, 255, 0], [0, 0, 255], [255, 255, 255]], dtype=np.uint8
    )
    f0 = np.zeros((4, 4), dtype=np.uint8)          # all red
    f1 = np.full((4, 4), 1, dtype=np.uint8)        # all green
    f2 = np.full((4, 4), 2, dtype=np.uint8)        # all blue
    (tmp_path / "anim.gif").write_bytes(
        _make_real_anim_gif([f0, f1, f2], pal, [5, 10, 20])
    )
    rows = sorted(
        sample_frames(read_binary_files(spark, str(tmp_path)), 3).collect(),
        key=lambda r: r.frame_idx,
    )
    assert [r.frame_offset_ms for r in rows] == [0, 50, 150]
    for r, f in zip(rows, (f0, f1, f2)):
        px = _png_decode(bytes(r.frame_png))
        assert px is not None and np.array_equal(px, pal[f]), r.frame_idx


def test_gif_frames_transparency_composites_over_previous():
    """A transparent index in frame 2 must leave frame 1's pixels
    showing through (GIF89a GCE transparency semantics)."""
    import numpy as np

    from gcpde_spark.llm.multimodal import _gif_frames

    pal = np.array(
        [[255, 0, 0], [0, 255, 0], [0, 0, 255], [9, 9, 9]], dtype=np.uint8
    )
    f0 = np.zeros((2, 2), dtype=np.uint8)  # red
    f1 = np.array([[3, 1], [3, 1]], dtype=np.uint8)  # idx 3 = transparent
    b = _make_real_anim_gif([f0, f1], pal, [10, 10], transparent=3)
    frames = dict(_gif_frames(b))
    # left column keeps frame 0's red; right column takes frame 1's green
    expect = np.array(
        [[[255, 0, 0], [0, 255, 0]], [[255, 0, 0], [0, 255, 0]]], dtype=np.uint8
    )
    assert np.array_equal(frames[1], expect)


def test_jpeg_progressive_decodes_identical_to_baseline():
    """Progressive (SOF2) decode support, cross-checked the strongest
    way available: progressive and baseline encodes of the same array
    at the same quality quantize to IDENTICAL coefficients, so the two
    decodes must be bit-identical — any drift in the spectral-
    selection / successive-approximation / EOB-run logic breaks
    equality immediately."""
    import numpy as np

    from gcpde_spark.llm.multimodal import (
        _jpeg_decode,
        _jpeg_encode,
        _jpeg_encode_progressive,
    )

    rng = np.random.default_rng(9)
    cases = [
        rng.integers(0, 256, (13, 21, 3), dtype=np.uint8),  # noisy, ragged
        rng.integers(0, 256, (24, 16, 1), dtype=np.uint8),  # grayscale
        np.full((24, 24, 3), 77, dtype=np.uint8),           # pure EOB runs
    ]
    grad = np.zeros((40, 40, 3), dtype=np.uint8)
    grad[:, :, 0] = np.linspace(0, 255, 40, dtype=np.uint8)[None, :]
    cases.append(grad)                                       # long zero tails
    for px in cases:
        for q in (60, 85, 95):
            base = _jpeg_decode(_jpeg_encode(px, quality=q))
            prog = _jpeg_decode(_jpeg_encode_progressive(px, quality=q))
            assert prog is not None, (px.shape, q)
            assert np.array_equal(base, prog), (px.shape, q)


def test_resize_and_features_cover_progressive_jpeg(spark, tmp_path):
    import numpy as np

    from gcpde_spark.llm.multimodal import (
        _jpeg_decode,
        _jpeg_encode_progressive,
        extract_features,
        read_binary_files,
        resize_images,
    )

    px = np.full((16, 16, 3), 200, dtype=np.uint8)
    (tmp_path / "p.jpg").write_bytes(_jpeg_encode_progressive(px, quality=95))
    df = read_binary_files(spark, str(tmp_path))
    row = resize_images(df, 4, 4).collect()[0]
    assert row.resize_applied is True
    out = _jpeg_decode(bytes(row.content))
    assert out.shape == (4, 4, 3)
    assert np.abs(out.astype(int) - 200).max() <= 8
    feat = extract_features(df, features="real").collect()[0]
    assert feat.features_real is True
    assert abs(feat.features[0] - 200 / 255) < 0.02


def _make_mp3(n_frames=3):
    """MPEG-1 Layer III, 128 kbps, 44.1 kHz stereo, behind an ID3v2 tag."""
    frame = bytes([0xFF, 0xFB, (9 << 4) | (0 << 2), 0x00])
    frame += b"\x00" * (144 * 128000 // 44100 - 4)
    return b"ID3" + bytes([4, 0, 0, 0, 0, 0, 10]) + b"\x00" * 10 + frame * n_frames


def _make_mp4(duration_ms=2500, w=320, h=240):
    def box(t, body):
        return (len(body) + 8).to_bytes(4, "big") + t + body

    mvhd = box(
        b"mvhd",
        bytes(4) + b"\x00" * 8 + (1000).to_bytes(4, "big")
        + duration_ms.to_bytes(4, "big") + b"\x00" * 80,
    )
    tkhd = box(
        b"tkhd",
        bytes(4) + b"\x00" * 76
        + (w << 16).to_bytes(4, "big") + (h << 16).to_bytes(4, "big"),
    )
    return box(b"ftyp", b"isom" + b"\x00" * 12) + box(
        b"moov", mvhd + box(b"trak", tkhd)
    )


def _set_bits(buf: bytearray, bitpos: int, n: int, val: int) -> None:
    for i in range(n):
        bit = (val >> (n - 1 - i)) & 1
        p = bitpos + i
        buf[p >> 3] |= bit << (7 - (p & 7))


def _make_mp3_gained(frame_gains, mono=True):
    """MPEG-1 Layer III stream (128 kbps, 44.1 kHz, no CRC) whose
    side-info global_gain fields are PLANTED per frame — every granule/
    channel of frame i carries frame_gains[i]."""
    out = bytearray()
    nch = 1 if mono else 2
    si_len = 17 if mono else 32
    head_bits = 9 + (5 if mono else 3) + 4 * nch
    size = 144 * 128000 // 44100
    for g in frame_gains:
        hdr = bytes([0xFF, 0xFB, (9 << 4) | (0 << 2), 0xC0 if mono else 0x00])
        si = bytearray(si_len)
        for gr in range(2):
            for ch in range(nch):
                base = head_bits + (gr * nch + ch) * 59 + 12 + 9
                _set_bits(si, base, 8, g)
        out += hdr + bytes(si) + bytes(size - 4 - si_len)
    return bytes(out)


def _make_mp4_sampled(sizes, deltas=None, keyframes=(1,), timescale=30000,
                      delta=1000):
    """ISO BMFF with a video trak carrying REAL sample tables: stsz
    per-frame sizes, stts timing (one run of `delta` ticks unless
    per-frame `deltas` given), stss keyframe numbers."""
    def box(t, body):
        return (len(body) + 8).to_bytes(4, "big") + t + body

    def full(t, body, version=0):
        return box(t, bytes([version, 0, 0, 0]) + body)

    stsz = full(b"stsz", (0).to_bytes(4, "big") + len(sizes).to_bytes(4, "big")
                + b"".join(s.to_bytes(4, "big") for s in sizes))
    if deltas is None:
        stts_entries = [(len(sizes), delta)]
    else:
        stts_entries = [(1, d) for d in deltas]
    stts = full(b"stts", len(stts_entries).to_bytes(4, "big")
                + b"".join(c.to_bytes(4, "big") + d.to_bytes(4, "big")
                           for c, d in stts_entries))
    stss = full(b"stss", len(keyframes).to_bytes(4, "big")
                + b"".join(k.to_bytes(4, "big") for k in keyframes))
    stbl = box(b"stbl", stsz + stts + stss)
    minf = box(b"minf", stbl)
    mdhd = full(b"mdhd", b"\x00" * 8 + timescale.to_bytes(4, "big")
                + (len(sizes) * delta).to_bytes(4, "big") + b"\x00" * 4)
    hdlr = full(b"hdlr", b"\x00" * 4 + b"vide" + b"\x00" * 12)
    mdia = box(b"mdia", mdhd + hdlr + minf)
    trak = box(b"trak", mdia)
    mvhd = full(b"mvhd", b"\x00" * 8 + (1000).to_bytes(4, "big")
                + (2000).to_bytes(4, "big") + b"\x00" * 80)
    return box(b"ftyp", b"isom" + b"\x00" * 12) + box(b"moov", mvhd + trak)


def test_mp4_frame_stats_and_video_features(spark, tmp_path):
    """The MP4 video feature path parses the REAL sample tables: planted
    stsz sizes/stss keyframes/stts timing come back exactly, and the
    feature slots reflect a small-frames-then-large-frames stream."""
    import math

    from gcpde_spark.llm.multimodal import (
        _mp4_frame_stats,
        _real_features,
        extract_features,
        read_binary_files,
    )

    sizes = [1000] * 4 + [5000] * 4
    b = _make_mp4_sampled(sizes, keyframes=(1, 5))
    st = _mp4_frame_stats(b)
    assert st is not None
    assert st["sizes"] == sizes
    assert abs(st["fps"] - 30.0) < 1e-9          # 30000 ticks/s ÷ 1000/frame
    assert st["keyframe_ratio"] == 2 / 8
    assert abs(st["duration_s"] - 8 / 30) < 1e-9

    vec = _real_features(b, "video", 16)
    assert vec is not None
    assert abs(vec[0] - math.log1p(30.0) / 10) < 1e-9   # fps slot
    assert abs(vec[3] - 0.25) < 1e-9                     # keyframe ratio
    env = vec[4:12]
    tot = sum(sizes)
    assert abs(sum(env[:4]) - 4000 / tot) < 1e-9         # small half
    assert abs(sum(env[4:]) - 20000 / tot) < 1e-9        # large half

    # end-to-end: MP4 rows with sample tables are features_real=True
    (tmp_path / "clip.mp4").write_bytes(b)
    row = extract_features(
        read_binary_files(spark, str(tmp_path)), dim=16, features="real"
    ).collect()[0]
    assert row.features_real is True
    # a bare moov without sample tables still falls back, flagged
    assert _mp4_frame_stats(_make_mp4()) is None


def test_mp3_frame_gains_and_envelope_features(spark, tmp_path):
    """The MP3 feature path is REAL side-info parsing, not a hash stub
    (round-4 verdict item 7): planted global_gain values come back
    exactly, and the feature vector's loudness/envelope slots reflect a
    quiet-first-half / loud-second-half stream."""
    import math

    from gcpde_spark.llm.multimodal import (
        _mp3_frame_gains,
        _real_features,
        extract_features,
        read_binary_files,
    )

    quiet, loud = 100, 240
    b = _make_mp3_gained([quiet] * 4 + [loud] * 4)
    gains, rate, n_samp = _mp3_frame_gains(b)
    assert rate == 44100 and n_samp == 8 * 1152
    assert gains[:4] == [2.0 ** ((quiet - 210) / 4)] * 4
    assert gains[4:] == [2.0 ** ((loud - 210) / 4)] * 4

    vec = _real_features(b, "audio", 16)
    assert vec is not None
    assert abs(vec[1] - loud / 255) < 1e-6          # peak level slot
    assert sum(vec[3:7]) < 1e-6                      # quiet half: ~no energy
    assert abs(sum(vec[7:11]) - 1.0) < 1e-6          # loud half: all of it
    assert abs(vec[11] - math.log1p(n_samp / rate)) < 1e-6  # duration slot

    # stereo layout parses too (different side-info geometry)
    sgains, _, _ = _mp3_frame_gains(_make_mp3_gained([loud] * 3, mono=False))
    assert sgains == [2.0 ** ((loud - 210) / 4)] * 3

    # end-to-end: MP3 rows are now features_real=True (stub family gone)
    (tmp_path / "env.mp3").write_bytes(b)
    row = extract_features(
        read_binary_files(spark, str(tmp_path)), dim=16, features="real"
    ).collect()[0]
    assert row.features_real is True
    assert abs(row.features[1] - loud / 255) < 1e-6


def test_decode_media_real_mp3_and_mp4(spark, tmp_path):
    """Audio/video metadata is now real spec-level decode: MP3 duration
    from the MPEG-1 frame walk (3 frames × 1152 samples @44.1 kHz =
    78 ms), MP4 duration/dimensions from the mvhd/tkhd boxes. Junk
    bytes with the right extension still degrade to null metadata."""
    from gcpde_spark.llm.multimodal import decode_media, read_binary_files

    (tmp_path / "song.mp3").write_bytes(_make_mp3())
    (tmp_path / "clip.mp4").write_bytes(_make_mp4())
    (tmp_path / "junk.mp3").write_bytes(b"\xff\xfbnot really frames")
    rows = {
        r.path.rsplit("/", 1)[-1]: r
        for r in decode_media(
            read_binary_files(spark, str(tmp_path)), decode="real"
        ).collect()
    }
    assert rows["song.mp3"].duration_ms == 78
    assert rows["song.mp3"].n_channels == 2
    assert rows["clip.mp4"].duration_ms == 2500
    assert (rows["clip.mp4"].width, rows["clip.mp4"].height) == (320, 240)
    assert rows["junk.mp3"].duration_ms is None


def test_profile_neighbors_planted_twin(spark):
    """A user whose profile is an exact scaled copy of another's must be
    their cosine-1.0 nearest neighbor; orthogonal profiles never pair."""
    from gcpde_spark.llm.similarity import profile_neighbors

    rows = (
        [(1, "a")] * 4 + [(1, "b")] * 2      # user 1: (4, 2)
        + [(2, "a")] * 8 + [(2, "b")] * 4    # user 2: (8, 4) = 2x user 1
        + [(3, "c")] * 5                     # user 3: orthogonal
    )
    df = spark.createDataFrame(rows, "user_id long, event_type string")
    got = {r.user_id: r for r in profile_neighbors(df, "user_id", "event_type").collect()}
    assert got[1].neighbor == 2 and got[1].sim == 1.0
    assert got[2].neighbor == 1 and got[2].sim == 1.0
    assert 3 not in got  # no shared category → no candidate pair at all


def test_profile_neighbors_degenerate_vocab_routes_sub_quadratic(spark):
    """The round-4 verdict's l33 finding: with a BOUNDED category
    vocabulary (here 10k keys x 3 categories) the exact path's
    category equi-join is ~N²/|cats| — all-pairs in disguise. The auto
    guard must (a) measure that bound correctly, (b) route to the LSH
    path, and (c) generate measurably sub-quadratic candidates there."""
    from pyspark.sql import functions as F

    from gcpde_spark.llm.similarity import (
        profile_neighbors,
        profile_pair_bound,
        with_lsh_buckets,
    )

    n_keys = 10_000
    ev = (
        spark.range(n_keys)
        .select(
            F.col("id").alias("user_id"),
            F.posexplode(F.array(F.lit("a"), F.lit("b"), F.lit("c"))).alias(
                "_pos", "event_type"
            ),
        )
        # hashed weight per (user, category) so profile DIRECTIONS spread
        # (a per-user-only weight would make every vector ∝ (1,1,1) — one
        # cosine direction, one LSH bucket — and a LINEAR weight in
        # user_id puts ~25% of users on one exact direction: both would
        # defeat the bucket measurement, not the bucketing)
        .withColumn(
            "_w", F.pmod(F.xxhash64("user_id", "event_type"), F.lit(100)) + 1
        )
        .select(
            "user_id",
            "event_type",
            F.explode(F.sequence(F.lit(1), F.col("_w"))).alias("_i"),
        )
        .drop("_i")
    )
    p = ev.groupBy("user_id", "event_type").agg(F.count(F.lit(1)).alias("_n"))
    # (a) every key hits every category → the exact bound is 3·N² pairs
    bound = profile_pair_bound(p, "event_type")
    assert bound == 3 * n_keys * n_keys
    assert bound > 50_000_000  # the default budget routes this away

    # (c) the LSH route's candidate volume is Σ_bucket size² — measure it
    # on the mean-centered hash vectors the route actually buckets by
    vecs = p.groupBy("user_id").agg(
        F.transform(
            F.array_sort(
                F.collect_list(F.struct(F.col("event_type"), F.col("_n")))
            ),
            lambda e: e["_n"].cast("double"),
        ).alias("_vec")
    )
    mean = F.aggregate(F.col("_vec"), F.lit(0.0), lambda a, b: a + b) / F.lit(3.0)
    vecs = vecs.withColumn(
        "_hvec", F.transform(F.col("_vec"), lambda x: x - mean)
    )
    b = with_lsh_buckets(vecs, "_hvec", dim=3, n_planes=16, seed=13)
    sizes = [
        r[0]
        for r in b.groupBy("bucket").agg(F.count(F.lit(1)).alias("n")).select("n").collect()
    ]
    lsh_pairs = sum(s * s for s in sizes)
    assert lsh_pairs < (n_keys * n_keys) / 10, lsh_pairs

    # (b) end-to-end: auto mode runs the LSH route and still returns
    # well-formed neighbors (rank 1, self excluded)
    out = profile_neighbors(ev, "user_id", "event_type", top_k=1)
    sample = out.limit(50).collect()
    assert sample and all(r.rank == 1 and r.neighbor != r.user_id for r in sample)


def test_curate_documents_relative_quality_gate(spark):
    """quality_top_fraction keeps the best half per stratum by
    quality_score — and leaving it unset keeps the certified l14 plan
    untouched (same rows)."""
    from gcpde_spark.llm.pipeline import curate_documents

    texts = []
    for i in range(8):
        # all-english docs with varying repetition → quality spread
        body = ("the quick brown fox jumps over the lazy dog and then " * (i + 2))
        texts.append((i, "web" if i % 2 == 0 else "books", body))
    df = spark.createDataFrame(texts, "doc_id long, source string, text string")
    base = curate_documents(df, min_quality=0.0, keep_langs=("en",))
    gated = curate_documents(
        df, min_quality=0.0, keep_langs=("en",),
        quality_top_fraction=0.5, quality_strata=("source",),
    )
    nb, ng = base.count(), gated.count()
    assert 0 < ng < nb and ng == -(-nb // 2)  # ceil per 2 equal strata
    # ADVICE r4: the gate must not leak the strata columns into the
    # output schema — gated and ungated shapes are identical, even when
    # a stratum shares a name with an output column
    assert gated.columns == base.columns
    df2 = df.withColumn("n_tokens", F.col("doc_id") % 2)
    collided = curate_documents(
        df2, min_quality=0.0, keep_langs=("en",),
        quality_top_fraction=0.5, quality_strata=("n_tokens",),
    )
    assert collided.columns == base.columns
    # survivors are the per-stratum top scorers
    scores = {r.doc_id: r.quality_score for r in base.collect()}
    kept = {r.doc_id for r in gated.collect()}
    for src_name in ("web", "books"):
        ids = [i for i in scores if (i % 2 == 0) == (src_name == "web")]
        topk = sorted(ids, key=lambda i: (-scores[i], i))[: -(-len(ids) // 2)]
        assert kept & set(ids) == set(topk)


# -- H.264 SPS codec-payload parsing (round 5) ----------------------------


class _BW:
    """MSB-first bit writer with H.264's Exp-Golomb forms — the test
    encoder for SPS vectors (inverse of multimodal._EgReader)."""

    def __init__(self):
        self.bits = []

    def u(self, n, v):
        self.bits += [(v >> (n - 1 - i)) & 1 for i in range(n)]

    def ue(self, v):
        k = v + 1
        n = k.bit_length()
        self.bits += [0] * (n - 1)
        self.u(n, k)

    def se(self, v):
        self.ue(2 * v - 1 if v > 0 else -2 * v)

    def tobytes(self):
        bits = self.bits + [1]  # rbsp_stop_one_bit
        bits += [0] * ((8 - len(bits) % 8) % 8)
        return bytes(
            sum(b << (7 - i) for i, b in enumerate(bits[p : p + 8]))
            for p in range(0, len(bits), 8)
        )


def _make_sps(profile=66, level=30, w_mbs=40, h_mbs=30, crop=(0, 0, 0, 0),
              frame_mbs_only=1, chroma=1, bit_depth=8):
    w = _BW()
    w.u(8, profile)
    w.u(8, 0)
    w.u(8, level)
    w.ue(0)  # seq_parameter_set_id
    if profile in (100, 110, 122, 244, 44, 83, 86, 118, 128):
        w.ue(chroma)
        if chroma == 3:
            w.u(1, 0)
        w.ue(bit_depth - 8)
        w.ue(0)
        w.u(1, 0)
        w.u(1, 0)  # no scaling matrix
    w.ue(4)  # log2_max_frame_num_minus4
    w.ue(0)  # pic_order_cnt_type
    w.ue(4)  # log2_max_pic_order_cnt_lsb_minus4
    w.ue(3)  # max_num_ref_frames
    w.u(1, 0)
    w.ue(w_mbs - 1)
    w.ue(h_mbs - 1)
    w.u(1, frame_mbs_only)
    if not frame_mbs_only:
        w.u(1, 0)
    w.u(1, 1)  # direct_8x8_inference_flag
    if any(crop):
        w.u(1, 1)
        for c in crop:
            w.ue(c)
    else:
        w.u(1, 0)
    return w.tobytes()


def _make_mp4_avc(sps, w=320, h=240):
    def box(t, body):
        return (len(body) + 8).to_bytes(4, "big") + t + body

    def full(t, body, version=0):
        return box(t, bytes([version, 0, 0, 0]) + body)

    nal = bytes([0x67]) + sps
    avcc = box(
        b"avcC",
        bytes([1, 66, 0, 30, 0xFF, 0xE1])
        + len(nal).to_bytes(2, "big") + nal + b"\x00",  # 0 PPS
    )
    visual_fixed = (
        bytes(6) + (1).to_bytes(2, "big") + bytes(16)
        + w.to_bytes(2, "big") + h.to_bytes(2, "big")
        + (0x480000).to_bytes(4, "big") * 2 + bytes(4)
        + (1).to_bytes(2, "big") + bytes(32) + (24).to_bytes(2, "big")
        + (0xFFFF).to_bytes(2, "big")
    )
    assert len(visual_fixed) == 78
    avc1 = box(b"avc1", visual_fixed + avcc)
    stsd = full(b"stsd", (1).to_bytes(4, "big") + avc1)
    stbl = box(b"stbl", stsd)
    minf = box(b"minf", stbl)
    mdhd = full(b"mdhd", b"\x00" * 8 + (30000).to_bytes(4, "big")
                + (60000).to_bytes(4, "big") + b"\x00" * 4)
    hdlr = full(b"hdlr", b"\x00" * 4 + b"vide" + b"\x00" * 12)
    mdia = box(b"mdia", mdhd + hdlr + minf)
    tkhd = full(b"tkhd", b"\x00" * 76 + (w << 16).to_bytes(4, "big")
                + (h << 16).to_bytes(4, "big"))
    trak = box(b"trak", tkhd + mdia)
    mvhd = full(b"mvhd", b"\x00" * 8 + (1000).to_bytes(4, "big")
                + (2000).to_bytes(4, "big") + b"\x00" * 80)
    return box(b"ftyp", b"isom" + b"\x00" * 12) + box(b"moov", mvhd + trak)


def test_h264_sps_parse_baseline_high_and_cropped():
    from gcpde_spark.llm.multimodal import _h264_sps_info, _unescape_rbsp

    # baseline 640x480 (40x30 MBs, no crop)
    info = _h264_sps_info(_make_sps(profile=66, w_mbs=40, h_mbs=30))
    assert info["coded_width"] == 640 and info["coded_height"] == 480
    assert info["profile_idc"] == 66 and info["chroma_format_idc"] == 1
    assert info["bit_depth"] == 8
    # 1920x1080: 120x68 MBs with crop_bottom=4 (1088 - 2*4 = 1080)
    info = _h264_sps_info(
        _make_sps(profile=66, w_mbs=120, h_mbs=68, crop=(0, 0, 0, 4))
    )
    assert info["coded_width"] == 1920 and info["coded_height"] == 1080
    # high profile, 4:2:2, 10-bit: crop units change (SubHeightC = 1)
    info = _h264_sps_info(
        _make_sps(profile=100, w_mbs=60, h_mbs=34, chroma=2,
                  bit_depth=10, crop=(0, 2, 0, 8))
    )
    assert info["profile_idc"] == 100 and info["chroma_format_idc"] == 2
    assert info["bit_depth"] == 10
    assert info["coded_width"] == 60 * 16 - 2 * 2  # SubWidthC = 2
    assert info["coded_height"] == 34 * 16 - 1 * 8  # SubHeightC = 1
    # emulation-prevention unescape (00 00 03 xx -> 00 00 xx)
    assert _unescape_rbsp(b"\x00\x00\x03\x01\x42") == b"\x00\x00\x01\x42"
    assert _unescape_rbsp(b"\x42\x00\x00\x03") == b"\x42\x00\x00\x03"[:3]
    # malformed input degrades to None, never raises
    assert _h264_sps_info(b"\xff") is None


def test_video_codec_info_dataframe(spark):
    from gcpde_spark.llm.multimodal import video_codec_info

    mp4 = _make_mp4_avc(
        _make_sps(profile=66, w_mbs=120, h_mbs=68, crop=(0, 0, 0, 4)),
        w=1920, h=1080,
    )
    df = spark.createDataFrame(
        [("v.mp4", bytearray(mp4)), ("junk.bin", bytearray(b"not an mp4"))],
        "path string, content binary",
    )
    out = {r.path: r for r in video_codec_info(df).collect()}
    assert out["v.mp4"].codec == "avc1"
    assert out["v.mp4"].coded_width == 1920
    assert out["v.mp4"].coded_height == 1080
    assert out["v.mp4"].profile_idc == 66
    assert out["junk.bin"].codec is None
    assert out["junk.bin"].coded_width is None


def _make_mp4_aac(aot=2, freq_idx=4, channels=2, avg_bitrate=128000,
                  long_sizes=False):
    """MP4 with an mp4a audio track whose esds carries a planted
    AudioSpecificConfig; ``long_sizes`` uses multi-byte expandable
    descriptor sizes (the 0x80-continuation form)."""
    def box(t, body):
        return (len(body) + 8).to_bytes(4, "big") + t + body

    def full(t, body, version=0):
        return box(t, bytes([version, 0, 0, 0]) + body)

    def dsize(n):
        if long_sizes:
            return bytes([0x80 | (n >> 7), n & 0x7F])
        return bytes([n])

    asc = (aot << 11) | (freq_idx << 7) | (channels << 3)
    dsi = bytes([0x05]) + dsize(2) + asc.to_bytes(2, "big")
    dcd_body = (
        bytes([0x40, 0x15]) + (0).to_bytes(3, "big")
        + (256000).to_bytes(4, "big") + avg_bitrate.to_bytes(4, "big") + dsi
    )
    dcd = bytes([0x04]) + dsize(len(dcd_body)) + dcd_body
    es_body = (0).to_bytes(2, "big") + bytes([0]) + dcd
    es = bytes([0x03]) + dsize(len(es_body)) + es_body
    esds = full(b"esds", es)
    audio_fixed = (
        bytes(6) + (1).to_bytes(2, "big") + bytes(8)
        + channels.to_bytes(2, "big") + (16).to_bytes(2, "big") + bytes(4)
        + (44100 << 16).to_bytes(4, "big")
    )
    assert len(audio_fixed) == 28
    mp4a = box(b"mp4a", audio_fixed + esds)
    stsd = full(b"stsd", (1).to_bytes(4, "big") + mp4a)
    stbl = box(b"stbl", stsd)
    minf = box(b"minf", stbl)
    mdhd = full(b"mdhd", b"\x00" * 8 + (44100).to_bytes(4, "big")
                + (88200).to_bytes(4, "big") + b"\x00" * 4)
    hdlr = full(b"hdlr", b"\x00" * 4 + b"soun" + b"\x00" * 12)
    mdia = box(b"mdia", mdhd + hdlr + minf)
    trak = box(b"trak", mdia)
    mvhd = full(b"mvhd", b"\x00" * 8 + (1000).to_bytes(4, "big")
                + (2000).to_bytes(4, "big") + b"\x00" * 80)
    return box(b"ftyp", b"isom" + b"\x00" * 12) + box(b"moov", mvhd + trak)


def test_aac_audio_specific_config_parse(spark):
    from gcpde_spark.llm.multimodal import (
        _mp4_audio_codec_info,
        audio_codec_info,
    )

    info = _mp4_audio_codec_info(_make_mp4_aac())
    assert info["codec"] == "mp4a" and info["audio_object_type"] == 2
    assert info["sample_rate"] == 44100 and info["audio_channels"] == 2
    assert info["avg_bitrate"] == 128000
    assert info["object_type_indication"] == 0x40
    # 48 kHz mono HE-AAC-ish object type, long-form descriptor sizes
    info = _mp4_audio_codec_info(
        _make_mp4_aac(aot=5, freq_idx=3, channels=1, long_sizes=True)
    )
    assert info["audio_object_type"] == 5
    assert info["sample_rate"] == 48000 and info["audio_channels"] == 1
    assert _mp4_audio_codec_info(b"garbage") is None
    # DataFrame surface: typed columns, null for non-audio rows
    df = spark.createDataFrame(
        [("a.mp4", bytearray(_make_mp4_aac())), ("x.bin", bytearray(b"no"))],
        "path string, content binary",
    )
    out = {r.path: r for r in audio_codec_info(df).collect()}
    assert out["a.mp4"].sample_rate == 44100
    assert out["x.bin"].sample_rate is None


def test_mp4_parsers_never_raise_on_truncated_input():
    """Malformed-input contract: every byte-level MP4/codec parser must
    degrade to None (an all-null row), never crash a Spark task — fuzz
    by truncating valid files at every offset and flipping the
    descriptor/box lengths the walkers trust."""
    from gcpde_spark.llm.multimodal import (
        _h264_sps_info,
        _mp4_audio_codec_info,
        _mp4_codec_info,
        _mp4_frame_stats,
        _mp4_info,
    )

    aac = _make_mp4_aac()
    avc = _make_mp4_avc(_make_sps())
    sampled = _make_mp4_sampled([100, 200, 300])
    for full_file in (aac, avc, sampled):
        for cut in range(0, len(full_file), 7):
            b = full_file[:cut]
            for fn in (_mp4_info, _mp4_frame_stats, _mp4_codec_info,
                       _mp4_audio_codec_info):
                fn(b)  # must not raise
    for cut in range(len(_make_sps())):
        _h264_sps_info(_make_sps()[:cut])
    # a corrupt stsz count must not allocate gigabytes: plant 0xFFFFFFFF
    planted = sampled.replace(
        (3).to_bytes(4, "big") + (100).to_bytes(4, "big"),
        (0xFFFFFFFF).to_bytes(4, "big") + (100).to_bytes(4, "big"),
    )
    _mp4_frame_stats(planted)  # bounded by available bytes, not count


def _mux_mp4(tracks, movie_timescale=1000):
    """Minimal but REAL ISO BMFF muxer for tests: ftyp + mdat carrying
    every track's samples in the declared chunk layout + moov with full
    sample tables (stsd entry, stts, stsc runs, stsz, stco with
    ABSOLUTE file offsets). ``tracks``: dicts with handler (b"vide" /
    b"soun"), codec (4-byte fourcc), samples ([bytes]), chunk_sizes
    (samples per chunk, summing to len(samples)), delta ticks,
    timescale, and for audio channels/bits/rate."""
    def box(t, body):
        return (len(body) + 8).to_bytes(4, "big") + t + body

    def full(t, body, version=0):
        return box(t, bytes([version, 0, 0, 0]) + body)

    ftyp = box(b"ftyp", b"isom" + b"\x00" * 12)
    payload = b""
    for tr in tracks:
        assert sum(tr["chunk_sizes"]) == len(tr["samples"])
        chunks, i = [], 0
        for csize in tr["chunk_sizes"]:
            chunk = tr["samples"][i : i + csize]
            chunks.append((len(payload), chunk))
            payload += b"".join(chunk)
            i += csize
        tr["_chunks"] = chunks
    mdat_start = len(ftyp) + 8
    traks = b""
    for tr in tracks:
        samples = tr["samples"]
        delta = tr.get("delta", 100)
        timescale = tr.get("timescale", 1000)
        entry_body = bytes(6) + (1).to_bytes(2, "big")
        if tr["handler"] == b"soun":
            entry_body += (
                bytes(8)
                + tr.get("channels", 1).to_bytes(2, "big")
                + tr.get("bits", 16).to_bytes(2, "big")
                + bytes(4)
                + (tr.get("rate", 8000) << 16).to_bytes(4, "big")
            )
        else:
            entry_body += bytes(70)  # VideoSampleEntry fixed fields
        entry_body += tr.get("extra", b"")  # child boxes, e.g. avcC
        stsd = full(b"stsd", (1).to_bytes(4, "big") + box(tr["codec"], entry_body))
        stsz = full(
            b"stsz",
            (0).to_bytes(4, "big") + len(samples).to_bytes(4, "big")
            + b"".join(len(s).to_bytes(4, "big") for s in samples),
        )
        stts = full(
            b"stts",
            (1).to_bytes(4, "big") + len(samples).to_bytes(4, "big")
            + delta.to_bytes(4, "big"),
        )
        runs = []
        for ci, csize in enumerate(tr["chunk_sizes"], start=1):
            if not runs or runs[-1][1] != csize:
                runs.append((ci, csize))
        stsc = full(
            b"stsc",
            len(runs).to_bytes(4, "big")
            + b"".join(
                f.to_bytes(4, "big") + c.to_bytes(4, "big") + (1).to_bytes(4, "big")
                for f, c in runs
            ),
        )
        stco = full(
            b"stco",
            len(tr["_chunks"]).to_bytes(4, "big")
            + b"".join(
                (mdat_start + rel).to_bytes(4, "big") for rel, _ in tr["_chunks"]
            ),
        )
        stss = b""
        if tr.get("keyframes"):
            ks = tr["keyframes"]
            stss = full(
                b"stss",
                len(ks).to_bytes(4, "big")
                + b"".join(k.to_bytes(4, "big") for k in ks),
            )
        stbl = box(b"stbl", stsd + stts + stsc + stsz + stco + stss)
        mdhd = full(
            b"mdhd",
            b"\x00" * 8 + timescale.to_bytes(4, "big")
            + (len(samples) * delta).to_bytes(4, "big") + b"\x00" * 4,
        )
        hdlr = full(b"hdlr", b"\x00" * 4 + tr["handler"] + b"\x00" * 12)
        mdia = box(b"mdia", mdhd + hdlr + box(b"minf", stbl))
        traks += box(b"trak", mdia)
    mvhd = full(
        b"mvhd",
        b"\x00" * 8 + movie_timescale.to_bytes(4, "big")
        + (1000).to_bytes(4, "big") + b"\x00" * 80,
    )
    return ftyp + box(b"mdat", payload) + box(b"moov", mvhd + traks)


def test_mp4_track_samples_resolves_chunked_layout():
    """The stsd/stsz/stsc/stco/stts resolver returns EXACT absolute
    byte ranges: planted per-sample payloads come back verbatim through
    a multi-run chunk map (2,2,1,1 samples per chunk → two stsc runs),
    with start ticks following the stts delta."""
    from gcpde_spark.llm.multimodal import _mp4_track_samples

    samples = [bytes([i]) * (10 + 3 * i) for i in range(6)]
    b = _mux_mp4(
        [
            {
                "handler": b"vide",
                "codec": b"jpeg",
                "samples": samples,
                "chunk_sizes": [2, 2, 1, 1],
                "delta": 40,
                "timescale": 1000,
            }
        ]
    )
    tr = _mp4_track_samples(b, b"vide")
    assert tr is not None
    assert tr["codec"] == "jpeg"
    assert tr["timescale"] == 1000
    assert [b[o : o + s] for o, s in tr["samples"]] == samples
    assert tr["ticks"] == [0, 40, 80, 120, 160, 200]
    # no audio track to resolve
    assert _mp4_track_samples(b, b"soun") is None
    # corrupt chunk offsets (ranges past EOF) must yield None, not junk
    stco_at = b.find(b"stco")
    mangled = bytearray(b)
    mangled[stco_at + 12 : stco_at + 16] = (2**31 - 1).to_bytes(4, "big")
    assert _mp4_track_samples(bytes(mangled), b"vide") is None
    # a 0-based first_chunk (spec says 1-based) must be rejected, not
    # silently alias chunk_offsets[-1] via a negative index
    stsc_at = b.find(b"stsc")
    mangled = bytearray(b)
    mangled[stsc_at + 12 : stsc_at + 16] = (0).to_bytes(4, "big")
    assert _mp4_track_samples(bytes(mangled), b"vide") is None
    for cut in range(0, len(b), 5):
        _mp4_track_samples(b[:cut], b"vide")  # must never raise


def test_sample_frames_real_mjpeg_pixels(spark, tmp_path):
    """MJPEG-in-MP4 frame sampling yields REAL pixels: six solid-color
    JPEG frames muxed with genuine sample tables come back as decoded
    PNGs whose colors match the planted frames, at the container's own
    stts timestamps."""
    import numpy as np

    from gcpde_spark.llm.multimodal import (
        _jpeg_encode,
        _png_decode,
        read_binary_files,
        sample_frames,
    )

    colors = [20, 60, 100, 140, 180, 220]
    frames = [
        _jpeg_encode(np.full((16, 16, 3), c, dtype=np.uint8), quality=95)
        for c in colors
    ]
    clip = _mux_mp4(
        [
            {
                "handler": b"vide",
                "codec": b"jpeg",
                "samples": frames,
                "chunk_sizes": [3, 3],
                "delta": 100,     # ticks at timescale 1000 → 100 ms/frame
                "timescale": 1000,
            }
        ]
    )
    (tmp_path / "clip.mp4").write_bytes(clip)
    rows = sorted(
        sample_frames(read_binary_files(spark, str(tmp_path)), 3).collect(),
        key=lambda r: r.frame_idx,
    )
    assert [r.frame_idx for r in rows] == [0, 2, 4]
    assert [r.frame_offset_ms for r in rows] == [0, 200, 400]
    for r, expected in zip(rows, [colors[0], colors[2], colors[4]]):
        assert r.frame_png is not None
        px = _png_decode(bytes(r.frame_png))
        assert px.shape == (16, 16, 3)
        assert abs(float(px.mean()) - expected) < 3.0  # JPEG-lossy tolerance


def test_sample_frames_real_h264_keyframe_pixels(spark, tmp_path):
    """H.264-in-MP4 frame sampling yields REAL pixels for keyframes
    (round-6: the from-scratch intra decoder, llm/h264.py): two solid
    IDR samples + two garbage inter-position samples muxed with a real
    stss — the sampler snaps picks to the sync samples, decodes them,
    and the colors match; non-decodable payloads would stay NULL."""
    import numpy as np

    from gcpde_spark.llm.h264 import _iter_annexb_nals, h264_encode
    from gcpde_spark.llm.multimodal import (
        _png_decode,
        read_binary_files,
        sample_frames,
    )

    def avc_sample(color):
        enc = h264_encode(
            np.full((16, 16, 3), color, dtype=np.uint8), qp=4, mode="i16"
        )
        sps_nal, pps_nal, idr_nal = list(_iter_annexb_nals(enc))
        avcc = (
            bytes([1, 66, 0xC0, 20, 0xFF, 0xE1])
            + len(sps_nal).to_bytes(2, "big") + sps_nal
            + bytes([1]) + len(pps_nal).to_bytes(2, "big") + pps_nal
        )
        return avcc, len(idr_nal).to_bytes(4, "big") + idr_nal

    def box(t, body):
        return (len(body) + 8).to_bytes(4, "big") + t + body

    avcc, s0 = avc_sample(40)
    _, s2 = avc_sample(200)
    clip = _mux_mp4(
        [
            {
                "handler": b"vide",
                "codec": b"avc1",
                "samples": [s0, b"\xde\xad\xbe\xef", s2, b"\x00\x00"],
                "chunk_sizes": [4],
                "delta": 100,
                "timescale": 1000,
                "extra": box(b"avcC", avcc),
                "keyframes": (1, 3),  # 1-based: samples 0 and 2
            }
        ]
    )
    (tmp_path / "clip.mp4").write_bytes(clip)
    rows = sorted(
        sample_frames(read_binary_files(spark, str(tmp_path)), 4).collect(),
        key=lambda r: r.frame_idx,
    )
    # picks 0..3 snap to the sync samples {0, 2}
    assert [r.frame_idx for r in rows] == [0, 2]
    for r, expected in zip(rows, (40, 200)):
        assert r.frame_png is not None
        px = _png_decode(bytes(r.frame_png))
        assert px.shape == (16, 16, 3)
        assert abs(float(px.mean()) - expected) < 4.0


def test_mp4_pcm_audio_features_match_wav(spark, tmp_path):
    """PCM-in-BMFF audio decode is REAL: the same 16-bit samples packed
    as a WAV and as an MP4 'sowt' (and big-endian 'twos') track produce
    the same feature vector — one decode path after sample extraction."""
    import io
    import wave

    import numpy as np

    from gcpde_spark.llm.multimodal import (
        _mp4_pcm_samples,
        _real_features,
        extract_features,
        read_binary_files,
    )

    rate = 8000
    t = np.arange(rate)  # 1 s of 440 Hz sine at half amplitude
    pcm = (np.sin(2 * np.pi * 440 * t / rate) * 16000).astype("<i2")
    buf = io.BytesIO()
    with wave.open(buf, "wb") as w:
        w.setnchannels(1)
        w.setsampwidth(2)
        w.setframerate(rate)
        w.writeframes(pcm.tobytes())
    wav = buf.getvalue()

    def mux_pcm(codec, data, chunk=1000):
        # split the PCM byte stream into fixed 'chunk'-sample samples
        step = 2 * chunk
        samples = [data[i : i + step] for i in range(0, len(data), step)]
        return _mux_mp4(
            [
                {
                    "handler": b"soun",
                    "codec": codec,
                    "samples": samples,
                    "chunk_sizes": [len(samples)],
                    "delta": chunk,
                    "timescale": rate,
                    "channels": 1,
                    "bits": 16,
                    "rate": rate,
                }
            ]
        )

    m4_le = mux_pcm(b"sowt", pcm.tobytes())
    m4_be = mux_pcm(b"twos", pcm.astype(">i2").tobytes())
    arr, r = _mp4_pcm_samples(m4_le)
    assert r == rate and len(arr) == len(pcm)
    v_wav = _real_features(wav, "audio", 16)
    assert v_wav is not None
    for m4 in (m4_le, m4_be):
        v_mp4 = _real_features(m4, "audio", 16)
        assert v_mp4 is not None
        assert np.allclose(v_wav, v_mp4, atol=1e-6)
    # the Spark path flags these rows as real features
    (tmp_path / "a.m4a").write_bytes(m4_le)
    row = (
        extract_features(
            read_binary_files(spark, str(tmp_path)), dim=16, features="real"
        )
        .collect()[0]
    )
    assert row.features_real is True
    assert abs(row.features[0] - v_wav[0]) < 1e-6  # RMS slot
    # an AAC (mp4a) track stays outside PCM coverage → stub fallback
    assert _mp4_pcm_samples(_make_mp4_aac()) == (None, None)
    # a short stsz table (declared count > resolved samples) marks the
    # track truncated: PCM decode refuses rather than returning a
    # prefix whose duration/energy features would be silently wrong
    stsz_at = m4_le.find(b"stsz")
    short = bytearray(m4_le)
    n_declared = int.from_bytes(m4_le[stsz_at + 12 : stsz_at + 16], "big")
    short[stsz_at + 12 : stsz_at + 16] = (n_declared + 5).to_bytes(4, "big")
    assert _mp4_pcm_samples(bytes(short)) == (None, None)


def test_select_top_fraction_tied_mass_falls_back_to_exact(spark):
    """Round-6 advisory: when (quantized) scores tie so heavily that the
    boundary band swallows the whole stratum, the threshold route's band
    rank would BE the giant single-task sort it exists to avoid — the
    band-bound validation must reject it and fall back to the exact
    route, with identical rows."""
    from gcpde_spark.llm.curation import select_top_fraction

    # one stratum, 6000 rows, ONE score value: is_kept empty, band = all
    df = spark.createDataFrame(
        [(i, "s", 7.0) for i in range(6000)],
        "doc_id long, source string, score double",
    )
    routed = select_top_fraction(df, "score", 0.5, ["source"], method="threshold")
    # fallback happened: the returned plan is the exact single-window one
    plan = routed._jdf.queryExecution().optimizedPlan().toString()
    assert "percentile_approx" not in plan
    got = {r.doc_id for r in routed.collect()}
    exact = {
        r.doc_id
        for r in select_top_fraction(
            df, "score", 0.5, ["source"], method="exact"
        ).collect()
    }
    assert got == exact and len(got) == 3000


def test_unpersist_after_releases_routing_persist_select_top_fraction(spark):
    """VERDICT r7 #5: unpersist_after=True frees the auto route's hidden
    persist of the INPUT once the selection is materialized, keeps the
    (smaller) result cached, and selects exactly the default-route set."""
    from pyspark.sql import functions as F

    from gcpde_spark.llm.curation import select_top_fraction

    spark.catalog.clearCache()
    df = spark.range(200).select(
        F.col("id").alias("doc_id"),
        (F.col("id") % 4).alias("s"),
        (F.col("id") * 37 % 101).cast("double").alias("score"),
    )
    out = select_top_fraction(
        df, "score", 0.25, ["s"], unpersist_after=True
    )
    lvl = df.storageLevel
    assert not (lvl.useMemory or lvl.useDisk), "input persist not released"
    out_lvl = out.storageLevel
    assert out_lvl.useMemory or out_lvl.useDisk, "result should stay cached"
    expected = sorted(
        r.doc_id
        for r in select_top_fraction(df, "score", 0.25, ["s"], method="exact").collect()
    )
    assert sorted(r.doc_id for r in out.collect()) == expected
    out.unpersist(blocking=True)
    spark.catalog.clearCache()


def test_unpersist_after_releases_routing_persist_sample_stratified(spark):
    from pyspark.sql import functions as F

    from gcpde_spark.llm.curation import sample_stratified

    spark.catalog.clearCache()
    df = spark.range(300).select(
        F.col("id").alias("doc_id"), (F.col("id") % 3).alias("s")
    )
    out = sample_stratified(df, ["s"], n_per_stratum=5, unpersist_after=True)
    lvl = df.storageLevel
    assert not (lvl.useMemory or lvl.useDisk)
    expected = sorted(
        r.doc_id
        for r in sample_stratified(df, ["s"], n_per_stratum=5, method="exact").collect()
    )
    assert sorted(r.doc_id for r in out.collect()) == expected
    out.unpersist(blocking=True)
    spark.catalog.clearCache()


def test_unpersist_after_releases_routing_persist_profile_neighbors(spark):
    """profile_neighbors' routing persist is an internal aggregate, so
    the check is global: after the call with unpersist_after=True the
    ONLY cached RDDs left belong to the materialized result."""
    from pyspark.sql import functions as F

    from gcpde_spark.llm.similarity import profile_neighbors

    spark.catalog.clearCache()
    # baseline AFTER clearCache: non-catalog RDD persists from earlier
    # tests in the session can linger and are not this test's subject
    base_cached = spark.sparkContext._jsc.sc().getPersistentRDDs().size()
    ev = spark.range(500).select(
        (F.col("id") % 20).cast("string").alias("k"),
        (F.col("id") % 5).cast("string").alias("c"),
    )
    out = profile_neighbors(ev, "k", "c", top_k=2, unpersist_after=True)
    out_lvl = out.storageLevel
    assert out_lvl.useMemory or out_lvl.useDisk
    # exactly one NEW cached plan remains: the result itself (the
    # routing persist of the profile aggregate is gone)
    n_cached = spark.sparkContext._jsc.sc().getPersistentRDDs().size()
    assert n_cached - base_cached == 1, (n_cached, base_cached)
    assert out.count() > 0
    out.unpersist(blocking=True)
    spark.catalog.clearCache()


def test_profile_neighbors_measured_reduce_latch_and_finish(spark):
    """The auto route sizes the exact dot-product reduce from the
    measured pair bound: with a tiny pairs_per_partition the latched
    plan's exchanges exceed the session's shuffle-partition setting
    (raise-only), the finish callback rides inside the latched plan,
    and rows equal the unlatched forced-exact route."""
    import re

    from pyspark.sql import functions as F

    from gcpde_spark.llm.similarity import profile_neighbors

    spark.catalog.clearCache()
    ev = spark.range(2000).select(
        (F.col("id") % 50).cast("string").alias("k"),
        (F.col("id") % 7).cast("string").alias("c"),
    )
    before = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "3")
    try:
        out = profile_neighbors(
            ev, "k", "c", top_k=1,
            pairs_per_partition=10,  # force derived >> session (3)
            finish=lambda d: d.orderBy("k"),
        )
        plan = out._jdf.queryExecution().executedPlan().toString()
        parts = {
            int(m) for m in re.findall(r"hashpartitioning\([^)]*?, (\d+)\)", plan)
        }
        cap = spark.sparkContext.defaultParallelism
        assert max(parts) > 3 and max(parts) <= cap, (parts, cap)
        expected = [
            (r.k, r.neighbor)
            for r in profile_neighbors(ev, "k", "c", top_k=1, method="exact")
            .orderBy("k")
            .collect()
        ]
        assert [(r.k, r.neighbor) for r in out.collect()] == expected
        # small bounds derive <= session: no raise, no latch
        small = profile_neighbors(ev, "k", "c", top_k=1)
        plan_s = small._jdf.queryExecution().executedPlan().toString()
        parts_s = {
            int(m) for m in re.findall(r"hashpartitioning\([^)]*?, (\d+)\)", plan_s)
        }
        assert max(parts_s) <= 3, parts_s
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", before)
    spark.catalog.clearCache()


def test_embedding_near_dup_routes_agree_and_route_by_volume(spark):
    """join and gram routes emit the same pair set (scores equal after
    the 4-decimal round), and auto routes by the measured pair-volume
    estimate."""
    from pyspark.sql import functions as F

    from gcpde_spark.llm.similarity import embedding_near_dup_pairs

    spark.catalog.clearCache()
    # 40 base vectors + 5 planted near-duplicates
    base = spark.range(40).select(
        F.col("id").alias("vec_id"),
        F.transform(
            F.sequence(F.lit(1), F.lit(8)),
            lambda i: (F.col("id") * 31 + i * 7) % 97 / 10.0,
        ).alias("embedding"),
    )
    dups = base.where(F.col("vec_id") < 5).select(
        (F.col("vec_id") + 1000).alias("vec_id"),
        F.transform(F.col("embedding"), lambda x: x * 1.0001).alias("embedding"),
    )
    corpus = base.unionByName(dups)
    kw = dict(threshold=0.999, dim=8, n_planes=2, seed=3)
    jn = sorted(
        (r.id_a, r.id_b, r.score)
        for r in embedding_near_dup_pairs(corpus, method="join", **kw).collect()
    )
    gm = sorted(
        (r.id_a, r.id_b, r.score)
        for r in embedding_near_dup_pairs(corpus, method="gram", **kw).collect()
    )
    assert jn == gm
    assert {(i, i + 1000) for i in range(5)} <= {(a, b) for a, b, _ in jn}
    # auto: 45 vectors, est 45^2/4 ≈ 506 pairs -> join below budget,
    # gram above a tiny budget — both must produce the same rows
    au_small = embedding_near_dup_pairs(corpus, pair_budget=10, **kw)
    assert "FlatMapGroupsInPandas" in au_small._jdf.queryExecution().executedPlan().toString()
    au_big = embedding_near_dup_pairs(corpus, pair_budget=10_000, **kw)
    assert "FlatMapGroupsInPandas" not in au_big._jdf.queryExecution().executedPlan().toString()
    spark.catalog.clearCache()


def test_embedding_near_dup_gram_route_rounds_half_up_like_spark(spark):
    """Regression (round-8 review): an integer-grid cosine landing
    exactly on a .00005 boundary must round away from zero in BOTH
    routes — numpy's default half-even would emit 0.4062 for 13/32 and
    silently drop the pair at threshold 0.4063 only on the gram route."""
    from gcpde_spark.llm.similarity import embedding_near_dup_pairs

    from pyspark.sql import functions as F

    from gcpde_spark.llm.similarity import _dvec, with_lsh_buckets

    # cos(a, b) = 13 / (1 * sqrt(169+841+9+4+1)) = 13/32 = 0.40625 exactly
    a = [1.0] + [0.0] * 7
    b = [13.0, 29.0, 3.0, 2.0, 1.0, 0.0, 0.0, 0.0]
    emb = spark.createDataFrame(
        [(1, a), (2, b)], "vec_id long, embedding array<double>"
    )
    # precondition: this (n_planes, seed) puts both vectors in one LSH
    # bucket so the pair is a candidate on either route — if the bucket
    # hashing ever changes, fail HERE, not silently below
    base = emb.select(F.col("vec_id").alias("_id"), _dvec("embedding").alias("_v"))
    bk = {r._id: r.bucket for r in with_lsh_buckets(base, "_v", 8, 1, 1).collect()}
    assert bk[1] == bk[2], bk
    for method in ("join", "gram"):
        got = {
            (r.id_a, r.id_b): r.score
            for r in embedding_near_dup_pairs(
                emb, threshold=0.4063, dim=8, n_planes=1, seed=1, method=method
            ).collect()
        }
        assert got == {(1, 2): 0.4063}, (method, got)


def test_unpersist_after_latch_reaches_cached_build_plan(spark):
    """ADVICE r8 (medium): CacheManager plans the cached BUILD plan at
    persist() registration, so on the unpersist_after=True path the
    persist must happen INSIDE the pinned window — persist-then-latch
    left the eager count()'s CPU-heavy reduce at the session count. The
    cached build plan's exchanges must show the raised count, and the
    pair set must equal the forced-exact route's."""
    import re

    from pyspark.sql import functions as F

    from gcpde_spark.llm.similarity import profile_neighbors

    spark.catalog.clearCache()
    ev = spark.range(2000).select(
        (F.col("id") % 50).cast("string").alias("k"),
        (F.col("id") % 7).cast("string").alias("c"),
    )
    before = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "3")
    try:
        out = profile_neighbors(
            ev, "k", "c", top_k=1,
            pairs_per_partition=10,  # force derived >> session (3)
            unpersist_after=True,
        )
        # the memoized plan reads the result cache; the latch must be
        # visible in the InMemoryRelation's build plan
        opt = out._jdf.queryExecution().optimizedPlan().toString()
        parts = {
            int(m) for m in re.findall(r"hashpartitioning\([^)]*?, (\d+)\)", opt)
        }
        cap = spark.sparkContext.defaultParallelism
        assert max(parts) > 3 and max(parts) <= cap, (parts, cap)
        expected = [
            (r.k, r.neighbor)
            for r in profile_neighbors(ev, "k", "c", top_k=1, method="exact")
            .orderBy("k")
            .collect()
        ]
        assert [
            (r.k, r.neighbor) for r in out.orderBy("k").collect()
        ] == expected
        out.unpersist(blocking=True)
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", before)
    spark.catalog.clearCache()


# -- round-10 duplicate-collapse routes ---------------------------------------
# Every collapse route must produce EXACTLY the direct route's rows: the
# collapsed expressions are pure functions of the text, so values agree
# bit-for-bit; these tests pin the row-set equality on a corpus with
# planted exact-duplicate groups (the regime the route exists for),
# including a NULL-text row (NULL-fingerprint group handling).


@pytest.fixture(scope="module")
def dup_docs(spark, docs):
    """40 base docs replicated 4x under shifted ids (+ one NULL-text
    row): dup ratio ~4, above the 3x auto-collapse threshold."""
    base = docs.limit(40).select("doc_id", "text")
    out = base
    for i in range(3):
        out = out.unionByName(
            base.withColumn("doc_id", F.col("doc_id") + F.lit(100000 * (i + 1)))
        )
    null_row = spark.createDataFrame(
        [(999999, None)], "doc_id: long, text: string"
    )
    return out.unionByName(null_row).cache()


def _rows(df):
    cols = sorted(df.columns)
    rows = [tuple(r[c] for c in cols) for r in df.select(*cols).collect()]
    # None-safe total order: sort by per-value (is_null, repr) keys
    return sorted(rows, key=lambda t: tuple((v is None, repr(v)) for v in t))


@pytest.mark.parametrize("fn_name", [
    "with_text_stats", "with_language_id", "with_token_counts",
    "with_fingerprint",
])
def test_text_projection_collapse_parity(dup_docs, fn_name):
    import gcpde_spark.llm.text as text_mod

    fn = getattr(text_mod, fn_name)
    direct = _rows(fn(dup_docs, dedup_collapse=False))
    collapsed = _rows(fn(dup_docs, dedup_collapse=True))
    assert collapsed == direct


def test_minhash_collapse_parity(dup_docs):
    direct = _rows(
        minhash_near_dup_pairs(
            dup_docs, "doc_id", num_hashes=32, bands=8, threshold=0.5,
            dedup_collapse=False,
        )
    )
    collapsed = _rows(
        minhash_near_dup_pairs(
            dup_docs, "doc_id", num_hashes=32, bands=8, threshold=0.5,
            dedup_collapse=True,
        )
    )
    assert collapsed == direct
    # the route must actually find the planted same-text pairs
    assert len(collapsed) >= 40 * 6  # 4 replicas -> C(4,2)=6 pairs per text


def test_simhash_collapse_parity(dup_docs):
    direct = _rows(
        simhash_near_dup_pairs(dup_docs, "doc_id", dedup_collapse=False)
    )
    collapsed = _rows(
        simhash_near_dup_pairs(dup_docs, "doc_id", dedup_collapse=True)
    )
    assert collapsed == direct
    assert len(collapsed) >= 40 * 6


def test_verify_jaccard_collapse_parity(spark, dup_docs):
    from gcpde_spark.llm.dedup import ngram_jaccard_pairs

    ids = dup_docs.where(F.col("text").isNotNull()).select("doc_id")
    # adjacent-id candidate pairs across replica boundaries: most pairs
    # reference NON-representative member ids, exercising the rep remap
    pairs = (
        ids.alias("a")
        .join(
            ids.alias("b"),
            F.col("a.doc_id") + 100000 == F.col("b.doc_id"),
        )
        .select(
            F.col("a.doc_id").alias("id_a"), F.col("b.doc_id").alias("id_b")
        )
    )
    direct = _rows(
        ngram_jaccard_pairs(dup_docs, pairs, "doc_id", dedup_collapse=False)
    )
    collapsed = _rows(
        ngram_jaccard_pairs(dup_docs, pairs, "doc_id", dedup_collapse=True)
    )
    assert collapsed == direct
    assert len(collapsed) > 0


def test_decontaminate_collapse_parity(spark, dup_docs):
    from gcpde_spark.llm.curation import decontaminate

    bench = dup_docs.where(
        F.col("text").isNotNull() & (F.col("doc_id") % 7 == 0)
    ).select(F.col("doc_id").alias("bench_id"), "text")
    direct = _rows(
        decontaminate(dup_docs, bench, n=3, min_shared=2, dedup_collapse=False)
    )
    collapsed = _rows(
        decontaminate(dup_docs, bench, n=3, min_shared=2, dedup_collapse=True)
    )
    assert collapsed == direct


def test_auto_collapse_routing(spark, docs, dup_docs):
    import gcpde_spark.llm.text as text_mod
    from gcpde_spark.llm.text import _scan_size_bytes, auto_collapse

    # round 11: sub-DUP_PROBE_MIN_BYTES inputs short-circuit to the
    # direct route from plan statistics alone — no probe job, no plan
    # walk — even when the corpus is replica-heavy
    assert 0 <= _scan_size_bytes(dup_docs) < text_mod.DUP_PROBE_MIN_BYTES
    assert auto_collapse(dup_docs) is False
    min0 = text_mod.DUP_PROBE_MIN_BYTES
    text_mod.DUP_PROBE_MIN_BYTES = 0
    try:
        # past the size floor: replica-heavy scan-shaped input ->
        # collapse (cache() is not a shuffle); replica-free -> direct
        assert auto_collapse(dup_docs) is True
        assert auto_collapse(docs.select("doc_id", "text")) is False
        # shuffle-derived frames never probe (the probe would
        # re-execute the upstream pipeline)
        shuffled = dup_docs.groupBy("doc_id", "text").agg(
            F.count(F.lit(1)).alias("_c")
        )
        assert auto_collapse(shuffled) is False
    finally:
        text_mod.DUP_PROBE_MIN_BYTES = min0
    # frames with no usable size estimate must fall through to the
    # probe (unknown is not small): a pickled-rows local relation
    # reports the defaultSizeInBytes sentinel
    local = spark.createDataFrame([(1, "a")], "doc_id: long, text: string")
    assert _scan_size_bytes(local) >= text_mod.DUP_PROBE_MIN_BYTES


def test_collapse_reps_min_id_and_null_group(spark):
    from gcpde_spark.llm.text import collapse_reps

    df = spark.createDataFrame(
        [(5, "aa"), (2, "aa"), (9, "bb"), (1, None)],
        "doc_id: long, text: string",
    )
    reps = {
        r["text"]: r["doc_id"]
        for r in collapse_reps(df, "doc_id", "text").collect()
    }
    assert reps["aa"] == 2 and reps["bb"] == 9
    # NULL text keeps its own (NULL-fp) group and is dropped by the
    # fingerprint equi-joins downstream
    assert reps[None] == 1


def test_winnowing_collapse_parity(dup_docs):
    from gcpde_spark.llm.text import winnowing_fingerprints

    direct = _rows(
        winnowing_fingerprints(dup_docs, "doc_id", dedup_collapse=False)
    )
    collapsed = _rows(
        winnowing_fingerprints(dup_docs, "doc_id", dedup_collapse=True)
    )
    assert collapsed == direct
    assert len(collapsed) > 0


def test_unigram_logprob_collapse_parity(dup_docs):
    from gcpde_spark.llm.text import unigram_logprob

    direct = _rows(unigram_logprob(dup_docs, dedup_collapse=False))
    collapsed = _rows(unigram_logprob(dup_docs, dedup_collapse=True))
    # exact equality incl. the micro-nat-derived doubles: the collapsed
    # LM counts are the same integers (sum(tf_rep * members) == the
    # per-replica sums), so every ln P quantization is bit-identical
    assert collapsed == direct


def test_top_ngrams_collapse_parity(dup_docs):
    from gcpde_spark.llm.text import top_ngrams

    direct = _rows(top_ngrams(dup_docs, n=2, k=15, dedup_collapse=False))
    collapsed = _rows(top_ngrams(dup_docs, n=2, k=15, dedup_collapse=True))
    assert collapsed == direct
    assert len(collapsed) == 15


def test_corpus_report_collapse_parity(spark, dup_docs):
    from gcpde_spark.llm.curation import corpus_report
    import gcpde_spark.llm.text as text_mod

    # corpus_report's strata come from extra columns; give replicas a
    # DIFFERENT stratum than their originals so the collapse must keep
    # per-row strata intact while collapsing only the text work
    df = dup_docs.withColumn(
        "source", F.when(F.col("doc_id") < 100000, "a").otherwise("b")
    ).withColumn("lang", F.lit("en"))
    ratio0 = text_mod.DUP_COLLAPSE_RATIO
    try:
        text_mod.DUP_COLLAPSE_RATIO = float("inf")
        direct = _rows(corpus_report(df))
        text_mod.DUP_COLLAPSE_RATIO = 0.0
        collapsed = _rows(corpus_report(df))
    finally:
        text_mod.DUP_COLLAPSE_RATIO = ratio0
    assert collapsed == direct
    assert len(collapsed) == 2  # both strata present


def test_tfidf_collapse_parity(dup_docs):
    from gcpde_spark.llm.text import tfidf_top_terms

    direct = _rows(tfidf_top_terms(dup_docs, k=3, dedup_collapse=False))
    collapsed = _rows(tfidf_top_terms(dup_docs, k=3, dedup_collapse=True))
    # exact equality incl. score doubles: the collapsed document
    # frequency / doc count are the same integers as the per-replica
    # counts, so every tf*idf product is bit-identical
    assert collapsed == direct
    assert len(collapsed) > 0


def test_pipeline_collapse_parity(dup_docs):
    from gcpde_spark.llm.pipeline import curate_documents

    direct = _rows(
        curate_documents(dup_docs, min_tokens=5, dedup_collapse=False)
    )
    collapsed = _rows(
        curate_documents(dup_docs, min_tokens=5, dedup_collapse=True)
    )
    # raw-text groups refine the normalized-text dedup groups and the
    # rep is the min id, so the surviving rows are identical
    assert collapsed == direct
    assert len(collapsed) > 0


def test_exact_dedup_groups_collapse_parity(dup_docs):
    from gcpde_spark.llm.dedup import exact_dedup_groups

    direct = _rows(
        exact_dedup_groups(dup_docs, "doc_id", dedup_collapse=False)
    )
    collapsed = _rows(
        exact_dedup_groups(dup_docs, "doc_id", dedup_collapse=True)
    )
    # raw-md5 groups refine the normalized-md5 groups: min-over-mins is
    # the group min and sum-of-counts the group count, so (fp, keep_id,
    # n_copies) agree exactly — incl. the NULL-text group
    assert collapsed == direct
    assert any(n == 4 for _, _, n in [
        (r[0], r[1], r[2]) for r in collapsed
    ] if isinstance(n, int))


@pytest.mark.parametrize("keep", ["min_id", "longest"])
def test_exact_dedup_keep_collapse_parity(dup_docs, keep):
    from gcpde_spark.llm.curation import exact_dedup_keep

    direct = _rows(
        exact_dedup_keep(dup_docs, keep=keep, dedup_collapse=False)
    )
    collapsed = _rows(
        exact_dedup_keep(dup_docs, keep=keep, dedup_collapse=True)
    )
    # within a raw-text group every length is equal, so the best row
    # under (len desc, id asc) or (id asc) is the min-id representative;
    # ranking reps only picks the same survivors
    assert collapsed == direct
    assert len(collapsed) == 41  # 40 distinct texts + the NULL row


def test_chunk_documents_collapse_parity(dup_docs):
    from gcpde_spark.llm.text import chunk_documents

    direct = _rows(
        chunk_documents(
            dup_docs, chunk_tokens=8, overlap=2, dedup_collapse=False
        )
    )
    collapsed = _rows(
        chunk_documents(
            dup_docs, chunk_tokens=8, overlap=2, dedup_collapse=True
        )
    )
    # chunk sets are pure functions of the text; the fingerprint
    # fan-out join must reproduce every member's rows. NULL-text docs
    # produce NO chunks on the direct path (explode of a NULL index
    # range drops the row) and the sentinel group reproduces exactly
    # that: no rep chunk row, so the inner join drops the members too.
    assert collapsed == direct
    assert len(collapsed) > 0
    n_null = sum(1 for r in direct if r[1] is None)
    assert n_null == 0


def test_bloom_dedup_collapse_parity(spark, dup_docs):
    from gcpde_spark.llm.dedup import bloom_dedup_new

    # plant NOVEL texts (replicated, new-side only) so the parity covers
    # non-empty output — on the replica corpus every text of `new` also
    # exists in `old` and the result would be vacuously empty
    novel = spark.createDataFrame(
        [(500000 + i, f"novel text number {i % 5} planted only in new")
         for i in range(15)],
        "doc_id: long, text: string",
    )
    new = dup_docs.where(F.col("doc_id") % 3 == 0).unionByName(novel)
    old = dup_docs.where(F.col("doc_id") % 3 != 0)
    for exact in (False, True):
        direct = _rows(
            bloom_dedup_new(new, old, exact=exact, dedup_collapse=False)
        )
        collapsed = _rows(
            bloom_dedup_new(new, old, exact=exact, dedup_collapse=True)
        )
        # a Bloom bitmap is a bit_or fold — duplicate keys contribute
        # nothing, so the distinct-text build is bit-identical and the
        # flag/rescue decisions agree row for row
        assert collapsed == direct


@pytest.mark.parametrize("wide", [False, True])
def test_bm25_collapse_parity(dup_docs, wide):
    import gcpde_spark.llm.text as text_mod

    q = ["the", "of", "data", "missing_term"]
    limit0 = text_mod._BM25_WIDE_TERM_LIMIT
    try:
        if wide:
            text_mod._BM25_WIDE_TERM_LIMIT = 2  # force the wide route
        direct = _rows(
            text_mod.bm25_topk(dup_docs, q, top_k=50, dedup_collapse=False)
        )
        collapsed = _rows(
            text_mod.bm25_topk(dup_docs, q, top_k=50, dedup_collapse=True)
        )
    finally:
        text_mod._BM25_WIDE_TERM_LIMIT = limit0
    # (dl, tf) per doc is a pure text function and the member fan-out
    # happens BEFORE the corpus stats, so N/total/df/idf — and every
    # quantized score — are identical on both routes
    assert collapsed == direct
    assert len(collapsed) == 50


@pytest.mark.parametrize("entry", ["l38_snapshot_diff", "l39_vocab_novelty"])
def test_snapshot_entries_collapse_parity(spark, entry):
    # builder-level routes: force the collapse on the replica-free
    # oracle corpus (threshold 0) vs the direct path (threshold inf) —
    # values must agree on ANY corpus, not just replica-heavy ones
    import gcpde_spark.llm.text as text_mod
    from gcpde_spark.queries import CORPUS
    from tests.conftest import SF_ORACLE

    ratio0 = text_mod.DUP_COLLAPSE_RATIO
    try:
        text_mod.DUP_COLLAPSE_RATIO = float("inf")
        direct = _rows(CORPUS[entry].build(spark, SF_ORACLE))
        text_mod.DUP_COLLAPSE_RATIO = 0.0
        collapsed = _rows(CORPUS[entry].build(spark, SF_ORACLE))
    finally:
        text_mod.DUP_COLLAPSE_RATIO = ratio0
    assert collapsed == direct
    assert len(collapsed) > 0


def test_dedup_clusters_collapse_parity(dup_docs):
    from gcpde_spark.llm.dedup import dedup_clusters, minhash_near_dup_pairs

    pairs = minhash_near_dup_pairs(
        dup_docs, "doc_id", num_hashes=32, bands=8, threshold=0.5,
        dedup_collapse=False,
    )
    direct = _rows(
        dedup_clusters(dup_docs, "doc_id", pairs=pairs, dedup_collapse=False)
    )
    collapsed = _rows(
        dedup_clusters(dup_docs, "doc_id", pairs=pairs, dedup_collapse=True)
    )
    # quotient-graph CC: contracting same-text groups (rep = group min
    # id) before min-label propagation yields the same (id, component,
    # keep) rows — incl. the NULL-text row (no fingerprint group; keeps
    # itself on both routes)
    assert collapsed == direct
    # the planted 4x replicas must actually cluster
    comps = {}
    for r in collapsed:
        comps.setdefault(r[0], []).append(r)
    assert any(len(v) >= 4 for v in comps.values())


def test_dup_cluster_sizes_collapse_parity(spark):
    import gcpde_spark.llm.text as text_mod
    from gcpde_spark.queries import CORPUS
    from tests.conftest import SF_ORACLE

    ratio0 = text_mod.DUP_COLLAPSE_RATIO
    try:
        text_mod.DUP_COLLAPSE_RATIO = float("inf")
        direct = _rows(CORPUS["l37_dup_cluster_sizes"].build(spark, SF_ORACLE))
        text_mod.DUP_COLLAPSE_RATIO = 0.0
        collapsed = _rows(
            CORPUS["l37_dup_cluster_sizes"].build(spark, SF_ORACLE)
        )
    finally:
        text_mod.DUP_COLLAPSE_RATIO = ratio0
    assert collapsed == direct
    assert len(collapsed) > 0
