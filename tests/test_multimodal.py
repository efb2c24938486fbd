"""Multimodal tests: binary payload columns flow through Arrow-batched
UDFs with typed metadata. The decode path is REAL for codec-lib-free
formats (pure-numpy BMP / RIFF-PCM16 / QVID raw video — see
operators/codecs.py); compressed formats raise NotImplementedError
naming the format. Header-parse plumbing, size-aware repartition and
the oracle-checked documents-derived media table are also covered."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from quanta_contrib.operators.codecs import (
    decode_bmp,
    decode_qvid_frame,
    decode_wav,
    encode_bmp,
    encode_qvid,
    encode_wav,
    qvid_info,
    resize_nearest,
)
from quanta_contrib.operators.multimodal import (
    decode_header,
    decode_media,
    repartition_by_size,
    resize_images,
    sample_video_frames,
    synthesize_media,
    synthesize_real_media,
)


@pytest.fixture(scope="module")
def media(spark):
    return synthesize_media(spark, n=64, seed=42).cache()


@pytest.fixture(scope="module")
def real_media(spark):
    return synthesize_real_media(spark, n=48, seed=42).cache()


# --- codec round-trips (pure numpy, no Spark) ------------------------------


def test_bmp_roundtrip_bit_exact():
    rng = np.random.default_rng(7)
    px = rng.integers(0, 256, size=(33, 21, 3), dtype=np.uint8)  # odd width => padding
    assert (decode_bmp(encode_bmp(px)) == px).all()


def test_wav_roundtrip_and_rate():
    rng = np.random.default_rng(7)
    samples = rng.integers(-32768, 32767, size=1234, dtype=np.int16)
    out, sr = decode_wav(encode_wav(samples, 22050))
    assert sr == 22050 and out.shape == (1234, 1)
    assert np.allclose(out[:, 0], samples.astype(np.float32) / 32768.0)


def test_qvid_random_access_frame():
    rng = np.random.default_rng(7)
    frames = rng.integers(0, 256, size=(9, 5, 4, 3), dtype=np.uint8)
    blob = encode_qvid(frames, fps=24)
    assert qvid_info(blob) == (4, 5, 9, 24)
    assert (decode_qvid_frame(blob, 6) == frames[6]).all()


def test_resize_nearest_preserves_constant_image():
    px = np.full((40, 30, 3), 77, dtype=np.uint8)
    out = resize_nearest(px, 224, 224)
    assert out.shape == (224, 224, 3) and (out == 77).all()


# --- header-parse plumbing (oracle-checked variant lives in q31) -----------


def test_decode_header_parses_every_blob(spark, media):
    out = decode_header(media).toPandas()
    assert len(out) == 64
    src = media.select("media_id", "kind", F.col("meta.width").alias("w")).toPandas()
    merged = out.merge(src, on="media_id")
    assert (merged["decoded_kind"] == merged["kind"]).all()
    assert (merged["width"] == merged["w"]).all()
    assert merged["content_md5"].str.len().eq(32).all()
    assert (merged["n_bytes"] > 12).all()


def test_decode_is_deterministic(spark, media):
    a = decode_header(media).toPandas().sort_values("media_id").reset_index(drop=True)
    b = decode_header(media).toPandas().sort_values("media_id").reset_index(drop=True)
    assert (a["content_md5"] == b["content_md5"]).all()


# --- REAL decode over Spark -------------------------------------------------


def test_decode_media_real_formats(spark, real_media):
    out = decode_media(real_media).toPandas().set_index("media_id")
    src = real_media.select(
        "media_id", "kind", "meta.width", "meta.height", "meta.n_frames", "meta.sample_rate"
    ).toPandas().set_index("media_id")
    assert len(out) == 48
    for mid, row in out.iterrows():
        s = src.loc[mid]
        assert row["decoded_kind"] == s["kind"]
        if s["kind"] == "image":
            assert (row["width"], row["height"]) == (s["width"], s["height"])
            assert 0 <= row["feature_milli"] <= 1000  # mean pixel
        elif s["kind"] == "audio":
            assert row["sample_rate"] == s["sample_rate"]
            # 0.5-amplitude sine + small noise: rms ~ 0.354
            assert 250 <= row["feature_milli"] <= 450
        else:
            assert row["n_frames"] == s["n_frames"]
            assert (row["width"], row["height"]) == (s["width"], s["height"])


def test_decode_media_rejects_unknown_container(spark):
    df = spark.createDataFrame(
        [(0, "image", bytearray(b"\x00\x01 not a container"), (1, 1, None, None, "raw"))],
        schema=synthesize_media(spark, n=1).schema,
    )
    with pytest.raises(Exception, match="no pure-python decoder"):
        decode_media(df).collect()


def test_decode_media_rejects_malformed_jpeg(spark):
    """A JPEG SOI followed by garbage is a MALFORMED jpeg, not an
    unknown container — the structural walk must say so (it used to be
    rejected as unsupported)."""
    df = spark.createDataFrame(
        [(0, "image", bytearray(b"\xff\xd8\xff\xe0 fake jpeg"), (1, 1, None, None, "jpg"))],
        schema=synthesize_media(spark, n=1).schema,
    )
    with pytest.raises(Exception, match="JPEG"):
        decode_media(df).collect()


def test_resize_images_real(spark, real_media):
    from quanta_contrib.operators.codecs import _PNG_SIG, decode_jpeg, decode_png

    out = resize_images(real_media, target=32).toPandas()
    n_images = real_media.filter("kind = 'image'").count()
    assert len(out) == n_images
    assert (out["width"] == 32).all() and (out["height"] == 32).all()
    # resize preserves each image's container: PNG stays PNG, JPEG
    # stays JPEG (re-encoded through the full DCT pipeline), BMP BMP
    seen = set()
    for p in out["payload"]:
        b = bytes(p)
        if b[:8] == _PNG_SIG:
            px = decode_png(b)
            seen.add("png")
        elif b[:2] == b"\xff\xd8":
            px = decode_jpeg(b)
            seen.add("jpeg")
        else:
            px = decode_bmp(b)
            seen.add("bmp")
        assert px.shape == (32, 32, 3)
    assert seen == {"png", "bmp", "jpeg"}


def test_frame_sampling_extracts_real_frames(spark, real_media):
    frames = sample_video_frames(real_media, every_n=30).toPandas()
    vids = real_media.filter(F.col("kind") == "video").select(
        "media_id", F.col("meta.n_frames").alias("nf"), "payload"
    ).toPandas()
    assert set(frames["media_id"]) == set(vids["media_id"])
    seen = set()
    for _, row in vids.iterrows():
        got = frames[frames.media_id == row.media_id].sort_values("frame_idx")
        assert got["frame_idx"].tolist() == list(range(0, row.nf, 30))
        payload = bytes(row.payload)
        extracted = decode_bmp(bytes(got["frame_bmp"].iloc[0])).astype(float)
        if payload[:2] == b"\xff\xd8":
            # compressed Motion-JPEG: the sampled frame is the codec's
            # (lossy) reconstruction — assert close, not identical
            from quanta_contrib.operators.codecs import decode_mjpeg_frame

            want = decode_mjpeg_frame(payload, int(got["frame_idx"].iloc[0])).astype(float)
            assert extracted.shape == want.shape
            assert (extracted == want).all()  # BMP of the decoded frame is exact
            seen.add("mjpeg")
        else:
            # raw QVID: extracted frame is pixel-identical to the source
            want = decode_qvid_frame(payload, int(got["frame_idx"].iloc[0]))
            assert (extracted == want).all()
            seen.add("qvid")
    assert seen == {"mjpeg", "qvid"}


# --- size-aware repartition --------------------------------------------------


def _partition_bytes(out):
    return (
        out.withColumn("pid", F.spark_partition_id())
        .groupBy("pid")
        .agg(F.sum(F.length("payload")).alias("bytes"))
        .toPandas()["bytes"]
    )


def test_repartition_by_size_balances(spark, media):
    target = 16 << 10
    out = repartition_by_size(media, target_bytes=target)
    max_blob = media.agg(F.max(F.length("payload"))).first()[0]
    sizes = _partition_bytes(out)
    assert len(sizes) > 1
    assert out.count() == 64
    # the contract: cumulative-size bucketing bounds every partition by
    # target + one blob (greedy by start offset)
    assert sizes.max() <= target + max_blob


def test_repartition_by_size_one_giant_blob(spark):
    """One 5 MB blob among 1,000 tiny ones: the giant must not drag
    neighbors into its partition beyond the bound, and tiny blobs must
    pack to ~target instead of one-partition-per-row."""
    rows = [(i, bytearray(b"x" * 1024)) for i in range(1000)]
    rows.append((1000, bytearray(b"y" * (5 << 20))))
    df = spark.createDataFrame(rows, "media_id long, payload binary")
    target = 1 << 20  # 1 MB
    out = repartition_by_size(df, target_bytes=target)
    sizes = _partition_bytes(out)
    total = 1000 * 1024 + (5 << 20)
    assert out.count() == 1001
    assert sizes.max() <= target + (5 << 20)
    # tiny blobs pack: the 1 MB worth of tiny rows occupies ~1 bucket,
    # so partition count stays near ceil(total/target), not 1001
    assert len(sizes) <= int(np.ceil(total / target)) + 1


def test_repartition_by_size_string_ids(spark):
    """A string media id must get a deterministic numeric surrogate
    (hash), not a silent double-cast to NULL: the size bound has to
    hold for non-numeric keys too."""
    rows = [(f"media-{i:04d}", bytearray(b"x" * (512 + 64 * (i % 7)))) for i in range(400)]
    df = spark.createDataFrame(rows, "media_id string, payload binary")
    target = 32 << 10
    out = repartition_by_size(df, target_bytes=target)
    assert out.count() == 400
    max_blob = df.agg(F.max(F.length("payload"))).first()[0]
    sizes = _partition_bytes(out)
    assert len(sizes) > 1
    assert sizes.max() <= target + max_blob


def test_extract_media_features_real_signal_level(spark):
    """Feature extraction runs on DECODED signal, not headers: a pure
    1 kHz sine's spectral energy lands in the right band, a static
    video has zero motion while an alternating one doesn't, and a
    mid-gray image reports the right luma."""
    import numpy as np

    from quanta_contrib.operators.codecs import encode_bmp, encode_qvid, encode_wav
    from quanta_contrib.operators.multimodal import extract_media_features

    sr = 16000
    t = np.arange(sr) / sr
    # 1 kHz over an 8 kHz Nyquist spectrum, 8 bands of 1 kHz each:
    # energy falls in band 0 (0-1kHz upper edge exclusive? 1kHz sits at
    # the band-0/1 boundary; use 1.5 kHz to land safely inside band 1)
    sine = (0.5 * np.sin(2 * np.pi * 1500 * t) * 32767).astype(np.int16)
    static = np.full((4, 8, 8, 3), 100, dtype=np.uint8)
    moving = static.copy()
    moving[1::2] = 200
    gray = np.full((16, 16, 3), 128, dtype=np.uint8)
    rows = [
        (0, bytearray(encode_wav(sine, sr))),
        (1, bytearray(encode_qvid(static))),
        (2, bytearray(encode_qvid(moving))),
        (3, bytearray(encode_bmp(gray))),
    ]
    df = spark.createDataFrame(rows, "media_id long, payload binary")
    got = {r["media_id"]: r for r in extract_media_features(df, n_bands=8).collect()}
    assert got[0]["kind"] == "audio" and got[0]["dominant_band"] == 1
    assert sum(got[0]["feature_bands"]) == pytest.approx(1.0, abs=1e-4)
    assert got[0]["feature_bands"][1] > 0.9  # pure tone concentrates
    assert got[1]["kind"] == "video" and got[1]["motion_milli"] == 0
    assert got[2]["motion_milli"] > 300  # 100<->200 flips ~ 392 milli
    assert got[3]["kind"] == "image"
    assert got[3]["luma_mean_milli"] == pytest.approx(502, abs=2)  # 128/255
    assert got[3]["luma_std_milli"] == 0


def test_decode_media_nonstrict_one_poison_in_10k(spark):
    """100 TB posture (VERDICT r05 ask #3): one corrupt blob among
    10,000 must cost exactly one DLQ row, never the batch. Uses the
    stage runner's _status/_error convention so split_ok_dlq and the
    IdempotentSink DLQ split work unchanged."""
    from quanta_contrib.operators.multimodal import solid_media_from_documents
    from quanta_spark.operators.stages import split_ok_dlq

    docs = spark.range(10_000).select(F.col("id").alias("doc_id"))
    media = solid_media_from_documents(docs)
    poisoned = media.withColumn(
        "payload",
        F.when(F.col("media_id") == 4242, F.substring("payload", 1, 6))
        .otherwise(F.col("payload")),
    )
    decoded = decode_media(poisoned, strict=False)
    ok, dlq = split_ok_dlq(decoded)
    dlq_rows = dlq.collect()
    assert ok.count() == 9_999
    assert len(dlq_rows) == 1
    r = dlq_rows[0]
    assert r["media_id"] == 4242
    assert r["_status"] == "ERROR"
    assert r["_error"].startswith("decode_media:")
    assert r["feature_milli"] is None and r["decoded_kind"] is None


def test_decode_media_strict_default_still_raises(spark):
    """strict=True (the default) keeps the fixture stance: a corrupt
    blob fails the batch loudly."""
    df = spark.createDataFrame(
        [(0, bytearray(b"BM\x01\x02\x03\x04"))], "media_id long, payload binary"
    )
    with pytest.raises(Exception):
        decode_media(df).collect()


def test_resize_and_features_nonstrict_isolate_corrupt_blob(spark):
    """resize_images/extract_media_features carry the same per-row
    DLQ contract as decode_media(strict=False)."""
    from quanta_contrib.operators.multimodal import extract_media_features

    gray = np.full((16, 16, 3), 128, dtype=np.uint8)
    rows = [
        (0, "image", bytearray(encode_bmp(gray))),
        (1, "image", bytearray(b"BM\x00\x01")),  # truncated header
        (2, "image", bytearray(b"\x00\x01\x02\x03junk")),  # unknown magic
    ]
    df = spark.createDataFrame(rows, "media_id long, kind string, payload binary")

    rz = {r["media_id"]: r for r in resize_images(df, target=8, strict=False).collect()}
    assert rz[0]["_status"] == "OK" and rz[0]["payload"] is not None
    assert rz[1]["_status"] == "ERROR" and rz[1]["payload"] is None
    assert rz[2]["_status"] == "ERROR" and rz[2]["_error"].startswith("resize_images:")

    ft = {
        r["media_id"]: r
        for r in extract_media_features(df, strict=False).collect()
    }
    assert ft[0]["_status"] == "OK" and ft[0]["luma_mean_milli"] is not None
    assert ft[1]["_status"] == "ERROR" and ft[1]["kind"] is None
    assert ft[2]["_error"].startswith("extract_media_features:")


def test_phash_clone_recall_and_separation(spark):
    """pHash near-dup: every cross-container re-encode of the same
    pixels (PNG<->JPEG-q75<->BMP) must collide at hamming<=3 and no
    distinct-image pair may appear — recall 1.0 AND precision 1.0 on
    the planted clone groups."""
    from quanta_contrib.operators.dedup import phash_near_dup_pairs
    from quanta_contrib.operators.multimodal import textured_media_from_documents

    docs = spark.range(60).select(F.col("id").alias("doc_id"))
    media = textured_media_from_documents(docs)
    got = {
        (r["doc_a"], r["doc_b"])
        for r in phash_near_dup_pairs(media, max_hamming=3).collect()
    }
    want = set()
    for d in range(60):
        if d % 5 == 0:
            want.add((d, d + 500000))
        if d % 10 == 0:
            want.add((d, d + 600000))
            want.add((d + 500000, d + 600000))
    assert got == want


def test_phash_images_nonstrict_corrupt_blob(spark):
    from quanta_contrib.operators.multimodal import phash_images

    gray = np.full((16, 16, 3), 128, dtype=np.uint8)
    rows = [
        (0, bytearray(encode_bmp(gray))),
        (1, bytearray(b"\x00\x01\x02\x03junk")),
    ]
    df = spark.createDataFrame(rows, "media_id long, payload binary")
    got = {r["media_id"]: r for r in phash_images(df, strict=False).collect()}
    assert got[0]["_status"] == "OK" and got[0]["c0"] is not None
    assert got[1]["_status"] == "ERROR" and got[1]["c0"] is None
    with pytest.raises(Exception):
        phash_images(df).collect()  # strict default raises


def test_audio_fingerprint_clone_recall_and_separation(spark):
    """Audio near-dup: every codec re-encode / pad of the same samples
    (PCM16<->ADPCM<->trailing-silence) must collide at hamming<=3 and
    no distinct-clip pair may appear — recall 1.0 AND precision 1.0 on
    the planted clone groups."""
    from quanta_contrib.operators.dedup import audio_near_dup_pairs
    from quanta_contrib.operators.multimodal import tonal_media_from_documents

    docs = spark.range(60).select(F.col("id").alias("doc_id"))
    media = tonal_media_from_documents(docs)
    got = {
        (r["doc_a"], r["doc_b"])
        for r in audio_near_dup_pairs(media, max_hamming=3).collect()
    }
    want = set()
    for d in range(60):
        if d % 5 == 0:
            want.add((d, d + 500000))
        if d % 10 == 0:
            want.add((d, d + 600000))
            want.add((d + 500000, d + 600000))
    assert got == want


def test_audio_fingerprint_nonstrict_corrupt_blob(spark):
    from quanta_contrib.operators.codecs import encode_wav
    from quanta_contrib.operators.multimodal import audio_fingerprint, tonal_pattern

    rows = [
        (0, bytearray(encode_wav(tonal_pattern(1)))),
        (1, bytearray(b"RIFFjunkWAVEgarbage")),
    ]
    df = spark.createDataFrame(rows, "media_id long, payload binary")
    got = {r["media_id"]: r for r in audio_fingerprint(df, strict=False).collect()}
    assert got[0]["_status"] == "OK" and got[0]["c0"] is not None
    assert got[1]["_status"] == "ERROR" and got[1]["c0"] is None
    assert got[1]["_error"].startswith("audio_fingerprint:")
    with pytest.raises(Exception):
        audio_fingerprint(df).collect()  # strict default raises


def test_video_fingerprint_clone_recall_and_separation(spark):
    """Video near-dup: every MJPEG-q75 re-encode and frame-doubled
    temporal resample of the same frames must collide at hamming<=3
    and no distinct-video pair may appear — recall 1.0 AND precision
    1.0 on the planted clone groups."""
    from quanta_contrib.operators.dedup import video_near_dup_pairs
    from quanta_contrib.operators.multimodal import moving_media_from_documents

    docs = spark.range(60).select(F.col("id").alias("doc_id"))
    media = moving_media_from_documents(docs)
    got = {
        (r["doc_a"], r["doc_b"])
        for r in video_near_dup_pairs(media, max_hamming=3).collect()
    }
    want = set()
    for d in range(60):
        if d % 5 == 0:
            want.add((d, d + 500000))
        if d % 10 == 0:
            want.add((d, d + 600000))
            want.add((d + 500000, d + 600000))
    assert got == want


def test_video_fingerprint_majority_vote_is_exercised(spark):
    """The fixture's per-frame noise must actually DRIFT individual
    frame hashes (else the vote degenerates to frame 0's pHash) while
    the voted signature stays stable across both clone containers."""
    from quanta_contrib.operators.multimodal import _dct_mat, _phash_one, moving_pattern

    dct32 = _dct_mat(32)
    fr = moving_pattern(3)
    hashes = []
    for f in range(len(fr)):
        px = fr[f].astype(np.float64)
        g = 0.299 * px[..., 0] + 0.587 * px[..., 1] + 0.114 * px[..., 2]
        hashes.append(_phash_one(g, dct32))
    drift = max(bin(hashes[0] ^ h).count("1") for h in hashes)
    assert drift >= 1, "per-frame noise flips no bits; vote untested"


def test_video_fingerprint_nonstrict_corrupt_blob(spark):
    from quanta_contrib.operators.codecs import encode_qvid
    from quanta_contrib.operators.multimodal import moving_pattern, video_fingerprint

    rows = [
        (0, bytearray(encode_qvid(moving_pattern(1), fps=30))),
        (1, bytearray(b"QVIDgarbage-not-a-real-header")),
        (2, bytearray(b"\x00\x01unknown-magic")),
    ]
    df = spark.createDataFrame(rows, "media_id long, payload binary")
    got = {r["media_id"]: r for r in video_fingerprint(df, strict=False).collect()}
    assert got[0]["_status"] == "OK" and got[0]["c0"] is not None
    assert got[1]["_status"] == "ERROR" and got[1]["c0"] is None
    assert got[2]["_status"] == "ERROR"
    assert got[2]["_error"].startswith("video_fingerprint:")
    with pytest.raises(Exception):
        video_fingerprint(df).collect()  # strict default raises
