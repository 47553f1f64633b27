"""Multimodal tests: schema contract, mapInPandas batch shapes,
determinism, 1->N frame fan-out, and the REAL decode path (pure-numpy
PPM/BMP -> pixel features -> resize kernel)."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from g1_etl_spark.operators import multimodal as M
from tests.conftest import SF_SMOKE


def _media(spark):
    docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
    return M.media_from_documents(docs)


def test_media_schema_contract(spark):
    m = _media(spark)
    assert dict(m.dtypes)["content"] == "binary"
    assert "struct" in dict(m.dtypes)["meta"]
    row = m.filter(F.col("media_id") == 0).collect()[0]
    assert row["meta"]["n_bytes"] == len(row["content"])
    assert row["kind"] in ("image", "audio", "video")


def test_feature_extraction_deterministic(spark):
    m = _media(spark).limit(50)
    a = {r["media_id"]: r["features"]
         for r in M.extract_features(m).collect()}
    b = {r["media_id"]: r["features"]
         for r in M.extract_features(m).collect()}
    assert a == b
    for mid, feats in a.items():
        assert len(feats) == M.FEATURE_DIM
        assert abs(sum(feats) - 1.0) < 1e-9  # L1-normalized


def test_feature_matches_local_numpy(spark):
    m = _media(spark).filter(F.col("media_id") == 1)
    row = m.collect()[0]
    spark_feats = M.extract_features(m).collect()[0]["features"]
    local = M.byte_histogram(bytes(row["content"]))
    assert np.allclose(spark_feats, local)


def test_frame_sampling_fanout(spark):
    m = _media(spark)
    frames = M.sample_frames(m, frame_size=64, every_k=4)
    out = frames.collect()
    assert out, "expected at least one sampled frame"
    vids = {r["media_id"] for r in m.filter(
        F.col("kind") == "video").collect()}
    assert {r["media_id"] for r in out} <= vids
    for r in out:
        assert r["frame_index"] % 4 == 0
        assert len(r["frame_bytes"]) == 64


def test_resize_stub_passthrough(spark):
    m = _media(spark).limit(10)
    out = M.resize_media(m, 224, 224)
    rows = out.collect()
    orig = {r["media_id"]: bytes(r["content"]) for r in m.collect()}
    for r in rows:
        assert r["width"] == 224 and r["height"] == 224
        assert bytes(r["content"]) == orig[r["media_id"]]


def _checker(w=8, h=6):
    """Deterministic RGB checkerboard."""
    y, x = np.mgrid[0:h, 0:w]
    r = ((x + y) % 2) * 255
    return np.stack([r, 255 - r, np.full_like(r, 7)], axis=-1).astype(np.uint8)


def test_ppm_bmp_roundtrip():
    img = _checker()
    assert np.array_equal(M.decode_ppm(M.encode_ppm(img)), img)
    assert np.array_equal(M.decode_bmp(M.encode_bmp(img)), img)
    # decode_image sniffs the magic for both
    assert np.array_equal(M.decode_image(M.encode_ppm(img)), img)
    assert np.array_equal(M.decode_image(M.encode_bmp(img)), img)


def test_pixel_features_from_decoded_blobs(spark):
    """End-to-end: binary image column -> mapInPandas -> decode actual
    pixels -> pixel features (not byte histograms)."""
    img = _checker(16, 12)
    rows = [(1, "image", bytearray(M.encode_ppm(img)), None),
            (2, "image", bytearray(M.encode_bmp(img)), None),
            (3, "image", bytearray(b"\x89PNG not decodable"), None)]
    m = spark.createDataFrame(rows, M.MEDIA_SCHEMA)
    out = {r["media_id"]: r for r in M.extract_features(m).collect()}
    assert out[1]["feature_src"] == out[2]["feature_src"] == "pixels"
    assert out[3]["feature_src"] == "bytes"
    # PPM and BMP carry identical pixels -> identical pixel features
    assert out[1]["features"] == out[2]["features"]
    assert np.allclose(out[1]["features"], M.pixel_features(img))


def test_resize_real_kernel(spark):
    img = _checker(32, 24)
    m = spark.createDataFrame(
        [(1, "image", bytearray(M.encode_ppm(img)), None)], M.MEDIA_SCHEMA)
    out = M.resize_media(m, 8, 8).collect()[0]
    assert out["resized"] is True
    resized = M.decode_ppm(bytes(out["content"]))
    assert resized.shape == (8, 8, 3)
    assert np.array_equal(resized, M.resize_nearest(img, 8, 8))


def test_decode_image_is_stubbed():
    try:
        import PIL  # noqa: F401
        pytest.skip("PIL present; stub not exercised")
    except ImportError:
        pass
    with pytest.raises(NotImplementedError):
        M.decode_image(b"\x89PNG\r\n")


def test_wav_roundtrip_and_signal_features():
    """A 440 Hz sine decodes back bit-close and yields the physically
    expected signal features (ZCR ~ 2f/sr, centroid ~ 440 Hz)."""
    import numpy as np

    from g1_etl_spark.operators import multimodal as M

    sr = 16000
    t = np.arange(sr) / sr  # 1 second
    sine = 0.5 * np.sin(2 * np.pi * 440.0 * t)
    blob = M.encode_wav(sine, sr)
    samples, rate = M.decode_wav(blob)
    assert rate == sr and len(samples) == sr
    assert np.max(np.abs(samples - sine)) < 1e-3  # 16-bit quantization

    f = M.audio_features(samples, rate)
    assert len(f) == M.FEATURE_DIM
    assert abs(f[0] - 1.0 / 60.0) < 1e-9            # duration
    assert abs(f[1] - 0.5 / np.sqrt(2)) < 1e-3      # RMS of 0.5 sine
    assert abs(f[2] - 2 * 440.0 / sr) < 1e-3        # zero-crossing rate
    assert abs(f[3] * (sr / 2) - 440.0) < 5.0       # spectral centroid


def test_wav_stereo_averages_channels():
    import numpy as np
    import struct

    from g1_etl_spark.operators import multimodal as M

    # build a 2-channel WAV by hand: L = +0.5, R = -0.5 -> mono 0
    pcm = np.tile(np.array([0.5 * 32767, -0.5 * 32767], dtype="<i2"), 100)
    data = pcm.tobytes()
    fmt = b"fmt " + struct.pack("<IHHIIHH", 16, 1, 2, 8000, 32000, 4, 16)
    chunk = b"data" + struct.pack("<I", len(data)) + data
    blob = (b"RIFF" + struct.pack("<I", 4 + len(fmt) + len(chunk))
            + b"WAVE" + fmt + chunk)
    samples, rate = M.decode_wav(blob)
    assert rate == 8000 and len(samples) == 100
    assert np.max(np.abs(samples)) < 1e-4


def test_signal_features_through_map_in_pandas(spark):
    """Audio rows carrying real WAV bytes take the signal path inside
    the Arrow-batched operator; non-WAV audio falls back to bytes."""
    import numpy as np

    from g1_etl_spark.operators import multimodal as M

    sr = 8000
    t = np.arange(sr // 2) / sr
    wav = M.encode_wav(0.3 * np.sin(2 * np.pi * 220.0 * t), sr)
    rows = [
        (1, "audio", bytearray(wav), None),
        (2, "audio", bytearray(b"not a wav"), None),
    ]
    media = spark.createDataFrame(rows, M.MEDIA_SCHEMA)
    out = {r["media_id"]: r for r in M.extract_features(media).collect()}
    assert out[1]["feature_src"] == "signal"
    assert out[2]["feature_src"] == "bytes"
    expect = M.audio_features(*M.decode_wav(wav))
    assert np.allclose(out[1]["features"], expect)


def test_image_neardup_pairs_finds_noisy_copies(spark):
    import numpy as np

    from g1_etl_spark.operators.multimodal import (MEDIA_SCHEMA,
                                                   encode_ppm,
                                                   image_neardup_pairs)

    rng = np.random.default_rng(7)
    base_a = rng.integers(0, 255, (12, 12, 3)).astype(np.uint8)
    noisy_a = np.clip(base_a.astype(int)
                      + rng.integers(-2, 3, base_a.shape), 0, 255
                      ).astype(np.uint8)
    base_b = rng.integers(0, 255, (12, 12, 3)).astype(np.uint8)
    gradient = np.tile(np.arange(144).reshape(12, 12, 1) % 256,
                       (1, 1, 3)).astype(np.uint8)
    rows = [
        (1, "image", encode_ppm(base_a), None),
        (2, "image", encode_ppm(noisy_a), None),
        (3, "image", encode_ppm(base_b), None),
        (4, "image", encode_ppm(gradient), None),
    ]
    media = spark.createDataFrame(rows, MEDIA_SCHEMA)
    pairs = {(r["d1"], r["d2"]): r["score"]
             for r in image_neardup_pairs(media, threshold=0.999).collect()}
    assert (1, 2) in pairs and pairs[(1, 2)] > 0.999
    assert all({d1, d2} == {1, 2} or d1 == d2
               for d1, d2 in pairs) or len(pairs) == 1


# ---------------------------------------------------------------- PNG


def _png_forward_filter(arr: np.ndarray, ftype: int) -> bytes:
    """Sequential reference ENCODER for PNG filter types 0-4 (spec
    §4.5.4) — builds the filtered scanline stream so the decoder's
    defilter path is tested against an independent implementation."""
    arr = np.ascontiguousarray(arr, dtype=np.uint8)
    h, w, ch = arr.shape
    stride = w * ch
    flat = arr.reshape(h, stride).astype(int)
    out = bytearray()
    for y in range(h):
        out.append(ftype)
        for x in range(stride):
            raw = flat[y, x]
            a = flat[y, x - ch] if x >= ch else 0
            b = flat[y - 1, x] if y > 0 else 0
            c = flat[y - 1, x - ch] if (x >= ch and y > 0) else 0
            if ftype == 0:
                pred = 0
            elif ftype == 1:
                pred = a
            elif ftype == 2:
                pred = b
            elif ftype == 3:
                pred = (a + b) >> 1
            else:
                p = a + b - c
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                pred = a if pa <= pb and pa <= pc else (b if pb <= pc else c)
            out.append((raw - pred) & 0xFF)
    return bytes(out)


def _wrap_idat(arr: np.ndarray, raw: bytes) -> bytes:
    """Assemble a PNG around an externally-filtered scanline stream."""
    import struct
    import zlib

    h, w, ch = arr.shape
    color = {1: 0, 3: 2, 4: 6}[ch]

    def chunk(tag, data):
        return (struct.pack(">I", len(data)) + tag + data
                + struct.pack(">I", zlib.crc32(tag + data)))

    ihdr = struct.pack(">IIBBBBB", w, h, 8, color, 0, 0, 0)
    return (M._PNG_SIG + chunk(b"IHDR", ihdr)
            + chunk(b"IDAT", zlib.compress(raw, 6)) + chunk(b"IEND", b""))


def test_png_roundtrip_rgb():
    img = _checker(16, 12)
    assert np.array_equal(M.decode_png(M.encode_png(img)), img)
    assert np.array_equal(M.decode_image(M.encode_png(img)), img)


def test_png_roundtrip_gray_and_rgba():
    rng = np.random.default_rng(7)
    gray = rng.integers(0, 256, (9, 5), dtype=np.uint8)
    out = M.decode_png(M.encode_png(gray))
    assert out.shape == (9, 5, 3)  # expanded to 3 channels
    assert np.array_equal(out[:, :, 0], gray)
    assert np.array_equal(out[:, :, 1], gray)
    rgba = rng.integers(0, 256, (7, 11, 4), dtype=np.uint8)
    out = M.decode_png(M.encode_png(rgba))
    assert np.array_equal(out, rgba[:, :, :3])  # alpha dropped


@pytest.mark.parametrize("ftype", [0, 1, 2, 3, 4])
def test_png_all_five_filters_defilter(ftype):
    rng = np.random.default_rng(ftype + 100)
    img = rng.integers(0, 256, (6, 7, 3), dtype=np.uint8)
    png = _wrap_idat(img, _png_forward_filter(img, ftype))
    assert np.array_equal(M.decode_png(png), img)


def test_png_property_roundtrip():
    from hypothesis import given, settings
    from hypothesis import strategies as st

    @settings(max_examples=25, deadline=None)
    @given(st.integers(1, 12), st.integers(1, 12), st.integers(0, 4),
           st.integers(0, 2 ** 31 - 1))
    def check(h, w, ftype, seed):
        rng = np.random.default_rng(seed)
        img = rng.integers(0, 256, (h, w, 3), dtype=np.uint8)
        assert np.array_equal(M.decode_png(M.encode_png(img)), img)
        png = _wrap_idat(img, _png_forward_filter(img, ftype))
        assert np.array_equal(M.decode_png(png), img)

    check()


def test_png_tile_length_constant():
    # the multimodal_features oracle hard-codes n_bytes=268 for PNG
    # rows; that only holds at zlib level 0 with an 8x8 RGB raster
    rng = np.random.default_rng(3)
    t = M.PNG_TILE
    img = rng.integers(0, 256, (t, t, 3), dtype=np.uint8)
    assert len(M.encode_png(img)) == M.PNG_TILE_BYTES


def test_png_rejects_unsupported():
    with pytest.raises(ValueError):
        M.decode_png(b"\x89PNG\r\n\x1a\nnot really")
    # corrupt IDAT must surface as ValueError (the decode-fallback
    # contract: extract_features catches it and falls back to bytes)
    good = bytearray(M.encode_png(_checker(4, 4)))
    idat = bytes(good).index(b"IDAT")
    corrupt = bytes(good[:idat + 4]) + b"\xff\xff\xff\xff" \
        + bytes(good[idat + 8:])
    with pytest.raises(ValueError):
        M.decode_png(corrupt)
    # truncated signature falls through to the codec-library error
    try:
        import PIL  # noqa: F401
        pytest.skip("PIL present; stub path not exercised")
    except ImportError:
        pass
    with pytest.raises(NotImplementedError):
        M.decode_image(b"\x89PNG\r\n")


def test_corrupt_png_falls_back_to_byte_histogram(spark):
    """One malformed PNG blob must NOT crash the mapInPandas task —
    the row takes the byte-histogram path (feature_src='bytes')."""
    sig = b"\x89PNG\r\n\x1a\n"
    rows = [(1, "image", bytearray(M.encode_png(_checker(8, 8))), None),
            (2, "image", bytearray(sig + b"\x00" * 40), None)]
    m = spark.createDataFrame(rows, M.MEDIA_SCHEMA)
    out = {r["media_id"]: r for r in M.extract_features(m).collect()}
    assert out[1]["feature_src"] == "pixels"
    assert out[2]["feature_src"] == "bytes"


def test_media_with_png_end_to_end(spark):
    docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
    media = M.media_with_png(docs)
    feats = M.extract_features(media).collect()
    by_id = {r["media_id"]: r for r in feats}
    png_ids = [i for i in by_id if i % 21 == 0]
    assert png_ids, "corpus has no media_id % 21 == 0 rows"
    texts = {r["doc_id"]: r["text"] for r in docs.collect()}
    n_px = M.PNG_TILE * M.PNG_TILE * 3
    for mid in png_ids:
        row = by_id[mid]
        assert row["feature_src"] == "pixels"
        assert row["n_bytes"] == M.PNG_TILE_BYTES
        raster = np.zeros(n_px, dtype=np.uint8)
        take = texts[mid].encode("utf-8")[:n_px]
        raster[:len(take)] = np.frombuffer(take, np.uint8)
        img = raster.reshape(M.PNG_TILE, M.PNG_TILE, 3)
        assert np.allclose(row["features"],
                           M.pixel_features(img), atol=0, rtol=0)
    # non-PNG rows keep the byte path
    other = next(i for i in by_id if i % 21 != 0)
    assert by_id[other]["feature_src"] == "bytes"


def test_png_decode_pixel_cap_raises_value_error():
    """A PNG whose header claims more than _PNG_MAX_PIXELS must be
    refused with ValueError (the decode-fallback contract), BEFORE any
    per-byte defilter work happens — one multi-megapixel blob in a
    corpus degrades to the byte-histogram path instead of stalling a
    mapInPandas task."""
    import struct
    import time
    import zlib

    w = h = 2048  # 4 MP > the 1 MP cap
    def chunk(tag, data):
        return (struct.pack(">I", len(data)) + tag + data
                + struct.pack(">I", zlib.crc32(tag + data)))
    ihdr = struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0)
    # tiny IDAT: the guard must fire on the HEADER, not after inflating
    png = (M._PNG_SIG + chunk(b"IHDR", ihdr)
           + chunk(b"IDAT", zlib.compress(b"\x00"))
           + chunk(b"IEND", b""))
    t0 = time.perf_counter()
    with pytest.raises(ValueError, match="pixel"):
        M.decode_png(png)
    assert time.perf_counter() - t0 < 1.0, "guard must fire up front"


def test_png_raster_prefix_must_be_ascii(spark):
    """media_with_png byte-rasterizes the text prefix while the oracle
    counts characters via substr/ord; a non-ASCII prefix on a
    PNG-designated row must fail loudly, not hash-mismatch later."""
    docs = spark.createDataFrame(
        [(0, "café " * 40, "s")], "doc_id long, text string, src string")
    m = M.media_with_png(docs)
    with pytest.raises(Exception, match="non-ASCII"):
        m.filter(F.col("media_id") == 0).collect()


def test_fixture_corpus_png_prefixes_are_ascii(spark):
    """The driver corpus itself must keep PNG-row prefixes pure ASCII
    for the multimodal_features oracle to stay exact (this is the
    loud-failure twin of the operator guard, at the data level)."""
    from g1_etl_spark.catalog import load_table

    n_px = M.PNG_TILE * M.PNG_TILE * 3
    docs = load_table(spark, SF_SMOKE, "documents")
    bad = (docs.filter((F.col("doc_id") % 21 == 0))
           .select(F.substring("text", 1, n_px).alias("p"))
           .filter(~F.col("p").rlike("^[\\x00-\\x7F]*$"))
           .count())
    assert bad == 0


# ---------------------------------------------------------------- pHash

def test_phash64_deterministic_and_container_invariant():
    import numpy as np

    from g1_etl_spark.operators import multimodal as M

    rng = np.random.default_rng(11)
    img = rng.integers(0, 255, (24, 24, 3)).astype(np.uint8)
    h1 = M.phash64(img)
    assert h1 == M.phash64(img)
    assert -(1 << 63) <= h1 < (1 << 63)
    # same raster through three containers -> same hash
    assert M.phash64(M.decode_ppm(M.encode_ppm(img))) == h1
    assert M.phash64(M.decode_bmp(M.encode_bmp(img))) == h1
    assert M.phash64(M.decode_png(M.encode_png(img))) == h1


def _dense_spectrum_image():
    """Cosine-mixture test image: a DENSE low-frequency spectrum keeps
    every hash bit's coefficient well away from the median, so noise
    robustness is actually exercised. (A blocky synthetic gradient has
    most DCT coefficients exactly 0 = the median, making its bits pure
    noise — the documented flat-spectrum caveat, not a hash bug.)"""
    import numpy as np

    y, x = np.mgrid[0:64, 0:64]
    base = (96 + 40 * np.cos(2 * np.pi * y / 64)
            + 30 * np.cos(2 * np.pi * x / 32)
            + 20 * np.cos(2 * np.pi * (x + y) / 48)
            + 12 * np.cos(2 * np.pi * x / 16)
            + 8 * np.cos(2 * np.pi * y / 12)
            + 6 * np.cos(2 * np.pi * (2 * x + y) / 40))
    img = np.clip(base, 0, 255)
    return np.repeat(img[:, :, None], 3, 2).astype(np.uint8)


def test_phash64_small_perturbation_small_hamming():
    import numpy as np

    from g1_etl_spark.operators import multimodal as M

    grad = _dense_spectrum_image()
    noisy = np.clip(grad.astype(int)
                    + np.random.default_rng(3).integers(
                        -2, 3, grad.shape), 0, 255).astype(np.uint8)
    other = (255 - grad).astype(np.uint8)  # inverted: sign-flipped coefs

    def hamming(a, b):
        return bin((a ^ b) & ((1 << 64) - 1)).count("1")

    assert hamming(M.phash64(grad), M.phash64(noisy)) <= 6
    assert hamming(M.phash64(grad), M.phash64(other)) > 10


def test_phash_pairs_finds_planted_duplicates(spark):
    import numpy as np

    from g1_etl_spark.operators import multimodal as M

    rng = np.random.default_rng(5)
    grad = _dense_spectrum_image()
    noisy = np.clip(grad.astype(int) + rng.integers(-2, 3, grad.shape),
                    0, 255).astype(np.uint8)
    distinct = [rng.integers(0, 255, (16, 16, 3)).astype(np.uint8)
                for _ in range(4)]
    rows = [(1, "image", M.encode_ppm(grad), None),
            (2, "image", M.encode_png(grad), None),   # byte-different twin
            (3, "image", M.encode_ppm(noisy), None),
            (9, "audio", b"not an image", None),
            (10, "image", b"undecodable", None)]
    rows += [(20 + i, "image", M.encode_ppm(d), None)
             for i, d in enumerate(distinct)]
    media = spark.createDataFrame(rows, M.MEDIA_SCHEMA)

    hashes = {r["media_id"]: r for r in M.image_phash(media).collect()}
    assert hashes[10]["decoded"] is False
    assert 9 not in hashes  # non-image rows skipped
    assert hashes[1]["phash"] == hashes[2]["phash"]

    pairs = {(r["d1"], r["d2"]): r["hamming"]
             for r in M.phash_pairs(media).collect()}
    assert pairs[(1, 2)] == 0        # same pixels, different container
    assert pairs[(1, 3)] <= 6        # noisy copy within the bound
    assert pairs[(2, 3)] <= 6
    for (d1, d2) in pairs:
        assert {d1, d2} <= {1, 2, 3}, (d1, d2)  # no random-pair leakage
