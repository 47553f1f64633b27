"""Multimodal column plumbing — image/audio/video as opaque `binary`
columns with typed metadata (superset scope; BASELINE.json north star).

The Spark-side machinery is REAL and tested: schema contract, Arrow-batch
Pandas UDF signatures, `mapInPandas` partition-iterator plumbing, batch
shaping, and deterministic feature extraction. Image DECODE is real for
uncompressed formats — PPM (P6) and 24-bit BMP decode/encode with pure
numpy, feeding pixel features and a real nearest-neighbor resize kernel
end-to-end. PNG (bit depth 8; gray/RGB/RGBA; all five scanline filters)
decodes with stdlib zlib + numpy — a genuinely compressed format with
no codec dependency. Audio DECODE is real for 16-bit PCM RIFF/WAVE
(chunk-walking parser, stereo downmix), feeding signal features (RMS /
zero-crossing / spectral centroid+rolloff via rfft). Baseline
sequential JPEG decodes natively too (operators/jpeg.py — huffman
entropy decode, dequant+IDCT, chroma subsampling, restart markers).
Formats that still need a real codec library (progressive JPEG, MP3 —
absent in this container) raise NotImplementedError; the
byte-histogram path stands in for non-decodable content.

Scale notes: media blobs ride the same partitioning as any fact table;
mapInPandas streams Arrow batches so a 100 MB image row never requires
collecting a partition; feature extraction is embarrassingly parallel.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

MEDIA_SCHEMA = T.StructType([
    T.StructField("media_id", T.LongType(), False),
    T.StructField("kind", T.StringType(), False),        # image|audio|video
    T.StructField("content", T.BinaryType(), True),      # opaque bytes
    T.StructField("meta", T.StructType([
        T.StructField("mime", T.StringType(), True),
        T.StructField("width", T.IntegerType(), True),
        T.StructField("height", T.IntegerType(), True),
        T.StructField("duration_ms", T.LongType(), True),
        T.StructField("n_bytes", T.LongType(), True),
    ]), True),
])

FEATURE_DIM = 16  # byte-histogram buckets

_FEATURES_SCHEMA = ("media_id long, kind string, n_bytes long, "
                    "features array<double>, feature_src string")
_FRAMES_SCHEMA = ("media_id long, frame_index int, frame_bytes binary")


def media_from_documents(docs: DataFrame) -> DataFrame:
    """Build a media table from the documents corpus: content = utf-8
    bytes of the text (deterministic stand-in blobs), metadata typed."""
    return docs.select(
        F.col("doc_id").alias("media_id"),
        F.element_at(F.array(F.lit("image"), F.lit("audio"), F.lit("video")),
                     (F.col("doc_id") % 3 + 1).cast("int")).alias("kind"),
        F.encode("text", "utf-8").alias("content"),
        F.struct(
            F.lit("application/octet-stream").alias("mime"),
            F.lit(None).cast("int").alias("width"),
            F.lit(None).cast("int").alias("height"),
            F.lit(None).cast("long").alias("duration_ms"),
            F.length(F.encode("text", "utf-8")).cast("long").alias("n_bytes"),
        ).alias("meta"),
    )


PNG_TILE = 8  # media_with_png raster is PNG_TILE x PNG_TILE x 3
# PNG byte length for an 8x8 RGB tile at zlib level 0 (stored blocks):
# 8 sig + 25 IHDR + 12+ (200 raw + 5 stored-block hdr + 2 zlib hdr +
# 4 adler) IDAT + 12 IEND — a pure function of the dimensions, which
# is what lets the multimodal_features oracle state n_bytes exactly.
PNG_TILE_BYTES = 268


def media_with_png(docs: DataFrame, every: int = 21) -> DataFrame:
    """media_from_documents, with every `every`-th media_id re-encoded
    as a REAL PNG (image rows only; media_id % 21 == 0 hits the image
    kind, since kind cycles media_id % 3 and 21 % 3 == 0): the raster
    is the first PNG_TILE^2*3 utf-8 bytes of the text, zero-padded,
    reshaped (PNG_TILE, PNG_TILE, 3), encoded at zlib level 0. Pixel
    values are therefore an exact, SQL-expressible function of the
    text — the oracle recomputes channel means via ord() — while the
    bytes themselves travel a genuine compressed container through the
    real decode path (feature_src flips to 'pixels')."""
    n_px = PNG_TILE * PNG_TILE * 3

    def op(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            content = []
            for mid, kind, blob in zip(pdf["media_id"], pdf["kind"],
                                       pdf["content"]):
                blob = bytes(blob or b"")
                if kind == "image" and mid % every == 0:
                    raster = np.zeros(n_px, dtype=np.uint8)
                    take = blob[:n_px]
                    if any(b >= 0x80 for b in take):
                        # the multimodal_features oracle recomputes
                        # pixel means with substr/ord, which count
                        # CHARACTERS; this raster takes BYTES. The two
                        # agree only while the prefix is pure ASCII —
                        # fail loudly on a corpus change rather than
                        # produce a confusing driver hash mismatch.
                        raise ValueError(
                            f"media_id {mid}: non-ASCII byte in the "
                            "PNG raster prefix; the substr/ord oracle "
                            "no longer matches byte rasterization")
                    raster[:len(take)] = np.frombuffer(take, np.uint8)
                    blob = encode_png(
                        raster.reshape(PNG_TILE, PNG_TILE, 3))
                content.append(blob)
            out = pdf.copy()
            out["content"] = content
            # meta.n_bytes is stamped from the ORIGINAL text by
            # media_from_documents; the features stage recomputes
            # n_bytes from the actual content, so no fixup needed here
            yield out

    return media_from_documents(docs).mapInPandas(op, schema=MEDIA_SCHEMA)


def encode_ppm(arr: np.ndarray) -> bytes:
    """Encode an (h, w, 3) uint8 array as binary PPM (P6) — the simplest
    real image format; lets the decode path be exercised end-to-end with
    no codec library."""
    arr = np.ascontiguousarray(arr, dtype=np.uint8)
    h, w, c = arr.shape
    if c != 3:
        raise ValueError("PPM P6 requires 3 channels")
    return f"P6\n{w} {h}\n255\n".encode("ascii") + arr.tobytes()


def decode_ppm(content: bytes) -> np.ndarray:
    """Pure-numpy binary-PPM (P6) decoder -> (h, w, 3) uint8."""
    if content[:2] != b"P6":
        raise ValueError("not a P6 PPM")
    # header = magic, width, height, maxval as whitespace-separated
    # tokens (comments '#...' allowed), then a single whitespace byte
    # before the raster
    pos, fields = 2, []
    while len(fields) < 3:
        while pos < len(content) and content[pos:pos + 1].isspace():
            pos += 1
        if content[pos:pos + 1] == b"#":
            pos = content.index(b"\n", pos) + 1
            continue
        start = pos
        while pos < len(content) and not content[pos:pos + 1].isspace():
            pos += 1
        fields.append(int(content[start:pos]))
    pos += 1  # the single whitespace after maxval
    w, h, maxval = fields
    if maxval != 255:
        raise ValueError("only maxval=255 PPM supported")
    raster = np.frombuffer(content, dtype=np.uint8, count=w * h * 3,
                           offset=pos)
    return raster.reshape(h, w, 3).copy()


def encode_bmp(arr: np.ndarray) -> bytes:
    """Encode an (h, w, 3) uint8 array as an uncompressed 24-bit BMP
    (BITMAPINFOHEADER, bottom-up, BGR, 4-byte row padding)."""
    import struct

    arr = np.ascontiguousarray(arr, dtype=np.uint8)
    h, w, c = arr.shape
    if c != 3:
        raise ValueError("24-bit BMP requires 3 channels")
    row = w * 3
    pad = (-row) % 4
    body = b"".join(
        arr[y, :, ::-1].tobytes() + b"\x00" * pad  # RGB->BGR, bottom-up
        for y in range(h - 1, -1, -1))
    info = struct.pack("<IiiHHIIiiII", 40, w, h, 1, 24, 0, len(body),
                       2835, 2835, 0, 0)
    header = struct.pack("<2sIHHI", b"BM", 14 + 40 + len(body), 0, 0, 54)
    return header + info + body


def decode_bmp(content: bytes) -> np.ndarray:
    """Pure-numpy decoder for uncompressed 24-bit BMP -> (h, w, 3) uint8."""
    import struct

    if content[:2] != b"BM":
        raise ValueError("not a BMP")
    offset = struct.unpack_from("<I", content, 10)[0]
    hdr_size, w, h = struct.unpack_from("<Iii", content, 14)
    planes, bpp, compression = struct.unpack_from("<HHI", content, 26)
    if bpp != 24 or compression != 0:
        raise ValueError("only uncompressed 24-bit BMP supported")
    bottom_up = h > 0
    h = abs(h)
    stride = (w * 3 + 3) & ~3
    rows = np.frombuffer(content, dtype=np.uint8, count=stride * h,
                         offset=offset).reshape(h, stride)
    img = rows[:, :w * 3].reshape(h, w, 3)[:, :, ::-1]  # BGR->RGB
    if bottom_up:
        img = img[::-1]
    return img.copy()


_PNG_SIG = b"\x89PNG\r\n\x1a\n"
# decode_png defilters Average/Paeth rows with a per-byte python loop
# (~us/byte); 1 MP caps the worst case at a few seconds per blob, far
# below anything that could stall a mapInPandas task for minutes
_PNG_MAX_PIXELS = 1 << 20


def encode_png(arr: np.ndarray, compress_level: int = 0) -> bytes:
    """Encode a (h, w[, c]) uint8 array as PNG — stdlib zlib + struct,
    no codec library. Grayscale (c=1/2-D), RGB (c=3) and RGBA (c=4)
    at bit depth 8, filter type 0 per scanline. compress_level=0
    (stored deflate blocks) makes the output LENGTH a pure function of
    the dimensions — the multimodal_features oracle relies on that."""
    import struct
    import zlib

    arr = np.ascontiguousarray(arr, dtype=np.uint8)
    if arr.ndim == 2:
        arr = arr[:, :, None]
    h, w, c = arr.shape
    color = {1: 0, 3: 2, 4: 6}[c]

    def chunk(tag: bytes, data: bytes) -> bytes:
        return (struct.pack(">I", len(data)) + tag + data
                + struct.pack(">I", zlib.crc32(tag + data)))

    ihdr = struct.pack(">IIBBBBB", w, h, 8, color, 0, 0, 0)
    raw = b"".join(b"\x00" + arr[y].tobytes() for y in range(h))
    return (_PNG_SIG + chunk(b"IHDR", ihdr)
            + chunk(b"IDAT", zlib.compress(raw, compress_level))
            + chunk(b"IEND", b""))


def decode_png(content: bytes) -> np.ndarray:
    """Pure numpy+zlib PNG decoder -> (h, w, 3) uint8.

    Supports bit depth 8, color types 0 (gray, expanded to 3ch),
    2 (RGB) and 6 (RGBA, alpha dropped), non-interlaced, with all five
    scanline filters (None/Sub/Up/Average/Paeth) per the PNG spec
    §4.5.4. Up and Sub are vectorized (Sub is a per-channel-lane prefix
    sum mod 256); Average/Paeth are inherently sequential along the row
    (each byte depends on the defiltered byte bpp positions earlier) so
    they run a per-byte loop, bounded by the _PNG_MAX_PIXELS guard —
    fine inside a mapInPandas batch where rows decode independently."""
    import struct
    import zlib

    if content[:8] != _PNG_SIG:
        raise ValueError("not a PNG")
    pos, idat, meta = 8, [], None
    while pos + 8 <= len(content):
        ln, tag = struct.unpack_from(">I4s", content, pos)
        data = content[pos + 8:pos + 8 + ln]
        if tag == b"IHDR":
            w, h, depth, color, _comp, _filt, interlace = struct.unpack(
                ">IIBBBBB", data)
            if depth != 8:
                raise ValueError("only bit-depth-8 PNG supported")
            if color not in (0, 2, 6):
                raise ValueError("only gray/RGB/RGBA PNG supported")
            if interlace:
                raise ValueError("interlaced PNG unsupported")
            meta = (w, h, color)
        elif tag == b"IDAT":
            idat.append(data)
        elif tag == b"IEND":
            break
        pos += 12 + ln
    if meta is None or not idat:
        raise ValueError("missing IHDR/IDAT chunk")
    w, h, color = meta
    if w * h > _PNG_MAX_PIXELS:
        # defiltering cost is per-byte for Average/Paeth rows: a
        # multi-megapixel real-world PNG would stall a mapInPandas task
        # for minutes. Refuse above the cap — extract_features/
        # resize_media catch ValueError and fall through to the
        # byte-histogram path, so one big blob degrades gracefully
        # instead of serializing the whole batch.
        raise ValueError(
            f"PNG {w}x{h} exceeds the {_PNG_MAX_PIXELS}-pixel decode "
            "cap for the pure-python defilter path")
    ch = {0: 1, 2: 3, 6: 4}[color]
    stride = w * ch
    try:
        raw = zlib.decompress(b"".join(idat))
    except zlib.error as exc:
        # surface corrupt IDAT as the module's standard decode failure:
        # extract_features/resize_media catch ValueError and fall
        # through to the byte-histogram path instead of crashing the
        # whole mapInPandas task on one malformed blob
        raise ValueError(f"corrupt PNG IDAT stream: {exc}") from exc
    if len(raw) != h * (1 + stride):
        raise ValueError("scanline payload size mismatch")
    out = np.zeros((h, stride), dtype=np.uint8)
    prev = np.zeros(stride, dtype=np.uint8)
    rpos = 0
    for y in range(h):
        f = raw[rpos]
        cur = np.frombuffer(raw, np.uint8, stride, rpos + 1).copy()
        rpos += 1 + stride
        if f == 0:
            pass
        elif f == 2:  # Up — uint8 addition wraps mod 256, as specified
            cur += prev
        elif f == 1:  # Sub — out[x] = cur[x] + out[x-ch] mod 256 is a
            # per-channel-lane prefix sum, so it vectorizes exactly:
            # cumsum in uint64 then truncate to the low byte
            for r in range(ch):
                cur[r::ch] = (np.cumsum(cur[r::ch], dtype=np.uint64)
                              & 0xFF).astype(np.uint8)
        elif f == 3:  # Average
            for x in range(stride):
                a = int(cur[x - ch]) if x >= ch else 0
                cur[x] = (int(cur[x]) + ((a + int(prev[x])) >> 1)) & 0xFF
        elif f == 4:  # Paeth
            for x in range(stride):
                a = int(cur[x - ch]) if x >= ch else 0
                b = int(prev[x])
                c = int(prev[x - ch]) if x >= ch else 0
                p = a + b - c
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                pred = a if pa <= pb and pa <= pc else (b if pb <= pc else c)
                cur[x] = (int(cur[x]) + pred) & 0xFF
        else:
            raise ValueError(f"bad PNG filter type {f}")
        out[y] = cur
        prev = out[y]
    img = out.reshape(h, w, ch)
    if color == 0:
        img = np.repeat(img, 3, axis=2)
    elif color == 6:
        img = img[:, :, :3]
    return img.copy()


def decode_image(content: bytes) -> np.ndarray:
    """Decode image bytes to an (h, w, 3) uint8 array.

    PPM (P6), uncompressed 24-bit BMP, bit-depth-8 PNG and baseline
    sequential JPEG (operators/jpeg.py — gray/4:4:4/4:2:2/4:2:0,
    restart intervals) decode with pure numpy + stdlib — real
    end-to-end decode paths with zero codec dependencies. Anything
    else (progressive JPEG, WebP, ...) falls through to PIL when
    importable; otherwise NotImplementedError (this container ships
    no codec library).
    """
    if content[:2] == b"P6":
        return decode_ppm(content)
    if content[:2] == b"BM":
        return decode_bmp(content)
    if content[:8] == _PNG_SIG:
        return decode_png(content)
    if content[:2] == b"\xff\xd8":
        from g1_etl_spark.operators.jpeg import decode_jpeg

        try:
            return decode_jpeg(content, max_pixels=_PNG_MAX_PIXELS)
        except ValueError as native_err:
            try:  # progressive/exotic streams: PIL when present
                import io

                from PIL import Image
            except ImportError:
                raise native_err  # ValueError: byte-path fallback
            return np.asarray(Image.open(io.BytesIO(content)))
    try:  # pragma: no cover - env-dependent
        import io

        from PIL import Image
        return np.asarray(Image.open(io.BytesIO(content)))
    except ImportError as exc:
        raise NotImplementedError(
            "unrecognized image container requires a PIL-compatible "
            "codec, not present in this environment; PPM/BMP/PNG/"
            "baseline-JPEG decode natively"
        ) from exc


def encode_wav(samples: np.ndarray, sample_rate: int = 16000) -> bytes:
    """Encode a float array in [-1, 1] as 16-bit PCM mono RIFF/WAVE —
    pure struct+numpy, no codec library."""
    import struct

    pcm = (np.clip(np.asarray(samples, dtype=np.float64), -1.0, 1.0)
           * 32767.0).astype("<i2").tobytes()
    fmt = b"fmt " + struct.pack("<IHHIIHH", 16, 1, 1, sample_rate,
                                sample_rate * 2, 2, 16)
    data = b"data" + struct.pack("<I", len(pcm)) + pcm
    return (b"RIFF" + struct.pack("<I", 4 + len(fmt) + len(data))
            + b"WAVE" + fmt + data)


def decode_wav(content: bytes) -> tuple[np.ndarray, int]:
    """Pure-numpy RIFF/WAVE decoder for 16-bit PCM -> (samples float64
    in [-1, 1] mono-averaged, sample_rate). Walks the chunk list, so
    extra chunks (LIST/INFO) before `data` are fine."""
    import struct

    if content[:4] != b"RIFF" or content[8:12] != b"WAVE":
        raise ValueError("not a RIFF/WAVE file")
    pos, rate, n_channels, bits, raw = 12, None, None, None, None
    while pos + 8 <= len(content):
        cid, sz = content[pos:pos + 4], struct.unpack_from("<I", content,
                                                           pos + 4)[0]
        body = content[pos + 8:pos + 8 + sz]
        if cid == b"fmt ":
            audio_fmt, n_channels, rate = struct.unpack_from("<HHI", body, 0)
            bits = struct.unpack_from("<H", body, 14)[0]
            if audio_fmt != 1 or bits != 16:
                raise ValueError("only 16-bit PCM WAV supported")
        elif cid == b"data":
            raw = body
        pos += 8 + sz + (sz & 1)  # chunks are word-aligned
    if rate is None or raw is None:
        raise ValueError("missing fmt/data chunk")
    samples = np.frombuffer(raw, dtype="<i2").astype(np.float64) / 32767.0
    if n_channels > 1:
        samples = samples[: len(samples) - len(samples) % n_channels]
        samples = samples.reshape(-1, n_channels).mean(axis=1)
    return samples, rate


def audio_features(samples: np.ndarray, rate: int,
                   dim: int = FEATURE_DIM) -> np.ndarray:
    """Real signal features from decoded PCM: duration, RMS, zero-
    crossing rate, spectral centroid + rolloff (rfft), then a log-power
    spectrum histogram filling the remaining dims. Deterministic."""
    if len(samples) == 0:
        return np.zeros(dim)
    dur = len(samples) / rate
    rms = float(np.sqrt(np.mean(samples ** 2)))
    zcr = float(np.mean(np.abs(np.diff(np.signbit(samples).astype(int)))))
    spec = np.abs(np.fft.rfft(samples)) ** 2
    freqs = np.fft.rfftfreq(len(samples), d=1.0 / rate)
    power = spec.sum()
    centroid = float((freqs * spec).sum() / power) if power > 0 else 0.0
    cum = np.cumsum(spec)
    roll_i = int(np.searchsorted(cum, 0.85 * power)) if power > 0 else 0
    rolloff = float(freqs[min(roll_i, len(freqs) - 1)])
    nyquist = rate / 2.0
    head = np.array([min(dur / 60.0, 1.0), rms, zcr,
                     centroid / nyquist, rolloff / nyquist])
    nbins = dim - len(head)
    hist = np.histogram(np.log1p(spec), bins=nbins)[0].astype(np.float64)
    return np.concatenate([head, hist / max(hist.sum(), 1.0)])


def byte_histogram(content: bytes, dim: int = FEATURE_DIM) -> np.ndarray:
    """L1-normalized histogram of byte values in `dim` buckets — a real,
    deterministic feature vector computable without codecs."""
    if not content:
        return np.zeros(dim)
    arr = np.frombuffer(content, dtype=np.uint8)
    hist = np.bincount(arr // (256 // dim), minlength=dim)[:dim]
    return hist / hist.sum()


def pixel_features(arr: np.ndarray, dim: int = FEATURE_DIM) -> np.ndarray:
    """Feature vector from DECODED pixels: per-channel mean+std (6 dims,
    scaled to [0,1]) followed by an L1-normalized luminance histogram
    filling the remaining dims."""
    px = arr.astype(np.float64)
    moments = np.concatenate([px.mean(axis=(0, 1)), px.std(axis=(0, 1))])
    lum = (0.299 * px[..., 0] + 0.587 * px[..., 1] + 0.114 * px[..., 2])
    nbins = dim - 6
    hist = np.histogram(lum, bins=nbins, range=(0.0, 256.0))[0]
    return np.concatenate([moments / 255.0, hist / max(hist.sum(), 1)])


def resize_nearest(arr: np.ndarray, width: int, height: int) -> np.ndarray:
    """Nearest-neighbor resample of an (h, w, c) array — the real resize
    kernel, pure numpy."""
    h, w = arr.shape[:2]
    rows = (np.arange(height) * h) // height
    cols = (np.arange(width) * w) // width
    return arr[rows][:, cols]


def extract_features(media: DataFrame) -> DataFrame:
    """mapInPandas feature extraction: Arrow batches in, one feature row
    per media item out.

    Image rows whose bytes decode natively (PPM/BMP/PNG/baseline JPEG)
    get PIXEL features
    (decode -> per-channel moments + luminance histogram); audio rows
    that parse as 16-bit PCM WAV get SIGNAL features (RMS / zero-
    crossing / spectral centroid+rolloff via rfft); everything else gets
    the codec-free byte histogram. `feature_src` records which path
    fired.
    """

    import struct

    def _one(kind: str, content: bytes) -> tuple[list, str]:
        # struct.error: a blob whose magic bytes collide with a real
        # format ("BM"/"RIFF" text) but whose header is truncated must
        # fall through to the byte histogram, not crash the batch
        if kind == "image":
            try:
                return pixel_features(decode_image(content)).tolist(), "pixels"
            except (ValueError, NotImplementedError, IndexError,
                    struct.error):
                pass
        if kind == "audio":
            try:
                return audio_features(*decode_wav(content)).tolist(), "signal"
            except (ValueError, IndexError, struct.error):
                pass
        return byte_histogram(content).tolist(), "bytes"

    def op(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            pairs = [_one(k, b or b"")
                     for k, b in zip(pdf["kind"], pdf["content"])]
            yield pd.DataFrame({
                "media_id": pdf["media_id"],
                "kind": pdf["kind"],
                "n_bytes": [len(b or b"") for b in pdf["content"]],
                "features": [p[0] for p in pairs],
                "feature_src": [p[1] for p in pairs],
            })

    return media.mapInPandas(op, schema=_FEATURES_SCHEMA)


def sample_frames(media: DataFrame, frame_size: int = 64,
                  every_k: int = 4) -> DataFrame:
    """Frame sampling plumbing: treat content as fixed-size frames,
    emit every k-th (what a video sampler does post-decode). One input
    row fans out to many output rows — mapInPandas handles the 1->N
    shape change."""

    def op(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, idxs, frames = [], [], []
            for mid, content in zip(pdf["media_id"], pdf["content"]):
                content = content or b""
                n_frames = len(content) // frame_size
                for fi in range(0, n_frames, every_k):
                    ids.append(mid)
                    idxs.append(fi)
                    frames.append(
                        content[fi * frame_size:(fi + 1) * frame_size])
            yield pd.DataFrame({"media_id": ids, "frame_index": idxs,
                                "frame_bytes": frames})

    return media.filter(F.col("kind") == "video").mapInPandas(
        op, schema=_FRAMES_SCHEMA)


def resize_media(media: DataFrame, width: int, height: int) -> DataFrame:
    """Resize through a mapInPandas stage. Decodable image bytes
    (PPM/BMP/PNG) run the REAL kernel — decode, nearest-neighbor
    resample, re-encode as PPM; non-decodable content passes through
    with the target dims stamped (`resized` = false) so mixed corpora
    survive."""

    import struct

    def _one(kind: str, content: bytes) -> tuple[bytes, bool]:
        if kind == "image":
            try:
                arr = decode_image(content)
                return encode_ppm(resize_nearest(arr, width, height)), True
            except (ValueError, NotImplementedError, IndexError,
                    struct.error):
                # struct.error: same 'BM'-prefixed-text corpus collision
                # extract_features guards against — pass through, don't
                # crash the batch
                pass
        return content, False

    def op(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            pairs = [_one(k, b or b"")
                     for k, b in zip(pdf["kind"], pdf["content"])]
            yield pd.DataFrame({
                "media_id": pdf["media_id"],
                "kind": pdf["kind"],
                "content": [p[0] for p in pairs],
                "width": width,
                "height": height,
                "resized": [p[1] for p in pairs],
            })

    return media.mapInPandas(
        op, schema="media_id long, kind string, content binary, "
                   "width int, height int, resized boolean")


def _dct_matrix(n: int = 32) -> np.ndarray:
    """Orthonormal DCT-II basis matrix (the 2-D DCT is D @ X @ D.T)."""
    k = np.arange(n, dtype=np.float64)[:, None]
    i = np.arange(n, dtype=np.float64)[None, :]
    D = np.cos(np.pi / n * (i + 0.5) * k) * np.sqrt(2.0 / n)
    D[0] /= np.sqrt(2.0)
    return D


_DCT32 = _dct_matrix(32)


def _resize_mean(lum: np.ndarray, width: int, height: int) -> np.ndarray:
    """Area-mean downsample of a 2-D array (box filter): each output
    cell averages its source block, so pixel noise is attenuated by
    the block size before the DCT — nearest sampling would carry full
    noise amplitude into the hash bits. Degenerates to nearest
    replication when upsampling (empty blocks take the boundary row)."""
    h, w = lum.shape

    def pool(a: np.ndarray, n: int, axis: int) -> np.ndarray:
        size = a.shape[axis]
        b = (np.arange(n) * size) // n
        sums = np.add.reduceat(a, b, axis=axis)
        counts = np.maximum(np.diff(np.append(b, size)), 1)
        shape = [1, 1]
        shape[axis] = n
        return sums / counts.reshape(shape)

    return pool(pool(lum, height, 0), width, 1)


def phash64(arr: np.ndarray) -> int:
    """Classic 64-bit DCT perceptual hash of a decoded image: luminance
    -> 32x32 area-mean resample -> 2-D DCT-II -> top-left 8x8 block
    -> each coefficient compared against the median of the 63 non-DC
    coefficients. Byte-identical images hash identically; small
    perturbations (noise, re-encode, slight resize) flip few bits, so
    near-duplicate IMAGES become a small hamming distance — the
    multimodal analogue of text SimHash, and the hash joins the same
    banded-hamming machinery. Returned as a SIGNED 64-bit int so it
    stores in a Spark long.

    Caveat (inherent to pHash): images with a SPARSE low-frequency
    spectrum (solid fills, exact blocky gradients) have most
    coefficients equal to the median, so those bits are noise-
    sensitive; natural images' dense spectra keep coefficients away
    from the threshold. Exact-duplicate detection is unaffected."""
    px = arr.astype(np.float64)
    if px.ndim == 3:
        if px.shape[2] >= 3:
            lum = (0.299 * px[..., 0] + 0.587 * px[..., 1]
                   + 0.114 * px[..., 2])
        else:
            lum = px[..., 0]
    else:
        lum = px
    small = _resize_mean(lum, 32, 32)
    coef = (_DCT32 @ small @ _DCT32.T)[:8, :8].ravel()
    med = np.median(coef[1:])
    bits = coef > med
    h = 0
    for b in bits:
        h = (h << 1) | int(b)
    return h - (1 << 64) if h >= (1 << 63) else h


def image_phash(media: DataFrame) -> DataFrame:
    """(media_id, phash, decoded): 64-bit perceptual hash per image row
    via the native decode path (PPM/BMP/PNG/baseline JPEG); rows whose
    bytes do not decode get decoded=false and a null hash. Narrow Arrow
    pass — no shuffle, no driver decode."""
    import struct

    def op(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, hashes, ok = [], [], []
            for mid, kind, blob in zip(pdf["media_id"], pdf["kind"],
                                       pdf["content"]):
                if kind != "image":
                    continue
                ids.append(mid)
                try:
                    hashes.append(phash64(decode_image(
                        bytes(blob or b""))))
                    ok.append(True)
                except (ValueError, NotImplementedError, IndexError,
                        struct.error):
                    hashes.append(None)
                    ok.append(False)
            yield pd.DataFrame({"media_id": pd.Series(ids, dtype="int64"),
                                "phash": pd.Series(hashes,
                                                   dtype="object"),
                                "decoded": pd.Series(ok, dtype="bool")})

    return media.mapInPandas(
        op, schema="media_id long, phash long, decoded boolean")


def phash_pairs(media: DataFrame, max_hamming: int = 6) -> DataFrame:
    """(d1, d2, hamming): near-duplicate images by banded perceptual-
    hash hamming distance — same 4x16-bit banding and guarantee
    structure as text simhash_pairs (exact for hamming <= 3,
    probabilistic up to max_hamming), exact bit_count(xor) verify on
    band-colliding candidates only. Scale shape: hash once (narrow),
    candidates are band-bucket-sized, never corpus-sized."""
    hashes = image_phash(media).filter(F.col("decoded")).select(
        F.col("media_id").alias("d"), F.col("phash").alias("sh"))
    bands = hashes.select("d", "sh", F.explode(F.array(*[
        F.struct(F.lit(i).alias("band"),
                 F.shiftrightunsigned(F.col("sh"), 16 * i)
                 .bitwiseAND((1 << 16) - 1).alias("bits"))
        for i in range(4)])).alias("bk"))
    cand = (bands.alias("x").join(
        bands.alias("y"),
        (F.col("x.bk") == F.col("y.bk")) & (F.col("x.d") < F.col("y.d")))
        .select(F.col("x.d").alias("d1"), F.col("x.sh").alias("sh1"),
                F.col("y.d").alias("d2"), F.col("y.sh").alias("sh2"))
        .distinct())
    hamming = F.bit_count(F.col("sh1").bitwiseXOR(F.col("sh2")))
    return (cand.select("d1", "d2", hamming.alias("hamming"))
            .filter(F.col("hamming") <= max_hamming))


def phash_container_invariance(media: DataFrame) -> DataFrame:
    """(media_id, phash_match): for every natively-decodable image row,
    assert the perceptual hash is a function of the PIXELS, not the
    container — decode the original bytes, re-encode the raster through
    a DIFFERENT container (PPM), decode again, and compare hashes. Any
    nondeterminism or container-sensitivity in decode/resample/DCT
    turns the row false. One narrow Arrow pass."""
    import struct

    def op(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, match = [], []
            for mid, kind, blob in zip(pdf["media_id"], pdf["kind"],
                                       pdf["content"]):
                if kind != "image":
                    continue
                try:
                    arr = decode_image(bytes(blob or b""))
                except (ValueError, NotImplementedError, IndexError,
                        struct.error):
                    continue
                ids.append(mid)
                # PPM is 3-channel: drop alpha / replicate gray before
                # the roundtrip (phash64's luminance uses the first 3
                # channels, so the coercion cannot change the hash)
                rgb = (arr if arr.ndim == 3 else
                       np.repeat(arr[..., None], 3, axis=2))[..., :3]
                rt = decode_ppm(encode_ppm(np.ascontiguousarray(rgb)))
                match.append(phash64(rgb) == phash64(rt))
            yield pd.DataFrame({"media_id": pd.Series(ids, dtype="int64"),
                                "phash_match": pd.Series(match,
                                                         dtype="bool")})

    return media.mapInPandas(op,
                             schema="media_id long, phash_match boolean")


def image_neardup_pairs(media: DataFrame, threshold: float = 0.98,
                        bands: int = 4) -> DataFrame:
    """(d1, d2, score): near-duplicate IMAGES — the multimodal twin of
    text dedup, composed from the existing pieces: real decode ->
    pixel-feature vectors (Arrow mapInPandas) -> hyperplane-LSH banded
    near-dup pairs (operators/similarity.cosine_neardup_pairs).

    The feature stage is narrow; the pair stage inherits similarity's
    scale shape (banded bucket join, id-only candidate distinct,
    exact verify on candidates only). Near-identical renders (small
    noise, re-encodes) land in the same LSH bucket through their
    pixel-moment features without any byte-level equality.
    """
    from g1_etl_spark.operators.similarity import cosine_neardup_pairs

    feats = extract_features(media).select("media_id", "features")
    return cosine_neardup_pairs(
        feats, threshold=threshold, dim=FEATURE_DIM, bands=bands,
        id_col="media_id", vec_col="features")
