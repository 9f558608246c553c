"""Multimodal columns: opaque binary payloads + typed metadata, with
Arrow-batched decode/feature plumbing.

Design (the 100 TB shape): media lives as an opaque ``binary`` column
(or an object-store URI for large assets) beside typed metadata columns.
Decode / resize / frame-sample run as ``mapInPandas`` batch iterators and
the perceptual fingerprints as one ``mapInArrow`` pass
(``_fingerprint_pass``) — Arrow moves the bytes to Python in columnar
batches, one Python worker per partition, no per-row serde.

The codecs are REAL wherever the format allows without external
libraries:

- image metadata for PNG / JPEG / GIF via container headers
  (``parse_image_header``: PNG IHDR, JPEG SOFn, GIF screen descriptor);
- full PNG PIXEL decode/encode (``decode_png_pixels`` /
  ``encode_png_pixels``: chunk walk, zlib inflate, all five scanline
  unfilters) — so ``resize_images`` performs a true decode →
  nearest-neighbor resample → re-encode on PNG payloads;
- PCM WAV audio (``parse_wav``: RIFF chunk walk, 16-bit samples) — so
  ``extract_audio_features`` computes exact duration, true RMS, and an
  FFT band spectrum (real DSP, verified to localize a synthesized tone);
- FSTK frame containers (length-prefixed frames, the MJPEG shape) — so
  ``sample_frames`` emits actual decodable frames.

- baseline JPEG PIXELS via the self-contained T.81 codec in
  ``operators/jpegcodec`` (SOF0, Huffman, 4:4:4/grayscale: DCT,
  data-derived canonical Huffman tables, byte stuffing) — so
  ``resize_images`` also does a true decode → resample → re-encode on
  baseline JPEG payloads.

Only formats that genuinely require a codec library (progressive or
subsampled JPEG, compressed audio/video) keep deterministic stand-in
bodies behind the same Arrow plumbing, with the metadata still parsed
for real. Unknown formats fall back to ``decode_image_stub`` so the
pipeline stays total.

spark.sql.execution.arrow.maxRecordsPerBatch bounds decode batch memory:
with ~N MB media payloads set it so batch_bytes ≈ 64-256 MB.
"""

from __future__ import annotations

import hashlib
import struct
import zlib
from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

# Decoded-media metadata schema appended by decode_images().
IMAGE_META_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("media_size_bytes", T.IntegerType()),
        T.StructField("format", T.StringType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("sha256", T.StringType()),
    ]
)


def attach_fake_media(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Deterministic stand-in for a real media column: the document text
    encoded as bytes. Gives the decode path a real binary column with
    realistic size variance."""
    return df.select(
        F.col(id_col).alias("doc_id"),
        F.encode(F.col(text_col), "UTF-8").cast("binary").alias("media"),
    )


def make_png(width: int, height: int, gray: int = 0x7F) -> bytes:
    """A fully valid 8-bit grayscale PNG of the given dimensions, built
    with stdlib only (struct + zlib): signature, IHDR, one IDAT holding
    the filtered scanlines, IEND — all with correct CRCs. Any compliant
    decoder opens it."""

    def chunk(tag: bytes, body: bytes) -> bytes:
        return struct.pack(">I", len(body)) + tag + body + struct.pack(">I", zlib.crc32(tag + body))

    ihdr = struct.pack(">IIBBBBB", width, height, 8, 0, 0, 0, 0)  # 8-bit grayscale
    raw = (b"\x00" + bytes([gray]) * width) * height  # filter 0 per scanline
    return (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(raw, 6))
        + chunk(b"IEND", b"")
    )


def make_jpeg(width: int, height: int) -> bytes:
    """A header-valid JPEG: SOI, JFIF APP0, a correct SOF0 frame header
    carrying the dimensions, EOI. No entropy-coded scan — intentionally
    CHEAP for bulk fixture synthesis (attach_synthetic_media emits
    thousands); use :func:`make_jpeg_real` /
    ``operators/jpegcodec.encode_jpeg_baseline`` when actual pixel data
    is needed."""
    app0 = b"JFIF\x00\x01\x01\x00\x00\x01\x00\x01\x00\x00"
    sof0 = struct.pack(">BHHB", 8, height, width, 1) + b"\x01\x11\x00"  # 1 component
    return (
        b"\xff\xd8"  # SOI
        + b"\xff\xe0" + struct.pack(">H", len(app0) + 2) + app0
        + b"\xff\xc0" + struct.pack(">H", len(sof0) + 2) + sof0
        + b"\xff\xd9"  # EOI
    )


def make_jpeg_real(width: int, height: int, quality: int = 90) -> bytes:
    """A REAL baseline JPEG (full entropy-coded scan, decodable by any
    compliant viewer) holding a deterministic grayscale gradient+texture
    pattern — the pixel-true fixture for the jpegcodec round trip."""
    import numpy as np

    from lakehouse_spark_spark.operators.jpegcodec import encode_jpeg_baseline

    y, x = np.mgrid[0:height, 0:width]
    img = ((x * 7 + y * 3 + (x * y) % 13) % 256).astype(np.uint8)
    return encode_jpeg_baseline(img, quality=quality)


def make_gif(width: int, height: int) -> bytes:
    """A minimal valid GIF89a: header, logical screen descriptor with
    the dimensions (little-endian), 2-entry palette, trailer."""
    screen = struct.pack("<HH", width, height) + b"\x80\x00\x00"  # GCT flag, 2 colors
    palette = b"\x00\x00\x00\xff\xff\xff"
    return b"GIF89a" + screen + palette + b"\x3b"


def parse_image_header(payload: bytes) -> dict | None:
    """Real image metadata decode via container headers (struct only):

    - PNG: 8-byte signature, then IHDR — width/height are the two
      big-endian u32 at bytes 16..24.
    - JPEG: walk the marker stream from SOI; any SOFn frame marker
      (0xC0-0xCF except DHT 0xC4, DAC 0xCC) carries precision(1) +
      height(2) + width(2) big-endian after the segment length.
    - GIF: 'GIF87a'/'GIF89a', then the logical-screen descriptor's
      little-endian u16 width/height at bytes 6..10.

    Returns None for anything unrecognized/truncated (caller decides
    the fallback)."""
    if len(payload) >= 24 and payload[:8] == b"\x89PNG\r\n\x1a\n" and payload[12:16] == b"IHDR":
        w, h = struct.unpack(">II", payload[16:24])
        return {"format": "png", "width": w, "height": h}
    if len(payload) >= 4 and payload[:2] == b"\xff\xd8":
        pos = 2
        while pos + 4 <= len(payload):
            if payload[pos] != 0xFF:
                return None  # broken marker stream
            marker = payload[pos + 1]
            if marker == 0xD9:  # EOI
                break
            (seg_len,) = struct.unpack(">H", payload[pos + 2 : pos + 4])
            if 0xC0 <= marker <= 0xCF and marker not in (0xC4, 0xC8, 0xCC):
                if pos + 9 > len(payload):
                    return None
                h, w = struct.unpack(">HH", payload[pos + 5 : pos + 9])
                return {"format": "jpeg", "width": w, "height": h}
            pos += 2 + seg_len
        return None
    if len(payload) >= 10 and payload[:6] in (b"GIF87a", b"GIF89a"):
        w, h = struct.unpack("<HH", payload[6:10])
        return {"format": "gif", "width": w, "height": h}
    return None


def decode_image_stub(payload: bytes) -> dict:
    """Fallback for UNKNOWN formats only (parse_image_header handles
    PNG/JPEG/GIF for real): deterministic fake decode deriving
    width/height/format from a stable hash of the bytes so tests are
    reproducible. Raises on empty payloads the way a codec would."""
    if not payload:
        raise ValueError("empty media payload")
    digest = hashlib.sha256(payload).hexdigest()
    seed = int(digest[:8], 16)
    return {
        "format": ("png", "jpeg", "webp")[seed % 3],
        "width": 64 + (seed % 1024),
        "height": 64 + ((seed >> 10) % 1024),
        "sha256": digest,
    }




def make_wav(freq_hz: float, duration_s: float = 0.1, rate: int = 8000, amp: float = 0.5) -> bytes:
    """A fully valid 16-bit mono PCM WAV (RIFF/fmt/data) holding a sine
    at ``freq_hz`` — stdlib only. Any audio tool opens it; our own
    parser below decodes it for real."""
    import math

    n = int(duration_s * rate)
    samples = struct.pack(
        "<%dh" % n, *(int(32767 * amp * math.sin(2 * math.pi * freq_hz * i / rate)) for i in range(n))
    )
    return (
        b"RIFF" + struct.pack("<I", 36 + len(samples)) + b"WAVE"
        + b"fmt " + struct.pack("<IHHIIHH", 16, 1, 1, rate, rate * 2, 2, 16)
        + b"data" + struct.pack("<I", len(samples))
        + samples
    )


def parse_wav(payload: bytes):
    """REAL WAV decode (16-bit PCM): walk the RIFF chunks, read the fmt
    descriptor, return (rate, channels, float samples in [-1, 1]) or
    None if the payload is not a PCM WAV."""
    import numpy as np

    if len(payload) < 44 or payload[:4] != b"RIFF" or payload[8:12] != b"WAVE":
        return None
    pos, rate, channels, bits, data = 12, None, None, None, None
    while pos + 8 <= len(payload):
        tag = payload[pos : pos + 4]
        (size,) = struct.unpack("<I", payload[pos + 4 : pos + 8])
        body = payload[pos + 8 : pos + 8 + size]
        if tag == b"fmt " and size >= 16:
            fmt_code, channels, rate = struct.unpack("<HHI", body[:8])
            (bits,) = struct.unpack("<H", body[14:16])
            if fmt_code != 1:  # PCM only
                return None
        elif tag == b"data":
            data = body
        pos += 8 + size + (size % 2)  # RIFF chunks are word-aligned
    if rate is None or data is None or bits != 16:
        return None
    samples = np.frombuffer(data, dtype="<i2").astype("float64") / 32768.0
    return rate, channels, samples


# --- PNG pixel codec (8-bit grayscale / RGB, all 5 scanline filters) ---

def decode_png_pixels(payload: bytes):
    """REAL PNG pixel decode with stdlib+numpy: chunk walk, zlib
    inflate, per-scanline unfilter (None/Sub/Up/Average/Paeth).
    Supports 8-bit grayscale (color type 0) and RGB (2) — the formats
    our encoder and most analytics fixtures produce. Returns an
    (h, w) or (h, w, 3) uint8 array, or None if unsupported."""
    import numpy as np

    if len(payload) < 8 or payload[:8] != b"\x89PNG\r\n\x1a\n":
        return None
    pos, ihdr, idat = 8, None, b""
    while pos + 8 <= len(payload):
        (length,) = struct.unpack(">I", payload[pos : pos + 4])
        tag = payload[pos + 4 : pos + 8]
        body = payload[pos + 8 : pos + 8 + length]
        if tag == b"IHDR":
            ihdr = struct.unpack(">IIBBBBB", body)
        elif tag == b"IDAT":
            idat += body
        elif tag == b"IEND":
            break
        pos += 12 + length  # len + tag + body + crc
    if ihdr is None:
        return None
    w, h, depth, color, _comp, _filt, interlace = ihdr
    if depth != 8 or color not in (0, 2) or interlace != 0:
        return None
    ch = 1 if color == 0 else 3
    raw = zlib.decompress(idat)
    stride = w * ch
    if len(raw) != h * (stride + 1):
        return None
    out = np.zeros((h, stride), dtype=np.uint8)
    prev = np.zeros(stride, dtype=np.uint8)
    for y in range(h):
        row = raw[y * (stride + 1) : (y + 1) * (stride + 1)]
        ftype, line = row[0], np.frombuffer(row[1:], dtype=np.uint8).copy()
        if ftype == 1:  # Sub
            for x in range(ch, stride):
                line[x] = (line[x] + line[x - ch]) & 0xFF
        elif ftype == 2:  # Up
            line = (line + prev) & 0xFF
        elif ftype == 3:  # Average
            for x in range(stride):
                left = line[x - ch] if x >= ch else 0
                line[x] = (line[x] + ((int(left) + int(prev[x])) >> 1)) & 0xFF
        elif ftype == 4:  # Paeth
            for x in range(stride):
                a = int(line[x - ch]) if x >= ch else 0
                b = int(prev[x])
                c = int(prev[x - ch]) if x >= ch else 0
                p = a + b - c
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                pred = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
                line[x] = (line[x] + pred) & 0xFF
        out[y] = line
        prev = out[y]
    return out.reshape((h, w)) if ch == 1 else out.reshape((h, w, 3))


def encode_png_pixels(arr) -> bytes:
    """Encode an (h, w) or (h, w, 3) uint8 array as a valid PNG
    (filter 0 scanlines) — the inverse of decode_png_pixels."""
    import numpy as np

    arr = np.asarray(arr, dtype=np.uint8)
    h, w = arr.shape[:2]
    color = 0 if arr.ndim == 2 else 2

    def chunk(tag: bytes, body: bytes) -> bytes:
        return struct.pack(">I", len(body)) + tag + body + struct.pack(">I", zlib.crc32(tag + body))

    ihdr = struct.pack(">IIBBBBB", w, h, 8, color, 0, 0, 0)
    flat = arr.reshape(h, -1)
    raw = b"".join(b"\x00" + flat[y].tobytes() for y in range(h))
    return (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(raw, 6))
        + chunk(b"IEND", b"")
    )


# --- Frame-stack container (length-prefixed frames, MJPEG-style) ---

def make_framestack(frames: list[bytes]) -> bytes:
    """Minimal real video container: magic + frame count + length-
    prefixed frame payloads (the uncompressed-concatenation shape of
    MJPEG). sample_frames parses it for real."""
    return b"FSTK" + struct.pack("<I", len(frames)) + b"".join(
        struct.pack("<I", len(f)) + f for f in frames
    )


def parse_framestack(payload: bytes) -> list[bytes] | None:
    if len(payload) < 8 or payload[:4] != b"FSTK":
        return None
    (count,) = struct.unpack("<I", payload[4:8])
    frames, pos = [], 8
    for _ in range(count):
        if pos + 4 > len(payload):
            return None
        (n,) = struct.unpack("<I", payload[pos : pos + 4])
        frames.append(payload[pos + 4 : pos + 4 + n])
        pos += 4 + n
    return frames


def attach_synthetic_media(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Test-fixture media generator: a REAL image payload per document
    (format cycles png/jpeg/gif by id; dimensions derived from the text
    length so an external oracle can predict them):

        width  = 1 + length(text) mod 512
        height = 1 + (7 * length(text)) mod 512

    The PNGs are fully valid files (zlib IDAT + CRCs); JPEG/GIF are
    header-valid. This is the synthesis side of the decode round-trip —
    production replaces it with binaryFile ingestion
    (sources/loaders.load_media_dir)."""
    makers = (make_png, make_jpeg, make_gif)

    def synth(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            payloads = []
            for doc_id, text in zip(pdf[id_col], pdf[text_col]):
                n = len(text)
                payloads.append(makers[int(doc_id) % 3](1 + n % 512, 1 + (7 * n) % 512))
            yield pd.DataFrame({"doc_id": pdf[id_col], "media": payloads})

    out_schema = T.StructType([T.StructField("doc_id", T.LongType()), T.StructField("media", T.BinaryType())])
    return df.select(F.col(id_col), F.col(text_col)).mapInPandas(synth, out_schema)


def decode_image(payload: bytes) -> dict:
    """Decode one payload's metadata: real header parse for PNG/JPEG/GIF,
    deterministic stub for unrecognized bytes (format tagged 'unknown'
    so downstream can quarantine)."""
    meta = parse_image_header(bytes(payload))
    if meta is None:
        meta = dict(decode_image_stub(bytes(payload)), format="unknown")
    meta["sha256"] = hashlib.sha256(bytes(payload)).hexdigest()
    return meta


def decode_images(media: DataFrame) -> DataFrame:
    """mapInPandas decode: per-partition Arrow batches in, metadata rows
    out. PNG/JPEG/GIF dimensions come from the actual container headers
    (parse_image_header); only unrecognized formats hit the stub."""

    def decode_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            meta = [decode_image(p) for p in pdf["media"]]
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "media_size_bytes": [len(p) for p in pdf["media"]],
                    "format": [m["format"] for m in meta],
                    "width": [m["width"] for m in meta],
                    "height": [m["height"] for m in meta],
                    "sha256": [m["sha256"] for m in meta],
                }
            )

    return media.mapInPandas(decode_batches, IMAGE_META_SCHEMA)


RESIZED_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("media", T.BinaryType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
    ]
)


def _pil_resize(payload: bytes, max_side: int) -> tuple[bytes, int, int] | None:
    """Optional-dependency seam: decode/resize/re-encode via Pillow when
    it is installed (JPEG/GIF/WebP real pixels), else None. Kept OUTSIDE
    the hot loop's imports: the probe caches a module-level result so
    absent-PIL costs one failed import per Python worker, total."""
    global _PIL_IMAGE  # noqa: PLW0603 — per-worker memoized probe
    try:
        probe = _PIL_IMAGE
    except NameError:
        try:
            from PIL import Image as probe  # type: ignore[import-not-found]
        except ImportError:
            probe = None
        _PIL_IMAGE = probe
    if probe is None:
        return None
    import io

    try:
        img = probe.open(io.BytesIO(payload))
        fmt = img.format
        w0, h0 = img.size
        scale = min(1.0, max_side / max(w0, h0))
        w, h = max(1, int(w0 * scale)), max(1, int(h0 * scale))
        out = io.BytesIO()
        img.resize((w, h), probe.NEAREST).save(out, format=fmt)
        return out.getvalue(), w, h
    except Exception:  # noqa: BLE001 — undecodable payload falls through
        return None


def resize_images(media: DataFrame, max_side: int = 256) -> DataFrame:
    """Resize. For PNG payloads this is a REAL pixel pipeline: decode
    (decode_png_pixels), nearest-neighbor resample via numpy index
    maps, re-encode a valid PNG (encode_png_pixels) — bytes in, smaller
    real image out, no external libraries. Baseline JPEG payloads get
    the same treatment through ``operators/jpegcodec`` (true DCT
    decode → resample → re-encode). Remaining formats go through the
    optional Pillow seam (``_pil_resize``) when the library is present;
    without it they keep the header-true dimension math with a
    truncation stand-in body — the Arrow plumbing is identical in all
    paths, so swapping codecs never touches the Spark side."""

    def do(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        from lakehouse_spark_spark.operators.jpegcodec import (
            decode_jpeg_baseline,
            encode_jpeg_baseline,
        )

        def resample(px, w0, h0):
            scale = min(1.0, max_side / max(w0, h0))
            w, h = max(1, int(w0 * scale)), max(1, int(h0 * scale))
            ys = (np.arange(h) * (h0 / h)).astype(int)
            xs = (np.arange(w) * (w0 / w)).astype(int)
            return px[ys][:, xs], w, h

        for pdf in batches:
            rows = []
            for doc_id, payload in zip(pdf["doc_id"], pdf["media"]):
                payload = bytes(payload)
                px = decode_png_pixels(payload)
                if px is not None:
                    h0, w0 = px.shape[:2]
                    resized, w, h = resample(px, w0, h0)
                    rows.append((doc_id, encode_png_pixels(resized), w, h))
                    continue
                if payload[:2] == b"\xff\xd8":
                    jpx = decode_jpeg_baseline(payload)
                    if jpx is not None:
                        h0, w0 = jpx.shape[:2]
                        resized, w, h = resample(jpx, w0, h0)
                        rows.append((doc_id, encode_jpeg_baseline(resized), w, h))
                        continue
                pil = _pil_resize(payload, max_side)
                if pil is not None:
                    rows.append((doc_id, *pil))
                    continue
                meta = decode_image(payload)
                scale = min(1.0, max_side / max(meta["width"], meta["height"]))
                w, h = max(1, int(meta["width"] * scale)), max(1, int(meta["height"] * scale))
                fake_resized = payload[: max(1, int(len(payload) * scale * scale))]
                rows.append((doc_id, fake_resized, w, h))
            yield pd.DataFrame(rows, columns=["doc_id", "media", "width", "height"])

    return media.mapInPandas(do, RESIZED_SCHEMA)


FRAME_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("frame_idx", T.IntegerType()),
        T.StructField("frame", T.BinaryType()),
    ]
)


def sample_frames(media: DataFrame, every_n: int = 10) -> DataFrame:
    """Frame sampling. FSTK containers (make_framestack) are parsed for
    REAL: every Nth length-prefixed frame payload is emitted intact —
    one input row fans out to many output rows, the mapInPandas
    iterator shape real ffmpeg sampling has (output batches NOT 1:1
    with input rows). Other non-empty payloads fall back to the
    deterministic byte-slice stub so the pipeline stays total; NULL and
    empty payloads sample no frames."""

    def do(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for doc_id, payload in zip(pdf["doc_id"], pdf["media"]):
                if not payload:
                    continue
                payload = bytes(payload)
                frames = parse_framestack(payload)
                if frames is not None:
                    for i in range(0, len(frames), every_n):
                        rows.append((doc_id, i, frames[i]))
                    continue
                n_frames = max(1, len(payload) // 16)
                for i in range(0, n_frames, every_n):
                    rows.append((doc_id, i, payload[i * 16 : (i + 1) * 16]))
            yield pd.DataFrame(rows, columns=["doc_id", "frame_idx", "frame"])

    return media.mapInPandas(do, FRAME_SCHEMA)


AUDIO_FEATURE_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("duration_s", T.DoubleType()),
        T.StructField("rms", T.DoubleType()),
        T.StructField("features", T.ArrayType(T.FloatType())),
    ]
)


def extract_audio_features(media: DataFrame, n_features: int = 8) -> DataFrame:
    """Audio features. WAV payloads get REAL signal processing (parse_wav
    + numpy): exact duration from the sample count, true RMS, and an
    n_features-band FFT magnitude spectrum (band energies normalized to
    sum 1) — the actual shape of a spectral feature extractor, feeding
    straight into the embedding similarity operators as array<float>.
    Non-WAV payloads keep the deterministic byte-derived stub (real
    compressed-audio decode needs soundfile/librosa in the same loop)."""

    def do(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        for pdf in batches:
            rows = []
            for doc_id, payload in zip(pdf["doc_id"], pdf["media"]):
                payload = bytes(payload)
                parsed = parse_wav(payload)
                if parsed is not None:
                    rate, _ch, samples = parsed
                    dur = len(samples) / rate
                    rms = float(np.sqrt(np.mean(samples**2))) if len(samples) else 0.0
                    spec = np.abs(np.fft.rfft(samples))
                    bands = np.array_split(spec, n_features)
                    energy = np.array([float(b.sum()) for b in bands])
                    total = energy.sum() or 1.0
                    feats = [float(e / total) for e in energy]
                    rows.append((doc_id, dur, rms, feats))
                    continue
                dur = len(payload) / 1000.0
                rms = (sum(b * b for b in payload[:1000]) / max(1, min(len(payload), 1000))) ** 0.5
                if payload:
                    feats = [float((payload[i % len(payload)] - 128) / 128.0) for i in range(n_features)]
                else:  # empty media: zero-vector, consistent with dur/rms guards
                    feats = [0.0] * n_features
                rows.append((doc_id, dur, rms, feats))
            yield pd.DataFrame(rows, columns=["doc_id", "duration_s", "rms", "features"])

    return media.mapInPandas(do, AUDIO_FEATURE_SCHEMA)


def attach_synthetic_wav(df: DataFrame, id_col: str) -> DataFrame:
    """Fixture: a real PCM WAV per row, tone frequency derived from the
    id (110 * (1 + id mod 16) Hz) so tests can predict the spectrum."""

    def synth(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            payloads = [make_wav(110.0 * (1 + int(i) % 16)) for i in pdf[id_col]]
            yield pd.DataFrame({"doc_id": pdf[id_col], "media": payloads})

    out_schema = T.StructType([T.StructField("doc_id", T.LongType()), T.StructField("media", T.BinaryType())])
    return df.select(F.col(id_col)).mapInPandas(synth, out_schema)


def attach_synthetic_video(df: DataFrame, id_col: str, frames_per_doc: int = 24) -> DataFrame:
    """Fixture: a real FSTK container of valid PNG frames per row (frame
    f is a (4+f mod 4) x 4 image so sampled frames decode for real)."""

    def synth(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            payloads = [
                make_framestack([make_png(4 + f % 4, 4, gray=f * 10 % 256) for f in range(frames_per_doc)])
                for _ in pdf[id_col]
            ]
            yield pd.DataFrame({"doc_id": pdf[id_col], "media": payloads})

    out_schema = T.StructType([T.StructField("doc_id", T.LongType()), T.StructField("media", T.BinaryType())])
    return df.select(F.col(id_col)).mapInPandas(synth, out_schema)


# --- perceptual hash: image near-dup via dHash / pHash ------------------
# Text has four dedup stories (exact, MinHash, SimHash, semantic);
# images get two: 64-bit difference and DCT hashes over DECODED pixels,
# then the SAME pigeonhole Hamming-block join the text SimHash family
# uses (operators/neardup.simhash_candidates — reused verbatim, the
# fingerprints are bit-compatible: 63 significant bits, bit 63 kept zero
# so the long stays positive). Both hashes come from one decode pass,
# :func:`image_hashes`, which every image and video-frame consumer
# projects from.


def dhash64(px, grid: int = 8) -> int | None:
    """dHash of a decoded pixel array ((h,w) or (h,w,3) uint8): gray =
    channel mean, nearest-neighbor downsample to grid x (grid+1) via
    integer index maps (the resize_images resample), then one bit per
    horizontal gradient — bit set iff the right neighbor is brighter.
    Row-major bit order; with the default grid=8 that is 64 bits, and
    bit 63 is cleared for SimHash-family compatibility (positive
    longs). Gradient structure survives what byte hashes don't: a
    global +-1 brightness shift leaves every comparison — and so the
    fingerprint — unchanged, and mild re-encode noise (JPEG quality)
    flips only the bits whose gradient it actually crossed. Returns
    None (quarantine) for undecodable input."""
    import numpy as np

    if px is None:
        return None
    a = np.asarray(px, dtype=np.float64)
    if a.ndim == 3:
        a = a.mean(axis=2)
    if a.ndim != 2 or a.size == 0:
        return None
    h, w = a.shape
    gh, gw = grid, grid + 1
    ys = (np.arange(gh) * (h / gh)).astype(int)
    xs = (np.arange(gw) * (w / gw)).astype(int)
    small = a[ys][:, xs]
    bits = (small[:, 1:] > small[:, :-1]).flatten()
    v = 0
    for i, b in enumerate(bits):
        if b:
            v |= 1 << i
    return v & ((1 << 63) - 1)


def image_neardup_dhash(
    media: DataFrame,
    max_hamming: int = 3,
    blocks: int = 4,
    max_bucket: int | None = None,
) -> DataFrame:
    """Image near-dup candidates: dHash fingerprints joined by the
    pigeonhole Hamming-block equi-join (full recall for
    ``max_hamming <= blocks - 1``, the text-SimHash guarantee — shared
    code, not a re-implementation). Undecodable payloads (NULL
    fingerprint) are excluded rather than colliding at a sentinel.
    Returns (id_a, id_b, hamming), id_a < id_b. Scale: the block join
    is O(sum of per-(block, value) bucket sizes) — near-identical
    images share blocks, unrelated scenes don't; never all-pairs. Real
    corpora are SKEWED (solid-color frames hash identically by the
    million), so set ``max_bucket`` to bound any one (block, value)
    bucket — exact-duplicate clusters above the cap still dedup
    through the equal-fingerprint rescue star. ``max_bucket`` is the
    shared join's knob (operators/neardup.simhash_candidates)."""
    from lakehouse_spark_spark.operators.neardup import simhash_candidates

    fp = image_hashes(media).select("doc_id", F.col("dhash").alias("simhash")).filter(
        F.col("simhash").isNotNull()
    )
    return simhash_candidates(
        fp, "doc_id", max_hamming=max_hamming, blocks=blocks, max_bucket=max_bucket
    )


def _area_resample(a, gh: int, gw: int):
    """Block-mean (area-average) downsample to (gh, gw) with integer
    boundaries, fully vectorized (np.add.reduceat over row/col block
    starts); dimensions smaller than the grid fall back to nearest
    index maps. Area averaging — not the nearest sampling dHash uses —
    is what makes pHash stable across RESIZE: a half-size rendering of
    the same scene averages to (nearly) the same 32x32 patch, where
    nearest sampling picks entirely different source pixels."""
    import numpy as np

    h, w = a.shape
    if h >= gh:
        rb = np.arange(gh) * h // gh
        cnt = np.diff(np.append(rb, h)).astype(np.float64)
        a = np.add.reduceat(a, rb, axis=0) / cnt[:, None]
    else:
        a = a[np.arange(gh) * h // gh]
    if w >= gw:
        cb = np.arange(gw) * w // gw
        cnt = np.diff(np.append(cb, w)).astype(np.float64)
        a = np.add.reduceat(a, cb, axis=1) / cnt[None, :]
    else:
        a = a[:, np.arange(gw) * w // gw]
    return a


def phash64(px, grid: int = 32) -> int | None:
    """pHash of a decoded pixel array: gray = channel mean, area-average
    downsample to grid x grid, orthonormal 2D DCT-II (plain numpy
    matmuls — the same transform the repo's T.81 JPEG codec is built
    on), keep the top-left 8x8 low-frequency block, drop the DC term,
    and threshold the remaining 63 coefficients by their MEDIAN — a
    balanced 63-bit fingerprint (bit 63 zero, SimHash-family
    compatible). Captures the scene's coarse structure, so it survives
    RESIZE and re-encode where dHash's fixed sampling grid drifts;
    dHash remains the cheaper same-size screen. Returns None
    (quarantine) for undecodable input."""
    import numpy as np

    if px is None:
        return None
    a = np.asarray(px, dtype=np.float64)
    if a.ndim == 3:
        a = a.mean(axis=2)
    if a.ndim != 2 or a.size == 0:
        return None
    small = _area_resample(a, grid, grid)
    n = grid
    j = np.arange(n)[:, None]
    k = np.arange(n)[None, :]
    C = np.sqrt(2.0 / n) * np.cos(np.pi * (2 * k + 1) * j / (2 * n))
    C[0, :] /= np.sqrt(2.0)
    D = C @ small @ C.T
    lo = D[:8, :8].flatten()[1:]  # 63 low-frequency coeffs, DC dropped
    med = np.median(lo)
    v = 0
    for i, b in enumerate(lo > med):
        if b:
            v |= 1 << i
    return v


def _decode_pixels(payload: bytes | None):
    """Pixel array of a PNG (decode_png_pixels) or baseline-JPEG (the
    T.81 codec) payload, or None when neither codec accepts it or the
    payload is NULL or empty.
    decode_png_pixels RAISES on a valid magic with garbage inside
    (truncated IHDR, corrupt IDAT): one malformed payload in a corpus
    must quarantine, not fail the Spark task (decode_jpeg_baseline is
    already total)."""
    from lakehouse_spark_spark.operators.jpegcodec import decode_jpeg_baseline

    if not payload:
        return None
    raw = bytes(payload)
    try:
        px = decode_png_pixels(raw)
    except Exception:  # noqa: BLE001 — undecodable payload
        px = None
    return px if px is not None else decode_jpeg_baseline(raw)


def _image_fp(payload: bytes | None) -> tuple[int | None, int | None]:
    """(phash, dhash) of one image payload from one decode."""
    px = _decode_pixels(payload)
    return phash64(px), dhash64(px)


# The fingerprint columns each payload column of :func:`_fingerprint_pass`
# turns into, in output order.
_FP_COLUMNS = {
    "image": (("phash", T.LongType()), ("dhash", T.LongType())),
    "audio": (("afp", T.LongType()), ("afp_alt", T.LongType())),
    "video": (("frame_fps", T.ArrayType(T.LongType())),),
}


def _fingerprint_pass(df: DataFrame, every_n: int = 1) -> DataFrame:
    """The one Python pass behind every media fingerprint: ``df`` holds
    any of the payload columns ``image``, ``audio`` and ``video`` beside
    columns that pass through untouched (the id, a text SimHash). Each
    payload column comes back as its fingerprints (``_FP_COLUMNS``):
    image → (phash, dhash) from one decode (:func:`_image_fp`), audio →
    (afp, afp_alt) from one WAV parse (:func:`_audio_fp`), video →
    ``frame_fps``, the pHash of every ``every_n``-th FSTK frame with
    NULL where a frame does not decode (:func:`_video_fp`). NULL,
    empty and undecodable payloads give NULL hashes (no frames for
    video). Payload columns left out of ``df`` are left out of the
    pass, so a caller pays only for the modalities it supplies.

    Arrow batches in and out (``mapInArrow``): pandas would carry a
    pass-through long column through float64 whenever its batch holds a
    NULL, which rounds a 63-bit fingerprint. Scale: per-row work only
    (no shuffle, no state); the Arrow batch size bounds decode memory as
    for decode_images."""
    kernels = {"image": _image_fp, "audio": _audio_fp, "video": lambda p: (_video_fp(p, every_n),)}
    present = [c for c in _FP_COLUMNS if c in df.columns]
    keep = [f for f in df.schema.fields if f.name not in present]
    schema = T.StructType(
        keep + [T.StructField(n, t) for c in present for n, t in _FP_COLUMNS[c]]
    )

    def do(batches):
        import pyarrow as pa

        from pyspark.sql.pandas.types import to_arrow_type

        for batch in batches:
            cols = [batch.column(f.name) for f in keep]
            for c in present:
                fps = [kernels[c](p) for p in batch.column(c).to_pylist()]
                cols += [
                    pa.array([fp[i] for fp in fps], type=to_arrow_type(t))
                    for i, (_, t) in enumerate(_FP_COLUMNS[c])
                ]
            yield pa.RecordBatch.from_arrays(cols, names=schema.names)

    return df.mapInArrow(do, schema)


def image_hashes(media: DataFrame) -> DataFrame:
    """(doc_id, phash, dhash): the image fingerprints of (doc_id, media).
    Each payload is decoded for real once (:func:`_decode_pixels`) and
    both hash kernels run on the decoded array — the decode is the
    dominant cost (zlib inflate + unfilter / Huffman + IDCT per image),
    the two kernels together are microseconds, so a consumer that needs
    one hash selects its column and the pHash∧dHash verify stage gets
    its second signal without a second decode. NULL, empty and
    undecodable payloads come back NULL in both columns; callers
    quarantine them. One :func:`_fingerprint_pass`."""
    return _fingerprint_pass(media.select(F.col("doc_id").cast("long"), F.col("media").alias("image")))


def _hamming_pairs(
    hashes: DataFrame,
    fp_col: str,
    aux_col: str,
    max_hamming: int,
    blocks: int,
    max_bucket: int | None,
    verify_max_hamming: int | None,
) -> DataFrame:
    """Candidates + verify from a (doc_id, <fp_col>, <aux_col>) hash
    table — the half of :func:`image_neardup_phash` and
    :func:`audio_neardup_afp` after the fingerprint pass, shared with
    :func:`multimodal_dedup_disposition`. NULL ``fp_col`` rows
    (undecodable payloads) are excluded; ``fp_col`` pairs come from the
    shared pigeonhole join, and with ``verify_max_hamming`` set each
    pair also needs its ``aux_col`` fingerprints within that radius
    (two slim re-attach joins). ``hashes`` is read up to three times,
    so callers pass a checkpointed table. Returns (id_a, id_b, hamming)."""
    from lakehouse_spark_spark.operators.neardup import simhash_candidates

    hashes = hashes.filter(F.col(fp_col).isNotNull())
    cand = simhash_candidates(
        hashes.select("doc_id", F.col(fp_col).alias("simhash")),
        "doc_id", max_hamming=max_hamming, blocks=blocks, max_bucket=max_bucket,
    )
    if verify_max_hamming is None:
        return cand
    x_a = hashes.select(F.col("doc_id").alias("id_a"), F.col(aux_col).alias("__aux_a"))
    x_b = hashes.select(F.col("doc_id").alias("id_b"), F.col(aux_col).alias("__aux_b"))
    return (
        cand.join(x_a, "id_a")
        .join(x_b, "id_b")
        .filter(F.bit_count(F.col("__aux_a").bitwiseXOR(F.col("__aux_b"))) <= verify_max_hamming)
        .select("id_a", "id_b", "hamming")
    )


def image_neardup_phash(
    media: DataFrame,
    max_hamming: int = 10,
    blocks: int = 8,
    max_bucket: int | None = None,
    verify_dhash_max_hamming: int | None = None,
) -> DataFrame:
    """Resize-robust image near-dup: pHash fingerprints through the
    shared pigeonhole Hamming-block join. Default radius is wider than
    dHash's — a rescaled rendering keeps coarse DCT structure but
    legitimately flips a handful of low-frequency sign bits.

    Default ``blocks=8`` (8-bit blocks) trades the tail of the recall
    guarantee for the scale contract: pigeonhole-complete only to
    Hamming 7, high-probability to the radius-10 default (every
    measured resized twin shares a clean byte — flips spread), and a
    RANDOM pair collides into the join with p ≈ 1-(255/256)^8 ≈ 3%.
    ``blocks = max_hamming + 1`` (11) restores the full guarantee but
    its 5-bit blocks collide ~30% of ALL pairs — the candidate join
    degrades toward all-pairs on a large corpus (review catch). Returns
    (id_a, id_b, hamming), id_a < id_b. ``max_bucket`` is the shared
    join's hot-bucket guard — see :func:`image_neardup_dhash` (same
    semantics; letterbox bars and solid-color stills are pHash's
    hot-bucket mode too).

    ``verify_dhash_max_hamming`` adds the text family's own
    candidates→verify shape: pHash's single-signal false-pair mode is
    phase-adjacent scenes whose low-frequency DCT SIGNS collide — but
    those scenes' pixel GRADIENTS differ, so a dHash check on the
    candidate pairs only (O(|pairs|), the verify_pairs_jaccard shape)
    kills them without the recall cost of an asset-level vote across
    modalities. Measured on the sf0.1 disposition fixture family: planted
    half-size twins sit at dHash ≤ 5 (smooth scenes survive the
    nearest-sampling grid shift), organic pHash collisions at ≥ 14 —
    the default verify radius 8 separates cleanly. Both hashes come
    from ONE decode pass (:func:`image_hashes`), so the second signal
    costs no second decode; the extra plan is two slim fingerprint
    re-attach joins (:func:`_hamming_pairs`)."""
    hashes = image_hashes(media).localCheckpoint(eager=False)  # block join + verify re-attach
    return _hamming_pairs(
        hashes, "phash", "dhash", max_hamming, blocks, max_bucket, verify_dhash_max_hamming
    )


# --- acoustic fingerprint: audio near-dup via spectral-shape hash -------
# Text has four dedup stories, images two (dHash/pHash), audio one:
# afp64, a 64-bit Haitsma/Kalker-shaped fingerprint ("A Highly Robust
# Audio Fingerprinting System", ISMIR 2002 — public): frame the clip, compute
# per-frame energies in log-spaced bands, emit the SIGN of each
# adjacent-band energy difference. Band-energy RATIOS are untouched by
# gain changes, so a re-levelled copy is bit-identical by construction;
# dither/requantization flips only near-tie bits. The fingerprint is
# bit-compatible with the text SimHash / image dHash family (63
# significant bits, bit 63 kept zero so the long stays positive), so
# the pigeonhole Hamming-block join is again SHARED, not re-implemented.


def make_wav_pcm(samples, rate: int = 8000) -> bytes:
    """A fully valid 16-bit mono PCM WAV from an arbitrary float array
    in [-1, 1] — the general sibling of :func:`make_wav` (which only
    synthesizes a single sine). Values are clipped then quantized to
    int16, exactly what any PCM encoder does."""
    import numpy as np

    arr = np.clip(np.asarray(samples, dtype="float64"), -1.0, 1.0)
    pcm = (arr * 32767.0).astype("<i2").tobytes()
    return (
        b"RIFF" + struct.pack("<I", 36 + len(pcm)) + b"WAVE"
        + b"fmt " + struct.pack("<IHHIIHH", 16, 1, 1, rate, rate * 2, 2, 16)
        + b"data" + struct.pack("<I", len(pcm))
        + pcm
    )


def afp64(rate, samples, frames: int = 8, bands: int = 9, f_lo: float = 50.0) -> int | None:
    """64-bit acoustic fingerprint of a decoded PCM clip: split into
    ``frames`` equal time frames; per frame, sum squared rFFT magnitude
    into ``bands`` log-spaced frequency bands on [f_lo, rate/2]; bit
    (t, b) = 1 iff band b holds more energy than band b+1 in frame t.
    8 frames x (9-1) comparisons = 64 bits; bit 63 is masked to zero
    (long positivity, the dhash64 convention) leaving 63 significant.

    Invariances (pinned in tests): gain-invariant up to floating-point
    near-ties — energy RATIOS are scale-free in exact arithmetic, but
    numpy's FFT is not exactly scale-equivariant in floats, so an
    adjacent-band comparison sitting on a near-tie can flip under gain
    scaling (empirically bit-identical on every tested scene; the
    radius-6 join absorbs occasional flips); tolerant of dither /
    16-bit requantization (flips only where adjacent bands near-tie);
    sensitive to WHICH bands carry energy WHEN — two clips with
    different tone sequences differ in many bits. Returns None when the
    clip is too short to frame (< 2 samples per frame)."""
    import numpy as np

    if rate is None or rate <= 0 or samples is None:
        return None
    samples = np.asarray(samples, dtype="float64")
    n = len(samples) // frames
    if n < 2:
        return None
    seg = samples[: n * frames].reshape(frames, n)
    spec2 = np.abs(np.fft.rfft(seg, axis=1)) ** 2
    freqs = np.fft.rfftfreq(n, d=1.0 / rate)
    edges = np.geomspace(f_lo, rate / 2.0, bands + 1)
    idx = np.searchsorted(edges, freqs, side="right") - 1
    e = np.zeros((frames, bands))
    for b in range(bands):
        m = idx == b
        if m.any():
            e[:, b] = spec2[:, m].sum(axis=1)
    gt = e[:, :-1] > e[:, 1:]
    bits = 0
    for t in range(frames):
        for b in range(bands - 1):
            if gt[t, b]:
                bits |= 1 << (t * (bands - 1) + b)
    return bits & ((1 << 63) - 1)


def _wav_mono(payload: bytes | None):
    """(rate, mono float samples) of a 16-bit PCM WAV payload (parse_wav:
    RIFF walk), or None when it is not one (NULL and empty payloads
    included). Interleaved multichannel
    data is downmixed by averaging; a data chunk that is not a whole
    number of frames has its tail torn across channels and is
    quarantined (None) like any other malformed payload rather than
    fingerprinted as the raw interleaved stream."""
    if not payload:
        return None
    parsed = parse_wav(bytes(payload))
    if parsed is None:
        return None
    rate, ch, samples = parsed
    if ch and ch > 1:
        if len(samples) % ch != 0:
            return None
        samples = samples.reshape(-1, ch).mean(axis=1)
    return rate, samples


def _audio_fp(payload: bytes | None) -> tuple[int | None, int | None]:
    """(afp, afp_alt) of one audio payload from one WAV parse."""
    clip = _wav_mono(payload)
    if clip is None:
        return None, None
    rate, samples = clip
    return afp64(rate, samples), afp64(rate, samples, frames=4, bands=17)


def audio_hashes(media: DataFrame) -> DataFrame:
    """(doc_id, afp, afp_alt): the audio fingerprints of (doc_id, media).
    Each payload is decoded once (:func:`_wav_mono`) and fingerprinted in two
    geometries: the primary Haitsma/Kalker 8 frames x 9 bands, and a
    second one of 4 longer frames x 17 finer bands — a genuinely
    different time/frequency resolution, so its near-tie bit flips are
    decorrelated from the primary's (the verify signal of
    :func:`audio_neardup_afp`). The WAV parse dominates; the second
    geometry is one more small rFFT per clip. NULL, empty, non-PCM-WAV
    and torn multichannel payloads come back NULL in both columns;
    callers quarantine them. One :func:`_fingerprint_pass`."""
    return _fingerprint_pass(media.select(F.col("doc_id").cast("long"), F.col("media").alias("audio")))


def audio_neardup_afp(
    media: DataFrame,
    max_hamming: int = 6,
    blocks: int = 8,
    max_bucket: int | None = None,
    verify_alt_max_hamming: int | None = None,
) -> DataFrame:
    """Audio near-dup candidates: acoustic fingerprints joined by the
    pigeonhole Hamming-block equi-join shared with text SimHash and the
    image hashes. Default ``blocks=8`` is pigeonhole-COMPLETE for the
    default radius (max_hamming=6 <= blocks-1 — unlike pHash's radius
    10, no probabilistic tail); a random pair collides into the
    candidate join with p ~= 1-(255/256)^8 ~= 3%, kept bounded exactly
    as for the image joins. Undecodable payloads (NULL fingerprint) are
    excluded rather than colliding at a sentinel. Returns
    (id_a, id_b, hamming), id_a < id_b. ``max_bucket`` is the shared
    join's hot-bucket guard — see :func:`image_neardup_dhash` (same
    semantics; SILENCE is audio's hot-bucket mode — every silent clip
    fingerprints identically).

    ``verify_alt_max_hamming`` adds the candidates→verify shape:
    a SECOND fingerprint geometry (4 frames × 17 bands — different
    time/frequency resolution, decorrelated near-ties) checked on the
    candidate pairs only. A true re-levelled/dithered copy agrees in
    both geometries (measured ≤ 2 on the sf0.1 fixture family); a
    phase-adjacent collision that happens to agree at one resolution
    has no reason to agree at the other. Both geometries come from ONE
    decode+FFT pass (:func:`audio_hashes`) — no second decode."""
    hashes = audio_hashes(media).localCheckpoint(eager=False)  # block join + verify re-attach
    return _hamming_pairs(
        hashes, "afp", "afp_alt", max_hamming, blocks, max_bucket, verify_alt_max_hamming
    )


# --- video near-dup: frame-sampled pHash voting --------------------------
# The fourth modality of the dedup family. A clip is near-dup of
# another when ENOUGH of its sampled frames are perceptual near-dups of
# the other's frames — the standard frame-fingerprint voting shape
# (sample -> per-frame hash -> frame-level candidate join -> per-clip
# vote). The per-frame work is one Python pass (the FSTK parse of
# sample_frames and the decode + DCT hash of image_hashes, per clip row);
# the frame<->clip keying, the shared pigeonhole Hamming-block join and
# the vote aggregation are JVM plan.


def _video_fp(payload: bytes | None, every_n: int) -> list[int | None]:
    """pHash of every ``every_n``-th frame of an FSTK clip (NULL where a
    frame does not decode); no frames for NULL, empty and non-FSTK
    payloads — sample_frames' byte-slice stub for those never decodes."""
    frames = parse_framestack(bytes(payload)) if payload else None
    return [phash64(_decode_pixels(f)) for f in frames[::every_n]] if frames else []


def _keyed_frames(frame_fps: DataFrame, every_n: int, frame_key_stride: int) -> DataFrame:
    """(doc_id, fp) frame rows of a (doc_id, frame_fps) pass table under
    the composite key ``clip_id * frame_key_stride + frame_idx``, where
    array position p holds frame p * every_n. A clip whose last sampled
    frame index reaches the stride fails the query, undecodable frames
    included; NULL fingerprints are dropped after the guard."""
    first_bad = -(-frame_key_stride // every_n) * every_n  # first sampled idx >= stride
    guarded = F.when(
        (F.size("frame_fps").cast("long") - 1) * every_n < F.lit(frame_key_stride),
        F.col("frame_fps"),
    ).otherwise(
        F.raise_error(
            F.format_string(
                f"video_frame_fingerprints: frame_idx {first_bad} of clip %d >= frame_key_stride "
                f"{frame_key_stride}; raise the stride",
                F.col("doc_id"),
            )
        )
    )
    key = F.col("doc_id").cast("long") * F.lit(frame_key_stride) + F.col("pos").cast("long") * every_n
    return (
        frame_fps.select("doc_id", F.posexplode(guarded).alias("pos", "fp"))
        .filter(F.col("fp").isNotNull())
        .select(key.alias("doc_id"), "fp")
    )


def video_frame_fingerprints(
    media: DataFrame, every_n: int = 4, frame_key_stride: int = 1_000_000
) -> DataFrame:
    """(doc_id, fp): pHash of every Nth sampled frame under the
    composite key ``clip_id * frame_key_stride + frame_idx`` — the
    frame-level fingerprint relation shared by the one-shot
    :func:`video_neardup_phash` join and the persisted
    media-fingerprint index (operators/mediaindex — a video index IS a
    media_fp index over these composite-keyed frame fingerprints, so
    fold/probe/compaction machinery is reused, not re-implemented).
    One Python pass per clip row (:func:`_fingerprint_pass`: FSTK parse,
    every Nth frame decoded and pHashed — the frames of sample_frames,
    the phash of image_hashes). Requires frame_idx < stride and
    clip_id < 2^63/stride. A sampled frame at or past the stride fails
    the query: its key would alias a frame of the next clip and the
    frame vote would pair unrelated clips. Undecodable frames are
    dropped (NULL quarantine); NULL, empty and non-FSTK payloads give
    no frames."""
    fps = _fingerprint_pass(
        media.select(F.col("doc_id").cast("long"), F.col("media").alias("video")), every_n
    )
    return _keyed_frames(fps, every_n, frame_key_stride)


def _frame_vote(
    frame_fps: DataFrame,
    frame_key_stride: int,
    max_hamming: int,
    blocks: int,
    min_matched_frames: int,
    max_bucket: int | None,
) -> DataFrame:
    """The half of :func:`video_neardup_phash` after the fingerprint
    pass, shared with :func:`multimodal_dedup_disposition`: the frame
    join over composite-keyed (doc_id, fp) rows and the per-clip vote.
    Returns (id_a, id_b, matched_frames, min_hamming)."""
    from lakehouse_spark_spark.operators.neardup import simhash_candidates

    cand = simhash_candidates(
        frame_fps.withColumnRenamed("fp", "simhash"), "doc_id",
        max_hamming=max_hamming, blocks=blocks, max_bucket=max_bucket,
    )
    pairs = cand.select(
        F.expr(f"id_a DIV {frame_key_stride}").alias("clip_a"),
        F.expr(f"id_a % {frame_key_stride}").alias("frame_a"),
        F.expr(f"id_b DIV {frame_key_stride}").alias("clip_b"),
        "hamming",
    ).filter(F.col("clip_a") != F.col("clip_b"))
    return (
        pairs.groupBy(F.col("clip_a").alias("id_a"), F.col("clip_b").alias("id_b"))
        .agg(
            F.countDistinct("frame_a").alias("matched_frames"),
            F.min("hamming").alias("min_hamming"),
        )
        .filter(F.col("matched_frames") >= min_matched_frames)
    )


def video_neardup_phash(
    media: DataFrame,
    every_n: int = 4,
    max_hamming: int = 10,
    blocks: int = 8,
    min_matched_frames: int = 3,
    frame_key_stride: int = 1_000_000,
    max_bucket: int | None = None,
) -> DataFrame:
    """Video near-dup candidates: sample every Nth frame, pHash each
    decoded frame, join frames by the pigeonhole Hamming-block
    equi-join, then vote — a clip pair survives when
    ``min_matched_frames`` DISTINCT sampled frames of the lower-id clip
    match a frame of the other within ``max_hamming``. Returns
    (id_a, id_b, matched_frames, min_hamming), id_a < id_b.

    Frames ride the shared join under a composite key
    ``doc_id * frame_key_stride + frame_idx`` (requires
    frame_idx < stride and doc_id < 2^63/stride — fine for any real
    frame count; raise the stride for billion-frame assets). Because
    the composite key preserves clip order, the join's id_a < id_b
    already normalizes clip order; same-clip frame matches are
    discarded before the vote. The vote is deliberately one-sided
    (distinct LOWER-clip frames matched) so a short clip repeated
    inside a long one still votes its full sampled length.

    Scale: per-frame work is row-local (decode + hash); the frame-level
    block join is the same bounded pigeonhole join text SimHash uses
    (never all-pairs across frames); the vote is one groupBy on the
    candidate pairs. ``every_n`` is the cost knob: cost scales with
    sampled frames, recall degrades gracefully (a true near-dup clip
    pair loses votes, not its best frames).
    ``max_bucket`` is the shared join's hot-bucket guard over the FRAME
    population; solid-color / black frames are video's hot-bucket
    mode — a million title-card frames fingerprint identically, and
    without ``max_bucket`` the frame join materializes that cluster's
    square. The equal-fingerprint rescue star keeps exact-frame dups
    flowing into the vote."""
    fp = video_frame_fingerprints(media, every_n=every_n, frame_key_stride=frame_key_stride)
    return _frame_vote(fp, frame_key_stride, max_hamming, blocks, min_matched_frames, max_bucket)


# --- cross-modal dedup disposition -------------------------------------
# The composition a real multimodal pipeline runs: an ASSET is a dup if
# ANY of its modalities near-dups a lower-id asset. The assets are
# scanned ONCE: one fingerprint pass turns each row into longs (text
# SimHash as a JVM column, then _fingerprint_pass for the media), and
# each modality's candidate edges come from that narrow table through
# the same half its one-shot operator runs (simhash_candidates,
# _hamming_pairs with verify for image pHash and audio afp64,
# _frame_vote for video). The union of edges feeds the deterministic
# connected-components operator; the min id of each component keeps.


def multimodal_dedup_disposition(
    assets: DataFrame,
    id_col: str = "doc_id",
    text_col: str | None = None,
    image_col: str | None = None,
    audio_col: str | None = None,
    video_col: str | None = None,
    *,
    text_max_hamming: int = 3,
    text_blocks: int = 4,
    video_every_n: int = 4,
    max_bucket: int | None = None,
) -> DataFrame:
    """Per-asset keep/drop across every supplied modality. Returns
    (id, keep, component, modalities): ``component`` is the minimum
    asset id transitively reachable through ANY modality's near-dup
    edges (so cross-modality chains merge — A ~text~ B ~image~ C is one
    component), ``keep`` marks the component minimum, ``modalities``
    lists which modalities put the asset into a candidate pair (empty
    for singletons). Deterministic end to end: every edge source is a
    deterministic fingerprint join and the component label is a
    fixpoint independent of iteration order.

    Scale: the assets are read once. One pass per row keeps only longs
    (id, SimHash, image/audio hashes, frame pHashes — media blobs are
    never persisted), checkpointed; each modality's edges are its
    bounded candidate join over that table (``max_bucket`` is the shared hot-bucket guard, essential on
    real media where solid-color frames / silence / boilerplate text
    hash identically by the million — exact-dup clusters above the cap
    still dedup through the rescue star); the union is
    edge-count-sized; connected components is the pointer-jumping
    loop (O(E) per round, rounds ~ log diameter — dup clusters are
    shallow). No stage sees an asset×asset product.

    The two modalities with a single-signal false-pair mode run the
    candidates→verify second signal: image pHash edges additionally
    require dHash agreement within 8 bits, audio afp edges a
    second-geometry agreement within 4 — computed on candidate pairs
    only, from the SAME decode pass, so the cost is two slim joins per
    modality. This is the precision tool for re-upload corpora; an
    asset-level vote (an edge needs two modalities) would kill the TRUE
    single-modality dups instead. Measured on the sf0.1 fixture: verify
    drops the 6 organic false merges to 0 with all 125 planted
    single-modality twins still caught, while a two-modality vote kills
    the false merges AND every planted twin (each duplicates exactly
    one modality). Video has its own verify (the frame vote); text
    near-dup callers wanting one use verify_pairs_jaccard. The other
    radii and block counts are the per-modality operators' defaults;
    ``text_max_hamming``/``text_blocks`` and ``video_every_n`` size the
    text and video joins to the corpus."""
    from lakehouse_spark_spark.operators.graph import connected_components
    from lakehouse_spark_spark.operators.neardup import simhash_candidates, simhash_column

    supplied = {"image": image_col, "audio": audio_col, "video": video_col}
    media = {m: c for m, c in supplied.items() if c is not None}
    if text_col is None and not media:
        raise ValueError("multimodal_dedup_disposition: supply at least one modality column")
    cols = [F.col(id_col).alias("doc_id")]
    if text_col is not None:
        cols.append(simhash_column(text_col).alias("simhash"))
    fps = assets.select(*cols, *[F.col(c).alias(m) for m, c in media.items()])
    if media:
        fps = _fingerprint_pass(fps, every_n=video_every_n)
    # Every edge source and the id list read this one table of longs.
    # Eager: the one job runs either way, and a lazy checkpoint here
    # lost the SQL-metric accumulators of its plan (the DAGScheduler
    # logged "attempted to access non-existent accumulator" when the
    # plan was garbage-collected before the job that fills it ran).
    fps = fps.localCheckpoint(eager=True)

    def _text_edges():
        e = simhash_candidates(
            fps.select("doc_id", "simhash"), "doc_id", max_hamming=text_max_hamming,
            blocks=text_blocks, max_bucket=max_bucket,
        )
        return e.select("id_a", "id_b", F.lit("text").alias("modality"))

    # radii and block counts: image_neardup_phash's and
    # audio_neardup_afp's defaults with their verify radii 8 and 4,
    # video_neardup_phash's defaults
    def _image_edges():
        e = _hamming_pairs(fps, "phash", "dhash", 10, 8, max_bucket, 8)
        return e.select("id_a", "id_b", F.lit("image").alias("modality"))

    def _audio_edges():
        e = _hamming_pairs(fps, "afp", "afp_alt", 6, 8, max_bucket, 4)
        return e.select("id_a", "id_b", F.lit("audio").alias("modality"))

    def _video_edges():
        frames = _keyed_frames(fps, video_every_n, 1_000_000)
        e = _frame_vote(frames, 1_000_000, 10, 8, 3, max_bucket)
        return e.select("id_a", "id_b", F.lit("video").alias("modality"))

    builders = [
        b
        for col, b in (
            (text_col, _text_edges), (image_col, _image_edges),
            (audio_col, _audio_edges), (video_col, _video_edges),
        )
        if col is not None
    ]
    if len(builders) > 1:
        # build edge frames CONCURRENTLY (one thread per modality):
        # the builders launch no Spark job, but each spends driver time
        # constructing and analyzing its plan (block explode, hot-bucket
        # guard, verify joins, frame vote). The pool overlaps that time:
        # on the registry fixture (4 vCPUs) a warm builder call took
        # 2.3-2.9 s with it and 2.7-3.4 s building one after another.
        # Result order stays the fixed modality order — determinism is
        # unaffected.
        from concurrent.futures import ThreadPoolExecutor

        with ThreadPoolExecutor(max_workers=len(builders)) as pool:
            edge_frames = list(pool.map(lambda b: b(), builders))
    else:
        edge_frames = [builders[0]()]
    edges = edge_frames[0]
    for e in edge_frames[1:]:
        edges = edges.unionByName(e)
    edges = edges.localCheckpoint(eager=False)

    comps = connected_components(edges, "id_a", "id_b")
    mods = (
        edges.select(F.col("id_a").alias("node"), "modality")
        .unionByName(edges.select(F.col("id_b").alias("node"), "modality"))
        .groupBy("node")
        .agg(F.sort_array(F.collect_set("modality")).alias("modalities"))
    )
    ids = fps.select(F.col("doc_id").alias("node"))
    return (
        ids.join(comps, "node", "left")
        .join(mods, "node", "left")
        .select(
            F.col("node").alias(id_col),
            F.coalesce(F.col("component"), F.col("node")).alias("component"),
            (F.coalesce(F.col("component"), F.col("node")) == F.col("node")).alias("keep"),
            F.coalesce(F.col("modalities"), F.array().cast("array<string>")).alias("modalities"),
        )
    )
