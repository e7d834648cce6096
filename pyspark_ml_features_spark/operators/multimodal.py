"""Multimodal family (SURVEY §2-E E6 + the binary-payload plumbing for
image/audio/video feature extraction): decode, feature extraction, image
exact and near-dup hashing and clustering, modality coverage.

Design: media lives in opaque ``binary`` columns with typed metadata columns
beside them; decode / feature-extract runs as Arrow-batched ``mapInPandas``
over partitions sized by ``spark.sql.files.maxPartitionBytes`` so a 100 TB
media corpus streams batch-by-batch through Python without ever
materializing a partition in memory. The codec-free formats decode for
REAL, full pixels/samples, pure stdlib: PNG (zlib inflate + all-five-
filter defilter, :func:`decode_png`), BMP (:func:`decode_bmp_pixels`),
WAV/PCM (:func:`parse_wav_features`) — each with an exact arithmetic
oracle. Formats that genuinely need a codec library (JPEG, MP3, H.264)
raise ValueError from :func:`decode_image`; :func:`decode_image_auto`
degrades to header-only parse + a deterministic fake so the plumbing
stays testable on any payload.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import (
    BinaryType,
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from pyspark_ml_features_spark.functions.skew import fan_out
from pyspark_ml_features_spark.registry import register
from pyspark_ml_features_spark.sources import table


@register(
    "e6_multimodal_join",
    oracle="""
SELECT d.doc_id, d.lang, d.source, d.n_chars,
       e.label AS emb_label,
       len(e.embedding) AS emb_dim
FROM documents d JOIN embeddings e ON d.doc_id = e.vec_id
""",
    tags=("north-star", "E6", "multimodal"),
)
def e6_multimodal_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents ⋈ embeddings into one multimodal row (text + vector +
    metadata). Both sides hash-partition on the shared key at scale; here
    the smaller side broadcasts automatically under AQE."""
    d = table(spark, sf_dir, "documents")
    e = table(spark, sf_dir, "embeddings")
    return (d.join(e, d.doc_id == e.vec_id)
            .select("doc_id", "lang", "source", "n_chars",
                    F.col("label").alias("emb_label"),
                    F.size("embedding").alias("emb_dim")))


_BINARY_FEATURES_SCHEMA = StructType([
    StructField("doc_id", LongType()),
    StructField("byte_len", LongType()),
    StructField("md5_hex", StringType()),
])


def extract_binary_features(df: DataFrame, id_col: str = "doc_id",
                            payload_col: str = "payload") -> DataFrame:
    """Arrow-batched mapInPandas feature extraction over a binary column:
    byte length + md5. This is the template every media extractor follows —
    swap the per-batch body for image decode / audio fingerprint / frame
    sampling; the batching, schema contract, and partition flow stay put."""

    def _extract(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import hashlib

        for pdf in batches:
            yield pd.DataFrame({
                "doc_id": pdf[id_col],
                "byte_len": pdf[payload_col].map(len).astype("int64"),
                "md5_hex": pdf[payload_col].map(
                    lambda b: hashlib.md5(bytes(b)).hexdigest()),
            })

    return df.mapInPandas(_extract, schema=_BINARY_FEATURES_SCHEMA)


@register(
    "e12_binary_features",
    oracle="""
SELECT doc_id,
       octet_length(encode(text))::BIGINT AS byte_len,
       md5(text) AS md5_hex
FROM documents
""",
    tags=("north-star", "multimodal", "udf"),
)
def e12_binary_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary-column plumbing, oracle-checked end to end: utf-8 payload →
    mapInPandas (Arrow batches) → byte length + md5. Proves the Python
    extraction path produces byte-identical results to engine-native
    hashing."""
    d = table(spark, sf_dir, "documents")
    payload = d.select("doc_id", F.encode("text", "utf-8").alias("payload"))
    return extract_binary_features(payload)


# --- real codec-free header parsing ----------------------------------------
# PNG/BMP/GIF geometry lives in fixed-offset header fields — plain struct
# reads, no codec library needed. This is the honest slice of image decode
# that CAN run in this container; pixel decode stays stubbed below.

PNG_MAGIC = b"\x89PNG\r\n\x1a\n"
# PNG color type → channel count (spec: greyscale, RGB, palette, grey+alpha,
# RGBA).
_PNG_CHANNELS = {0: 1, 2: 3, 3: 1, 4: 2, 6: 4}


def parse_image_header(payload: bytes) -> tuple[str, int, int, int, int]:
    """Parse (format, width, height, bit_depth, n_channels) from the raw
    header bytes of a PNG / BMP / GIF payload — pure struct reads at the
    offsets the specs fix, no image library.

    PNG: 8-byte signature, then the IHDR chunk (length+type at 8..16, width
    and height big-endian at 16..24, bit depth and color type at 24..26).
    BMP: 'BM' signature, BITMAPINFOHEADER width/height little-endian at
    18..26 (height may be negative for top-down rows), bits-per-pixel at
    28..30. GIF: 'GIF87a'/'GIF89a', logical screen w/h little-endian at
    6..10.
    """
    import struct

    if payload[:8] == PNG_MAGIC:
        width, height = struct.unpack(">II", payload[16:24])
        bit_depth, color_type = payload[24], payload[25]
        return ("png", width, height, bit_depth,
                _PNG_CHANNELS.get(color_type, 0))
    if payload[:2] == b"BM":
        width, height = struct.unpack("<ii", payload[18:26])
        bpp, = struct.unpack("<H", payload[28:30])
        # Plausibility gate (r9 review): text that merely starts with
        # 'BM' would otherwise unpack garbage geometry from its bytes —
        # require a spec-legal bit depth and sane dimensions before
        # trusting the parse.
        if bpp not in (1, 4, 8, 16, 24, 32) or not (
                0 < width <= 1 << 20 and 0 < abs(height) <= 1 << 20):
            raise ValueError("implausible BMP header fields")
        return ("bmp", width, abs(height), bpp, max(1, bpp // 8))
    if payload[:6] in (b"GIF87a", b"GIF89a"):
        width, height = struct.unpack("<HH", payload[6:10])
        if width == 0 or height == 0:
            raise ValueError("implausible GIF header fields")
        return ("gif", width, height, 8, 1)
    raise ValueError("unrecognized image format (not PNG/BMP/GIF)")


def synth_png_header(width: int, height: int, bit_depth: int = 8,
                     color_type: int = 2) -> bytes:
    """Byte-exact PNG signature + IHDR chunk (with real CRC32) and no pixel
    data — enough for any header parser, buildable without a codec. Used by
    the e13b fixture builder and the parser unit tests."""
    import struct
    import zlib

    ihdr = struct.pack(">IIBBBBB", width, height, bit_depth, color_type,
                       0, 0, 0)
    chunk = b"IHDR" + ihdr
    return (PNG_MAGIC + struct.pack(">I", len(ihdr)) + chunk
            + struct.pack(">I", zlib.crc32(chunk)))


def synth_bmp_header(width: int, height: int, bpp: int = 24) -> bytes:
    """14-byte BITMAPFILEHEADER + 40-byte BITMAPINFOHEADER, no pixel data."""
    import struct

    info = struct.pack("<IiiHHIIiiII", 40, width, height, 1, bpp, 0, 0,
                       2835, 2835, 0, 0)
    file_hdr = struct.pack("<2sIHHI", b"BM", 14 + 40, 0, 0, 14 + 40)
    return file_hdr + info


IMAGE_HEADER_SCHEMA = StructType([
    StructField("doc_id", LongType()),
    StructField("format", StringType()),
    StructField("width", LongType()),
    StructField("height", LongType()),
    StructField("bit_depth", LongType()),
    StructField("n_channels", LongType()),
])


@register(
    "e13b_image_header_parse",
    oracle="""
SELECT doc_id,
       CASE WHEN doc_id % 2 = 0 THEN 'png' ELSE 'bmp' END AS format,
       (1 + n_chars % 1024)::BIGINT AS width,
       (1 + doc_id % 768)::BIGINT AS height,
       (CASE WHEN doc_id % 2 = 0 THEN 8 ELSE 24 END)::BIGINT AS bit_depth,
       3::BIGINT AS n_channels
FROM documents
""",
    tags=("north-star", "multimodal", "udf"),
)
def e13b_image_header_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL image header extraction, oracle-checked end to end: build a
    byte-exact PNG or BMP header per document (geometry derived from doc
    columns), push it through the binary column → Arrow mapInPandas path,
    and parse it back with :func:`parse_image_header` (actual struct reads
    of actual header bytes). The DuckDB oracle recomputes the geometry
    arithmetically, so any drift in the builder OR the parser breaks the
    hash. This is the codec-free slice of e13 made honest; pixel decode
    remains the documented stub."""
    d = table(spark, sf_dir, "documents").select("doc_id", "n_chars")

    def _build_and_parse(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            payloads = [
                synth_png_header(1 + n % 1024, 1 + int(i) % 768)
                if i % 2 == 0 else
                synth_bmp_header(1 + n % 1024,
                                 # negative height = top-down BMP; the parser
                                 # must abs() it
                                 -(1 + int(i) % 768))
                for i, n in zip(pdf["doc_id"], pdf["n_chars"])
            ]
            parsed = [parse_image_header(p) for p in payloads]
            yield pd.DataFrame({
                "doc_id": pdf["doc_id"],
                "format": [p[0] for p in parsed],
                "width": pd.Series([p[1] for p in parsed], dtype="int64"),
                "height": pd.Series([p[2] for p in parsed], dtype="int64"),
                "bit_depth": pd.Series([p[3] for p in parsed], dtype="int64"),
                "n_channels": pd.Series([p[4] for p in parsed], dtype="int64"),
            })

    return d.mapInPandas(_build_and_parse, schema=IMAGE_HEADER_SCHEMA)


# --- stubbed media decode (codecs not present in this environment) ---------

IMAGE_FEATURES_SCHEMA = StructType([
    StructField("doc_id", LongType()),
    StructField("width", LongType()),
    StructField("height", LongType()),
    StructField("n_channels", LongType()),
    StructField("mean_luma", LongType()),
])


def decode_png(payload: bytes) -> "object":
    """REAL full-pixel PNG decode, pure stdlib (zlib inflate + scanline
    defilter — public knowledge, RFC 2083 §6): walk the chunk stream
    verifying every CRC32, require 8-bit greyscale non-interlaced (the
    shape :func:`synth_png` emits; anything else raises, never guesses),
    concatenate IDAT, inflate, then undo the per-scanline filter — all
    five types including Paeth (predictor = whichever of left/up/up-left
    is closest to left+up−up-left). Returns a top-down (h, w) uint8
    numpy array. Closes the historical 'pixel decode is stubbed' gap:
    no codec library is involved."""
    import struct
    import zlib

    import numpy as np

    if payload[:8] != PNG_MAGIC:
        raise ValueError("not a PNG payload")
    width = height = None
    idat = bytearray()
    pos = 8
    while pos + 12 <= len(payload):
        length, = struct.unpack_from(">I", payload, pos)
        if pos + 12 + length > len(payload):
            # keep the documented ValueError contract — unpack_from past
            # the buffer would leak struct.error (r9 review)
            raise ValueError("truncated PNG chunk")
        ctype = payload[pos + 4:pos + 8]
        data = payload[pos + 8:pos + 8 + length]
        crc, = struct.unpack_from(">I", payload, pos + 8 + length)
        if crc != zlib.crc32(payload[pos + 4:pos + 8 + length]):
            raise ValueError(f"bad CRC in PNG chunk {ctype!r}")
        if ctype == b"IHDR":
            (width, height, bit_depth, color_type, comp, filt,
             interlace) = struct.unpack(">IIBBBBB", data)
            if (bit_depth, color_type, comp, filt, interlace) != (
                    8, 0, 0, 0, 0):
                raise ValueError(
                    "only 8-bit greyscale non-interlaced PNG supported")
        elif ctype == b"IDAT":
            idat += data
        elif ctype == b"IEND":
            break
        pos += 12 + length
    if width is None:
        raise ValueError("PNG payload has no IHDR chunk")
    try:
        raw = zlib.decompress(bytes(idat))
    except zlib.error as exc:
        # empty/truncated IDAT — keep the documented ValueError contract
        raise ValueError(f"bad PNG pixel stream: {exc}") from exc
    stride = width + 1  # one filter-type byte per scanline
    if len(raw) != height * stride:
        raise ValueError("PNG pixel data length mismatch")
    out = np.zeros((height, width), dtype="uint8")
    scan = np.frombuffer(raw, dtype="uint8").reshape(height, stride)
    zero_row = np.zeros(width, dtype="uint8")
    # Per-filter reconstruction (left neighbor = already-RECONSTRUCTED
    # byte; bpp = 1 for greyscale-8). None/Sub/Up have NO nonlinear
    # left-dependency and vectorize exactly: Sub's recurrence
    # recon[x] = raw[x] + recon[x-1] (mod 256) IS the uint8 prefix sum,
    # Up is an elementwise wrap-add with the previous reconstructed row
    # (round-10 measured optimization — the former per-pixel loops were
    # the e98/e103 wall). Average/Paeth carry a genuine sequential
    # dependency through a nonlinear predictor, so they stay per-pixel
    # but walk plain bytes (numpy scalar indexing pays ~10× per access).
    for y in range(height):
        ftype = int(scan[y, 0])
        line = scan[y, 1:]
        prev = out[y - 1] if y > 0 else zero_row
        if ftype == 0:
            out[y] = line
        elif ftype == 1:  # Sub: mod-256 prefix sum of the raw bytes
            out[y] = np.cumsum(line, dtype=np.uint8)
        elif ftype == 2:  # Up: elementwise wrap-add of the prior row
            out[y] = line + prev
        elif ftype == 3:  # Average
            rec = bytearray(width)
            left = 0
            x = 0
            # zip over plain bytes: one bounds-check pair per pixel
            # instead of two subscript lookups (measured ~10% off the
            # row wall; the recurrence itself — a floor-halved carry
            # chain — is genuinely sequential, see the r11 negative
            # result in DESIGN_SCALE.md "PNG decode floor")
            for r, p in zip(line.tobytes(), prev.tobytes()):
                left = (r + ((left + p) >> 1)) & 0xFF
                rec[x] = left
                x += 1
            out[y] = np.frombuffer(bytes(rec), dtype="uint8")
        elif ftype == 4:  # Paeth
            rec = bytearray(width)
            a = c = 0  # recon left / prev-row left (both 0 at x = 0)
            x = 0
            for r, b in zip(line.tobytes(), prev.tobytes()):
                # |p-a| = |b-c|, |p-b| = |a-c|, |p-c| = |a+b-2c| for
                # p = a+b-c; inlined sign tests beat 3 abs() calls
                pa = b - c
                if pa < 0:
                    pa = -pa
                pb = a - c
                if pb < 0:
                    pb = -pb
                pc = a + b - 2 * c
                if pc < 0:
                    pc = -pc
                pred = a if pa <= pb and pa <= pc else (b if pb <= pc else c)
                a = (r + pred) & 0xFF
                rec[x] = a
                x += 1
                c = b
            out[y] = np.frombuffer(bytes(rec), dtype="uint8")
        else:
            raise ValueError(f"unknown PNG filter type {ftype}")
    return out


def synth_png(doc_id: int, w: int, h: int, filter_offset: int = 0) -> bytes:
    """Byte-exact full greyscale-8 PNG (signature, IHDR, one deflated
    IDAT, IEND — every chunk with a real CRC32). Pixel at (x, y) is
    ``(x*7 + y*13 + doc_id) % 256`` (the e71 formula family, so an
    arithmetic oracle can recompute any decoded feature), and scanline y
    is encoded with filter type ``(y + filter_offset) % 5`` —
    None/Sub/Up/Average/Paeth all cycle, so a decoder that mishandles
    ANY filter breaks the round-trip. Distinct ``filter_offset`` values
    produce byte-DIFFERENT files with pixel-IDENTICAL content — the
    re-encoded-duplicate fixture e99's content-dedup relies on."""
    import numpy as np

    x = np.arange(w, dtype="int64")
    y = np.arange(h, dtype="int64")
    grey = (x[None, :] * 7 + y[:, None] * 13 + doc_id) % 256
    return encode_png_grey(grey, filter_offset)


def synth_png_brightness(key: int, w: int, h: int, brightness: int) -> bytes:
    """Bounded-brightness render for the perceptual-hash fixture (e101):
    base pattern ``(x*7 + y*13 + key) % 128`` (values 0..127) plus a
    flat ``brightness`` offset (caller keeps it ≤ 128 so nothing wraps
    mod 256) — re-renders of the same content under different exposure,
    the duplicate class aHash groups and exact pixel dedup splits."""
    import numpy as np

    x = np.arange(w, dtype="int64")
    y = np.arange(h, dtype="int64")
    grey = (x[None, :] * 7 + y[:, None] * 13 + key) % 128 + brightness
    return encode_png_grey(grey)


def encode_png_grey(grey: "object", filter_offset: int = 0) -> bytes:
    """Encode a top-down int array (values 0..255) as a real greyscale-8
    PNG, cycling scanline filter type ``(y + filter_offset) % 5``."""
    import struct
    import zlib

    import numpy as np

    h, w = grey.shape
    # All five predictors as whole-image 2D arrays, then one gather by
    # each row's filter type — encode filters read ORIGINAL bytes (not
    # reconstructed), so unlike decode there is no sequential
    # dependency anywhere and the whole filter pass vectorizes
    # (round-10 measured optimization: the former per-row loop spent
    # its wall in ~10 tiny-array numpy calls per 50-byte scanline).
    # Byte-exact with the loop form: identical predictor arithmetic,
    # identical (ftype, filtered-bytes) stream into the same
    # zlib.compress level.
    g = np.asarray(grey, dtype="int64")
    left = np.zeros_like(g)
    left[:, 1:] = g[:, :-1]
    prev = np.zeros_like(g)
    prev[1:] = g[:-1]
    upleft = np.zeros_like(g)
    upleft[1:, 1:] = g[:-1, :-1]
    p = left + prev - upleft
    pa, pb, pc = (np.abs(p - left), np.abs(p - prev), np.abs(p - upleft))
    paeth = np.where((pa <= pb) & (pa <= pc), left,
                     np.where(pb <= pc, prev, upleft))
    preds = np.stack([np.zeros_like(g), left, prev,
                      (left + prev) // 2, paeth])
    ftypes = (np.arange(h) + filter_offset) % 5
    pred = preds[ftypes, np.arange(h)]
    scan = np.empty((h, w + 1), dtype="uint8")
    scan[:, 0] = ftypes
    scan[:, 1:] = (g - pred) % 256
    lines = scan.tobytes()

    def chunk(ctype: bytes, data: bytes) -> bytes:
        body = ctype + data
        return (struct.pack(">I", len(data)) + body
                + struct.pack(">I", zlib.crc32(body)))

    ihdr = struct.pack(">IIBBBBB", w, h, 8, 0, 0, 0, 0)
    return (PNG_MAGIC + chunk(b"IHDR", ihdr)
            + chunk(b"IDAT", zlib.compress(bytes(lines), 9))
            + chunk(b"IEND", b""))


def decode_bmp_pixels(payload: bytes) -> "object":
    """REAL 24-bit uncompressed BMP pixel decode: un-pad the 4-byte-
    aligned rows, un-flip bottom-up storage, return a top-down
    (h, w, 3) uint8 array in BGR byte order (the format's channel
    order, preserved — callers decide luma weighting)."""
    import struct

    import numpy as np

    if payload[:2] != b"BM":
        raise ValueError("not a BMP payload")
    data_off = struct.unpack_from("<I", payload, 10)[0]
    hdr_size, w, h, _planes, bpp, comp = struct.unpack_from(
        "<IiiHHI", payload, 14)
    if (hdr_size, bpp, comp) != (40, 24, 0) or h <= 0:
        raise ValueError("only uncompressed bottom-up 24-bit BMP supported")
    row_bytes = (w * 3 + 3) // 4 * 4
    raw = np.frombuffer(payload, dtype="uint8",
                        count=row_bytes * h, offset=data_off)
    return raw.reshape(h, row_bytes)[::-1, :w * 3].reshape(h, w, 3)


def decode_image(payload: bytes) -> tuple[int, int, int, int]:
    """REAL image decode — full pixel reconstruction, no codec library
    and no fake: PNG via :func:`decode_png` (zlib inflate + all-five-
    filter defilter), BMP via :func:`decode_bmp_pixels`. Returns
    (width, height, n_channels, mean_luma) where mean_luma is the
    floor-mean over every pixel-channel byte (exact integer math, so
    arithmetic oracles can recompute it). Raises ValueError on formats
    that genuinely need a codec (JPEG etc.) — honest refusal, not a
    stub."""
    if payload[:8] == PNG_MAGIC:
        px = decode_png(payload)
        h, w = px.shape
        return (w, h, 1, int(px.sum(dtype="int64")) // (w * h))
    if payload[:2] == b"BM":
        px = decode_bmp_pixels(payload)
        h, w, _ = px.shape
        return (w, h, 3, int(px.sum(dtype="int64")) // (w * h * 3))
    raise ValueError("decode_image supports the codec-free formats "
                     "(PNG greyscale-8, BMP 24-bit); got neither")


def fake_decode_image(payload: bytes) -> tuple[int, int, int, int]:
    """Deterministic stand-in: derives (width, height, channels, mean_luma)
    from the payload bytes so the downstream plumbing is fully exercised."""
    n = len(payload)
    return (64 + n % 64, 64 + (n // 64) % 64, 3, sum(payload[:16]) % 256)


def decode_image_auto(payload: bytes) -> tuple[int, int, int, int]:
    """Real-first decode ladder: (1) full pixel decode via
    :func:`decode_image` when the payload is a decodable PNG/BMP —
    mean_luma is then REAL; (2) header-only parse (geometry is real,
    luma from the deterministic fake) for image payloads whose pixels
    need a codec (GIF, header-only fixtures); (3) the fake for
    non-image payloads (text-bytes fixtures), keeping the plumbing
    testable on any input."""
    import struct
    import zlib

    try:
        return decode_image(payload)
    except (ValueError, struct.error, zlib.error):
        pass
    try:
        _, width, height, _, n_channels = parse_image_header(payload)
        return (width, height, n_channels, fake_decode_image(payload)[3])
    except (ValueError, struct.error):
        return fake_decode_image(payload)


def extract_image_features(df: DataFrame, id_col: str = "doc_id",
                           payload_col: str = "payload",
                           decoder=decode_image_auto) -> DataFrame:
    """mapInPandas image feature extraction — same batch shape as a real
    decoder would use (one row per image, metadata columns out)."""

    def _extract(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            decoded = pdf[payload_col].map(lambda b: decoder(bytes(b)))
            yield pd.DataFrame({
                "doc_id": pdf[id_col],
                "width": decoded.map(lambda d: d[0]).astype("int64"),
                "height": decoded.map(lambda d: d[1]).astype("int64"),
                "n_channels": decoded.map(lambda d: d[2]).astype("int64"),
                "mean_luma": decoded.map(lambda d: d[3]).astype("int64"),
            })

    return df.mapInPandas(_extract, schema=IMAGE_FEATURES_SCHEMA)


@register("e13_image_features_stub", tags=("north-star", "multimodal"))
def e13_image_features_stub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Image feature extraction through the real-first decode ladder
    (re-pointed r9; the historical name is kept because it is the
    grading identity): MIXED payloads — real full-pixel PNGs for even
    doc_ids (decode_image's zlib+defilter path runs for real), raw text
    bytes for odd ones (the documented fake fallback) — so one query
    exercises every rung of decode_image_auto. Rows-only here; the
    exact-oracle twin for the real path is e98_png_decode."""
    d = table(spark, sf_dir, "documents")

    def _payloads(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield pd.DataFrame({
                "doc_id": pdf["doc_id"],
                "payload": [
                    synth_png(int(i), 5 + int(i) % 4, 4 + int(i) % 3)
                    if i % 2 == 0 else t.encode("utf-8")
                    for i, t in zip(pdf["doc_id"], pdf["text"])
                ],
            })

    payload = d.select("doc_id", "text").mapInPandas(
        _payloads, schema="doc_id long, payload binary")
    return extract_image_features(payload)


# --- real audio feature extraction (WAV/PCM is codec-free) ------------------
# A canonical RIFF/WAVE file with 16-bit PCM is plain struct reads + raw
# int16 samples — no codec library involved. Unlike image pixel decode
# (stubbed above), the FULL audio path — header parse AND sample-domain
# features — runs for real in this container.

WAV_SAMPLE_RATE = 16000


def synth_wav(doc_id: int, n_samples: int, period: int,
              amplitude: int = 1000) -> bytes:
    """Byte-exact mono 16-bit PCM WAV: canonical 44-byte RIFF header plus a
    square wave of the given period (samples +A for even blocks, -A for odd).
    Deterministic in (doc_id, n_samples, period) so an arithmetic oracle can
    recompute every downstream feature."""
    import struct

    import numpy as np

    i = np.arange(n_samples)
    samples = np.where((i // period) % 2 == 0, amplitude,
                       -amplitude).astype("<i2")
    data = samples.tobytes()
    hdr = struct.pack(
        "<4sI4s4sIHHIIHH4sI", b"RIFF", 36 + len(data), b"WAVE", b"fmt ",
        16, 1, 1, WAV_SAMPLE_RATE, WAV_SAMPLE_RATE * 2, 2, 16, b"data",
        len(data))
    return hdr + data


def parse_wav_features(payload: bytes) -> tuple[int, int, int, int, float]:
    """Parse a canonical PCM WAV and compute sample-domain features:
    (sample_rate, n_samples, n_zero_crossings, max_abs, mean_abs). Header
    fields are struct reads at spec offsets; features are vectorized int16
    math over the raw data chunk — real audio analysis, no codec."""
    import struct

    import numpy as np

    if payload[:4] != b"RIFF" or payload[8:12] != b"WAVE":
        raise ValueError("not a RIFF/WAVE payload")
    (_, _, _, _, fmt_size, audio_fmt, n_channels, sample_rate, _, _,
     bits, _, data_size) = struct.unpack("<4sI4s4sIHHIIHH4sI", payload[:44])
    if (fmt_size, audio_fmt, n_channels, bits) != (16, 1, 1, 16):
        raise ValueError("only canonical mono 16-bit PCM supported")
    samples = np.frombuffer(payload[44:44 + data_size], dtype="<i2")
    signs = np.sign(samples)
    crossings = int(np.count_nonzero(signs[1:] != signs[:-1]))
    abs_s = np.abs(samples.astype("int64"))
    return (sample_rate, len(samples), crossings, int(abs_s.max()),
            float(abs_s.mean()))


AUDIO_FEATURES_SCHEMA = StructType([
    StructField("doc_id", LongType()),
    StructField("sample_rate", LongType()),
    StructField("n_samples", LongType()),
    StructField("n_zero_crossings", LongType()),
    StructField("max_abs", LongType()),
    StructField("mean_abs", DoubleType()),
])


@register(
    "e29_audio_features",
    oracle=f"""
SELECT doc_id,
       {WAV_SAMPLE_RATE}::BIGINT AS sample_rate,
       (256 + n_chars % 256)::BIGINT AS n_samples,
       ((256 + n_chars % 256 - 1) // (1 + doc_id % 16))::BIGINT
           AS n_zero_crossings,
       1000::BIGINT AS max_abs,
       1000.0::DOUBLE AS mean_abs
FROM documents
""",
    tags=("north-star", "multimodal", "udf"),
)
def e29_audio_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL audio feature extraction, oracle-checked end to end: build a
    byte-exact mono 16-bit PCM WAV per document (square wave whose length
    and period derive from doc columns), push it through the binary-column
    → Arrow ``mapInPandas`` path, then parse the RIFF header AND compute
    sample-domain features (zero crossings, peak, mean |amplitude|) with
    vectorized int16 math over the raw PCM chunk — WAV needs no codec, so
    unlike image pixel decode (e13) nothing here is faked. The DuckDB
    oracle recomputes every feature arithmetically (a period-p square wave
    of n samples crosses zero exactly (n-1)//p times and has |s| = A
    everywhere), so drift in the builder OR the parser breaks the hash.

    100 TB shape: identical to every media extractor here — binary
    payloads stream batch-by-batch through Arrow; output is narrow typed
    metadata; embarrassingly parallel, no shuffle."""
    d = table(spark, sf_dir, "documents").select("doc_id", "n_chars")

    def _synth_and_extract(
            batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            feats = [
                parse_wav_features(synth_wav(int(i), 256 + int(n) % 256,
                                             1 + int(i) % 16))
                for i, n in zip(pdf["doc_id"], pdf["n_chars"])
            ]
            yield pd.DataFrame({
                "doc_id": pdf["doc_id"],
                "sample_rate": pd.Series([f[0] for f in feats],
                                         dtype="int64"),
                "n_samples": pd.Series([f[1] for f in feats], dtype="int64"),
                "n_zero_crossings": pd.Series([f[2] for f in feats],
                                              dtype="int64"),
                "max_abs": pd.Series([f[3] for f in feats], dtype="int64"),
                "mean_abs": pd.Series([f[4] for f in feats],
                                      dtype="float64"),
            })

    return d.mapInPandas(_synth_and_extract, schema=AUDIO_FEATURES_SCHEMA)


# --- video frame sampling (every k-th frame of a raw frame stack) -----------

FRAME_W, FRAME_H = 16, 9          # raw 8-bit greyscale frames
FRAME_SAMPLE_EVERY = 3            # keep frames 0, 3, 6, ...

VIDEO_FRAME_SCHEMA = StructType([
    StructField("doc_id", LongType()),
    StructField("frame_idx", LongType()),
    StructField("byte_sum", LongType()),
])


def synth_video(doc_id: int, n_frames: int) -> bytes:
    """Raw 'video': n_frames stacked uncompressed 8-bit greyscale frames of
    FRAME_W x FRAME_H, frame f filled with byte value (doc_id + f) % 256 —
    deterministic so the sampler's per-frame reduction has an arithmetic
    oracle."""
    import numpy as np

    f = np.arange(n_frames, dtype="int64")
    frames = ((doc_id + f) % 256).astype("uint8")
    return np.repeat(frames, FRAME_W * FRAME_H).tobytes()


def sample_video_frames(payload: bytes, doc_id: int) -> list:
    """Slice every FRAME_SAMPLE_EVERY-th frame out of the raw stack and
    reduce it (byte sum) — the frame-sampling access pattern a real video
    featurizer uses (decode only the sampled frames), on codec-free raw
    frames."""
    import numpy as np

    stack = np.frombuffer(payload, dtype="uint8")
    n_frames = len(stack) // (FRAME_W * FRAME_H)
    out = []
    for idx in range(0, n_frames, FRAME_SAMPLE_EVERY):
        frame = stack[idx * FRAME_W * FRAME_H:(idx + 1) * FRAME_W * FRAME_H]
        out.append((doc_id, idx, int(frame.astype("int64").sum())))
    return out


@register(
    "e30_video_frame_sample",
    oracle=f"""
SELECT doc_id,
       u.f::BIGINT AS frame_idx,
       ({FRAME_W * FRAME_H} * ((doc_id + u.f) % 256))::BIGINT AS byte_sum
FROM documents,
     unnest(range(0, 8 + doc_id % 9, {FRAME_SAMPLE_EVERY})) AS u(f)
""",
    tags=("north-star", "multimodal", "udf"),
)
def e30_video_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Video frame sampling, oracle-checked end to end: build a raw frame
    stack per document (8-16 uncompressed greyscale frames, contents
    derived from doc_id), push it through the binary-column Arrow path,
    slice out every 3rd frame, and reduce each sampled frame (byte sum).
    One input row fans out to one row PER SAMPLED FRAME — the schema shape
    a frame-level training pipeline needs. The DuckDB oracle recomputes
    the sampled indices and frame sums arithmetically, so the slicing
    offsets and the reduction are both hash-verified.

    100 TB shape: frame extraction is embarrassingly parallel mapInPandas
    over binary payloads; only sampled-frame metadata (3 narrow columns)
    leaves Python, never pixels. A real deployment swaps synth_video for
    the container's demuxer and keeps everything else."""
    d = table(spark, sf_dir, "documents").select("doc_id")

    def _synth_and_sample(
            batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for i in pdf["doc_id"]:
                i = int(i)
                rows.extend(sample_video_frames(
                    synth_video(i, 8 + i % 9), i))
            yield pd.DataFrame(rows, columns=["doc_id", "frame_idx",
                                              "byte_sum"]).astype("int64")

    return d.mapInPandas(_synth_and_sample, schema=VIDEO_FRAME_SCHEMA)


# --- real image resize (BMP is codec-free: raw padded pixel rows) -----------

RESIZE_OUT = 4  # nearest-neighbor target: RESIZE_OUT x RESIZE_OUT

IMAGE_RESIZE_SCHEMA = StructType([
    StructField("doc_id", LongType()),
    StructField("src_w", LongType()),
    StructField("src_h", LongType()),
    StructField("out_w", LongType()),
    StructField("out_h", LongType()),
    StructField("checksum", LongType()),
])


def synth_bmp(doc_id: int, w: int, h: int) -> bytes:
    """Byte-exact 24-bit uncompressed BMP: real file+info headers, rows
    padded to 4 bytes and stored BOTTOM-UP (the format's quirks, kept so
    the parser has to handle them). Grey pixel value at TOP-DOWN (x, y) is
    ``(x*7 + y*13 + doc_id) % 256`` — deterministic, so every downstream
    resize feature has an arithmetic oracle."""
    import struct

    import numpy as np

    x = np.arange(w, dtype="int64")
    y = np.arange(h, dtype="int64")
    grey = ((x[None, :] * 7 + y[:, None] * 13 + doc_id) % 256).astype("uint8")
    row_bytes = (w * 3 + 3) // 4 * 4
    rows = bytearray()
    for r in range(h - 1, -1, -1):  # bottom-up storage
        row = np.repeat(grey[r], 3).tobytes()  # B=G=R
        rows += row + b"\x00" * (row_bytes - len(row))
    info = struct.pack("<IiiHHIIiiII", 40, w, h, 1, 24, 0,
                       row_bytes * h, 2835, 2835, 0, 0)
    hdr = struct.pack("<2sIHHI", b"BM", 14 + 40 + row_bytes * h, 0, 0, 54)
    return hdr + info + bytes(rows)


def parse_resize_bmp(payload: bytes) -> tuple[int, int, int]:
    """REAL decode + resize on a codec-free format: parse the BMP headers
    (struct reads at spec offsets), un-pad and un-flip the pixel array
    back to top-down, nearest-neighbor it to RESIZE_OUT² (src index =
    dst*src_dim // out — the standard integer mapping), and reduce to a
    position-weighted checksum ``Σ v·(yy·out + xx + 1)`` so any drift in
    padding, row order, or the sampling map breaks the value, not just
    the shape. Returns (src_w, src_h, checksum)."""
    import struct

    import numpy as np

    if payload[:2] != b"BM":
        raise ValueError("not a BMP payload")
    data_off = struct.unpack_from("<I", payload, 10)[0]
    (hdr_size, w, h, _planes, bpp, comp) = struct.unpack_from(
        "<IiiHHI", payload, 14)
    if (hdr_size, bpp, comp) != (40, 24, 0) or h <= 0:
        raise ValueError("only uncompressed bottom-up 24-bit BMP supported")
    row_bytes = (w * 3 + 3) // 4 * 4
    raw = np.frombuffer(payload, dtype="uint8",
                        count=row_bytes * h, offset=data_off)
    rows = raw.reshape(h, row_bytes)[:, :w * 3:3]  # blue channel (==grey)
    grey = rows[::-1]                              # un-flip to top-down
    sx = (np.arange(RESIZE_OUT, dtype="int64") * w) // RESIZE_OUT
    sy = (np.arange(RESIZE_OUT, dtype="int64") * h) // RESIZE_OUT
    small = grey[np.ix_(sy, sx)].astype("int64")
    weights = (np.arange(RESIZE_OUT * RESIZE_OUT, dtype="int64") + 1
               ).reshape(RESIZE_OUT, RESIZE_OUT)
    return int(w), int(h), int((small * weights).sum())


@register(
    "e71_image_resize",
    oracle=f"""
WITH dims AS (
  SELECT doc_id, 5 + doc_id % 4 AS w, 4 + doc_id % 3 AS h FROM documents
), px AS (
  SELECT doc_id, w, h, xx, yy,
         ((xx * w) // {RESIZE_OUT} * 7 + (yy * h) // {RESIZE_OUT} * 13
          + doc_id) % 256 AS v
  FROM dims,
       UNNEST(range(0, {RESIZE_OUT})) AS tx(xx),
       UNNEST(range(0, {RESIZE_OUT})) AS ty(yy)
)
SELECT doc_id,
       CAST(w AS BIGINT) AS src_w,
       CAST(h AS BIGINT) AS src_h,
       CAST({RESIZE_OUT} AS BIGINT) AS out_w,
       CAST({RESIZE_OUT} AS BIGINT) AS out_h,
       CAST(sum(v * (yy * {RESIZE_OUT} + xx + 1)) AS BIGINT) AS checksum
FROM px GROUP BY doc_id, w, h
""",
    tags=("north-star", "multimodal", "udf", "resize"),
)
def e71_image_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL image decode + RESIZE, oracle-checked end to end — the resize
    slot of the multimodal ladder (e13b headers, e29 audio, e30 frames):
    build a byte-exact 24-bit uncompressed BMP per document (dimensions
    derived from doc_id; padded bottom-up rows — the real format quirks),
    push it through the binary-column → Arrow ``mapInPandas`` path, then
    decode the pixel array and nearest-neighbor it to 4×4 with vectorized
    numpy — BMP needs no codec, so unlike the e13 stub nothing here is
    faked. The DuckDB oracle recomputes the resized checksum purely
    arithmetically (nearest-neighbor of a formula image is the formula at
    the sampled indices), so drift in the builder OR the decoder — a
    padding slip, a forgotten row flip, an off-by-one in the sampling map
    — breaks the hash, not just the row count.

    100 TB shape: identical to every media extractor here — binary
    payloads stream batch-by-batch through Arrow, output is narrow typed
    metadata, embarrassingly parallel, no shuffle; a real JPEG/PNG
    pipeline swaps parse_resize_bmp's body for a codec call behind the
    same schema and batch shape."""
    d = table(spark, sf_dir, "documents").select("doc_id")

    def _synth_and_resize(
            batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = []
            for i in pdf["doc_id"]:
                i = int(i)
                payload = synth_bmp(i, 5 + i % 4, 4 + i % 3)
                w, h, checksum = parse_resize_bmp(payload)
                out.append((i, w, h, RESIZE_OUT, RESIZE_OUT, checksum))
            yield pd.DataFrame(
                out, columns=["doc_id", "src_w", "src_h", "out_w",
                              "out_h", "checksum"]).astype("int64")

    return d.mapInPandas(_synth_and_resize, schema=IMAGE_RESIZE_SCHEMA)


# --- real audio resample (integer decimation on the PCM path) ---------------

RESAMPLE_FACTOR = 2
RESAMPLE_OUT_RATE = WAV_SAMPLE_RATE // RESAMPLE_FACTOR

AUDIO_RESAMPLE_SCHEMA = StructType([
    StructField("doc_id", LongType()),
    StructField("rate_in", LongType()),
    StructField("rate_out", LongType()),
    StructField("n_in", LongType()),
    StructField("n_out", LongType()),
    StructField("crossings_out", LongType()),
    StructField("max_abs_out", LongType()),
])


def resample_wav(payload: bytes) -> bytes:
    """REAL resample on the codec-free path: decode the PCM chunk, take
    every RESAMPLE_FACTOR-th sample (integer decimation — the 16 kHz →
    8 kHz step speech pipelines run), and RE-ENCODE a canonical WAV at the
    reduced rate. Returns bytes so the output is itself a valid media
    payload, not just features."""
    import struct

    import numpy as np

    if payload[:4] != b"RIFF" or payload[8:12] != b"WAVE":
        raise ValueError("not a RIFF/WAVE payload")
    (_, _, _, _, fmt_size, audio_fmt, n_channels, sample_rate, _, _,
     bits, _, data_size) = struct.unpack("<4sI4s4sIHHIIHH4sI", payload[:44])
    if (fmt_size, audio_fmt, n_channels, bits) != (16, 1, 1, 16):
        raise ValueError("only canonical mono 16-bit PCM supported")
    samples = np.frombuffer(payload[44:44 + data_size], dtype="<i2")
    out = samples[::RESAMPLE_FACTOR]
    rate = sample_rate // RESAMPLE_FACTOR
    data = out.tobytes()
    hdr = struct.pack(
        "<4sI4s4sIHHIIHH4sI", b"RIFF", 36 + len(data), b"WAVE", b"fmt ",
        16, 1, 1, rate, rate * 2, 2, 16, b"data", len(data))
    return hdr + data


@register(
    "e72_audio_resample",
    oracle=f"""
WITH p AS (
  SELECT doc_id,
         256 + n_chars % 256 AS n_in,
         1 + doc_id % 8 AS q
  FROM documents
)
SELECT doc_id,
       {WAV_SAMPLE_RATE}::BIGINT AS rate_in,
       {RESAMPLE_OUT_RATE}::BIGINT AS rate_out,
       CAST(n_in AS BIGINT) AS n_in,
       CAST((n_in + 1) // 2 AS BIGINT) AS n_out,
       CAST(((n_in + 1) // 2 - 1) // q AS BIGINT) AS crossings_out,
       1000::BIGINT AS max_abs_out
FROM p
""",
    tags=("north-star", "multimodal", "udf", "resample"),
)
def e72_audio_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL audio RESAMPLE, oracle-checked end to end — the audio sibling
    of e71's image resize, completing the media ladder's transform slots:
    per document, build the e29-style square-wave WAV (16 kHz, period
    2q samples with q = 1 + doc_id % 8 — even periods so decimation is
    exact), decode the PCM chunk, DECIMATE by 2 (the 16 kHz → 8 kHz step
    speech pipelines run), re-encode a canonical 8 kHz WAV, and re-parse
    THAT file for its features — so the checked numbers have passed
    through decode → transform → encode → decode, proving the re-encoded
    payload is itself valid. The oracle is pure arithmetic: decimating a
    period-2q square wave yields a period-q square wave of ceil(n/2)
    samples, which crosses zero exactly (ceil(n/2)-1) // q times and
    keeps |s| = 1000 everywhere.

    100 TB shape: identical to the other media extractors — Arrow
    batches, narrow typed output, no shuffle; a real codec pipeline
    swaps the decimator for a polyphase filter behind the same
    schema."""
    d = table(spark, sf_dir, "documents").select("doc_id", "n_chars")

    def _synth_resample_verify(
            batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = []
            for i, n in zip(pdf["doc_id"], pdf["n_chars"]):
                i, n_in = int(i), 256 + int(n) % 256
                wav = synth_wav(i, n_in, 2 * (1 + i % 8))
                wav2 = resample_wav(wav)
                rate2, n_out, crossings, max_abs, _ = \
                    parse_wav_features(wav2)
                out.append((i, WAV_SAMPLE_RATE, rate2, n_in, n_out,
                            crossings, max_abs))
            yield pd.DataFrame(
                out, columns=["doc_id", "rate_in", "rate_out", "n_in",
                              "n_out", "crossings_out", "max_abs_out"]
            ).astype("int64")

    return d.mapInPandas(_synth_resample_verify,
                         schema=AUDIO_RESAMPLE_SCHEMA)


@register(
    "e87_modality_coverage",
    oracle="""
SELECT d.source,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(count(e.vec_id) AS BIGINT) AS n_with_vec,
       CAST(10000 * count(e.vec_id) // count(*) AS BIGINT)
           AS coverage_bp,
       CAST(count(DISTINCT e.label) AS BIGINT) AS n_distinct_labels
FROM documents d LEFT JOIN embeddings e ON d.doc_id = e.vec_id
GROUP BY d.source
""",
    tags=("north-star", "E6", "multimodal", "stewardship"),
)
def e87_modality_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MODALITY-COVERAGE report (E6's second representative): per source,
    how many documents have an embedding-modality row, the coverage in
    basis points, and the label diversity of the covered slice — the
    completeness audit a multimodal training set needs before sampling
    assumes every doc has every modality.

    LEFT join keeps uncovered docs (count(vec_id) skips their NULLs —
    the three-valued-logic behavior the oracle mirrors). Fixed-point
    coverage via 10000L × n DIV total (the d112 integer-ratio rule).

    100 TB: embeddings co-partition with documents on the id key; the
    aggregate is map-side-combinable on the few-valued source column."""
    d = table(spark, sf_dir, "documents")
    e = table(spark, sf_dir, "embeddings")
    j = d.join(e, d.doc_id == e.vec_id, "left")
    return (j.groupBy("source")
            .agg(F.count(F.lit(1)).cast("bigint").alias("n_docs"),
                 F.count("vec_id").cast("bigint").alias("n_with_vec"),
                 F.count_distinct("label").cast("bigint")
                 .alias("n_distinct_labels"))
            .select("source", "n_docs", "n_with_vec",
                    F.expr("CAST(10000L * n_with_vec DIV n_docs AS BIGINT)")
                    .alias("coverage_bp"),
                    "n_distinct_labels"))


PNG_DECODE_SCHEMA = StructType([
    StructField("doc_id", LongType()),
    StructField("width", LongType()),
    StructField("height", LongType()),
    StructField("n_channels", LongType()),
    StructField("mean_luma", LongType()),
    StructField("checksum", LongType()),
])


@register(
    "e98_png_decode",
    oracle="""
WITH dims AS (
  SELECT doc_id, 5 + doc_id % 4 AS w, 4 + doc_id % 3 AS h FROM documents
), px AS (
  SELECT doc_id, w, h, xx, yy, (xx * 7 + yy * 13 + doc_id) % 256 AS v
  FROM dims,
       UNNEST(range(0, 8)) AS tx(xx),
       UNNEST(range(0, 6)) AS ty(yy)
  WHERE xx < w AND yy < h
)
SELECT doc_id,
       CAST(w AS BIGINT) AS width,
       CAST(h AS BIGINT) AS height,
       CAST(1 AS BIGINT) AS n_channels,
       CAST(sum(v) // (w * h) AS BIGINT) AS mean_luma,
       CAST(sum(v * (yy * w + xx + 1)) AS BIGINT) AS checksum
FROM px GROUP BY doc_id, w, h
""",
    tags=("north-star", "multimodal", "udf", "png"),
)
def e98_png_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL full-pixel PNG decode, oracle-checked end to end — the query
    that retires the repo's last stub: build a byte-exact greyscale-8
    PNG per document (pixel (x,y) = (x·7 + y·13 + doc_id) mod 256;
    scanline y encoded with filter type y mod 5, so None/Sub/Up/Average/
    Paeth ALL cycle), push it through the binary-column → Arrow
    ``mapInPandas`` path, and decode it with the pure-stdlib decoder
    (zlib inflate + per-filter reconstruction + chunk-CRC verification —
    multimodal.decode_png). The DuckDB oracle recomputes width, height,
    floor-mean luma, and a position-weighted checksum Σ v·(y·w + x + 1)
    purely arithmetically, so a slip in ANY filter's defilter math, the
    row order, or the deflate framing breaks the hash, not just the row
    count. decode_image (the dispatch the pipeline-facing extractors
    use) produces the 4-tuple half of the output, so the public entry
    point is graded too, not just the inner decoder.

    100 TB shape: identical to e71/e72 — binary payloads stream
    batch-by-batch through Arrow, output is narrow typed metadata,
    embarrassingly parallel, no shuffle; this is the 'image corpus
    feature extraction' slot with the codec now real."""
    import numpy as np

    # fan_out: the per-doc synth+decode below is the CPU wall; the
    # unsplittable single-row-group scan is otherwise one task.
    d = fan_out(table(spark, sf_dir, "documents").select("doc_id"),
                "doc_id")

    def _synth_and_decode(
            batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = []
            dispatch_checked = False
            for i in pdf["doc_id"]:
                i = int(i)
                payload = synth_png(i, 5 + i % 4, 4 + i % 3)
                # ONE decode per payload (the per-pixel defilter is the
                # dominant cost — r9 review); geometry/luma derive from
                # the pixel array.
                px = decode_png(payload).astype("int64")
                height, width = px.shape
                mean_luma = int(px.sum()) // (width * height)
                if not dispatch_checked:
                    # grade the public dispatch once per batch: it must
                    # agree with the derived values exactly
                    assert decode_image(payload) == (
                        width, height, 1, mean_luma)
                    dispatch_checked = True
                weights = (np.arange(width * height, dtype="int64") + 1
                           ).reshape(height, width)
                out.append((i, width, height, 1, mean_luma,
                            int((px * weights).sum())))
            yield pd.DataFrame(
                out, columns=["doc_id", "width", "height", "n_channels",
                              "mean_luma", "checksum"]).astype("int64")

    return d.mapInPandas(_synth_and_decode, schema=PNG_DECODE_SCHEMA)


@register(
    "e99_image_content_dedup",
    oracle="""
WITH d AS (
    SELECT doc_id, doc_id % 64 AS ck, doc_id % 5 AS variant FROM documents
), px AS (
    SELECT ck, w, h, xx, yy, (xx * 7 + yy * 13 + ck) % 256 AS v
    FROM (SELECT DISTINCT ck, 5 + ck % 4 AS w, 4 + ck % 3 AS h FROM d)
         AS dims,
         UNNEST(range(0, 8)) AS tx(xx),
         UNNEST(range(0, 6)) AS ty(yy)
    WHERE xx < w AND yy < h
), ch AS (
    SELECT ck, CAST(sum(v * (yy * w + xx + 1)) AS BIGINT) AS checksum
    FROM px GROUP BY ck, w, h
)
SELECT ch.checksum,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(count(DISTINCT d.variant) AS BIGINT) AS n_byte_variants
FROM d JOIN ch USING (ck)
GROUP BY ch.checksum
""",
    tags=("north-star", "llm-pipeline", "multimodal", "dedup"),
)
def e99_image_content_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IMAGE exact-dedup by DECODED CONTENT — the media slot of the
    dedup family (E1 hashes text bytes; a byte-hash on media misses
    re-encoded duplicates): every document gets a real PNG whose pixel
    content is keyed on ``doc_id % 64`` but whose ENCODING varies per
    doc (scanline filter schedule rotated by ``doc_id % 5`` — byte-
    different, pixel-identical files, the 'same image, different
    compressor' situation every crawl corpus has). The pipeline decodes
    each payload (full zlib+defilter) and groups on the decoded-pixel
    checksum; ``n_byte_variants`` (distinct md5 count per content
    group, >1 everywhere) is the in-result proof that a byte-level
    dedup would have split these groups. The DuckDB oracle recomputes
    content groups and checksums purely arithmetically.

    100 TB: decode is the embarrassingly-parallel Arrow scan (e98's
    shape); the dedup is one groupBy on a 8-byte checksum — partial
    aggregation bounds the exchange by distinct content, not corpus
    size (e1's economics). For near-dup (not exact) content, the
    checksum slot generalizes to a perceptual hash over the same
    plumbing."""
    import hashlib

    import numpy as np

    # fan_out: the per-doc synth+decode below is the CPU wall; the
    # unsplittable single-row-group scan is otherwise one task.
    d = fan_out(table(spark, sf_dir, "documents").select("doc_id"),
                "doc_id")

    def _decode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = []
            for i in pdf["doc_id"]:
                i = int(i)
                ck = i % 64
                payload = synth_png(ck, 5 + ck % 4, 4 + ck % 3,
                                    filter_offset=i % 5)
                px = decode_png(payload).astype("int64")
                h, w = px.shape
                weights = (np.arange(w * h, dtype="int64") + 1
                           ).reshape(h, w)
                out.append((int((px * weights).sum()),
                            hashlib.md5(payload).hexdigest()))
            yield pd.DataFrame(out, columns=["checksum", "byte_md5"])

    decoded = d.mapInPandas(_decode, schema="checksum long, byte_md5 string")
    return (decoded.groupBy("checksum")
            .agg(F.count(F.lit(1)).cast("bigint").alias("n_docs"),
                 F.countDistinct("byte_md5").cast("bigint")
                 .alias("n_byte_variants")))


def _ahash_ctes(cks: str) -> str:
    """The aHash oracle chain over the content keys ``ck`` of the FROM item
    ``cks``: ``px`` (the 8x8 nearest-neighbor sample of the base pattern —
    brightness cancels out of the threshold test exactly, so it never
    appears), ``tot``, ``bits`` and ``ahash`` (ck, hash_hi, hash_lo)."""
    return f"""px AS (
    SELECT ck, yy * 8 + xx AS i,
           ((xx * (16 + ck % 16)) // 8 * 7
            + (yy * (12 + ck % 8)) // 8 * 13 + ck) % 128 AS v
    FROM {cks},
         UNNEST(range(0, 8)) AS tx(xx),
         UNNEST(range(0, 8)) AS ty(yy)
), tot AS (
    SELECT ck, sum(v) AS s FROM px GROUP BY ck
), bits AS (
    SELECT px.ck, px.i,
           CASE WHEN 64 * px.v > tot.s THEN 1 ELSE 0 END AS b
    FROM px JOIN tot USING (ck)
), ahash AS (
    SELECT ck,
           CAST(sum(CASE WHEN i >= 32
                         THEN b * (1::BIGINT << (i - 32)) ELSE 0 END)
                AS BIGINT) AS hash_hi,
           CAST(sum(CASE WHEN i < 32
                         THEN b * (1::BIGINT << i) ELSE 0 END)
                AS BIGINT) AS hash_lo
    FROM bits GROUP BY ck
)"""


@register(
    "e101_image_ahash_neardup",
    oracle=f"""
WITH d AS (
    SELECT doc_id, doc_id % 64 AS ck, doc_id % 5 AS bright FROM documents
), {_ahash_ctes("(SELECT DISTINCT ck FROM d) AS cks")}
SELECT h.hash_hi, h.hash_lo,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(count(DISTINCT d.bright) AS BIGINT) AS n_brightness_variants
FROM d JOIN ahash h USING (ck)
GROUP BY h.hash_hi, h.hash_lo
""",
    tags=("north-star", "llm-pipeline", "multimodal", "dedup", "neardup"),
)
def e101_image_ahash_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PERCEPTUAL image hashing (8×8 average-hash) for NEAR-dup grouping
    — where e99's exact content dedup splits on ANY pixel change, aHash
    groups re-renders that differ by a global brightness shift (the
    'same image, different exposure/levels' duplicate class): every doc
    renders its content pattern (keyed on doc_id % 64, values 0..127)
    plus a per-doc brightness offset (16·(doc_id % 5), no wraparound by
    construction), decodes the real PNG, resizes to 8×8 nearest-
    neighbor, and sets bit i = (64·vᵢ > Σv) — an EXACT integer
    threshold: adding c to every pixel adds 64c to both sides, so the
    comparison (and therefore the hash) is brightness-invariant by
    arithmetic, not approximation, which is what makes an exact oracle
    possible for a 'perceptual' operator. The hash packs into
    (hash_hi, hash_lo) 32-bit halves (no BIGINT sign-bit games — the
    simhash64 two's-complement trick not needed). n_brightness_variants
    per group (5 everywhere at sf ≥ 0.01) is the in-result witness
    that exact pixel dedup would have split these groups.

    100 TB: decode+hash is the embarrassingly-parallel Arrow scan; the
    grouping exchange carries 16 bytes per doc and is partial-
    aggregated to distinct-hash cardinality — the banded-LSH economics
    of e2d applied to images. Hamming-radius near-dup (not just
    radius-0) buckets these same halves the e2c band way."""
    # fan_out: the per-doc synth+decode below is the CPU wall; the
    # unsplittable single-row-group scan is otherwise one task.
    d = fan_out(table(spark, sf_dir, "documents").select("doc_id"),
                "doc_id")

    def _hash(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            # no doc_id in the output: Spark can't prune columns back
            # through a Python boundary, and the grouping never reads it
            out = [(*doc_ahash(int(i)), int(i) % 5)
                   for i in pdf["doc_id"]]
            yield pd.DataFrame(
                out, columns=["hash_hi", "hash_lo", "bright"]
            ).astype("int64")

    hashed = d.mapInPandas(
        _hash, schema="hash_hi long, hash_lo long, bright long")
    return (hashed.groupBy("hash_hi", "hash_lo")
            .agg(F.count(F.lit(1)).cast("bigint").alias("n_docs"),
                 F.countDistinct("bright").cast("bigint")
                 .alias("n_brightness_variants")))


def doc_ahash(i: int) -> tuple[int, int]:
    """The e101/e102 fixture hash: render doc i's content pattern (keyed
    on i % 64) at brightness 16·(i % 5) — bounded so nothing wraps mod
    256 — decode the real PNG, nearest-neighbor to 8×8, and set bit
    j = (64·vⱼ > Σv), an EXACT integer threshold that is brightness-
    invariant by arithmetic. Returns (hash_hi, hash_lo) 32-bit halves
    (sign-bit-free on both engines)."""
    import numpy as np

    ck, bright = i % 64, i % 5
    w, h = 16 + ck % 16, 12 + ck % 8
    px = decode_png(synth_png_brightness(ck, w, h, bright * 16)
                    ).astype("int64")
    sx = (np.arange(8, dtype="int64") * w) // 8
    sy = (np.arange(8, dtype="int64") * h) // 8
    small = px[np.ix_(sy, sx)]
    bits = (64 * small > small.sum()).flatten()
    weights = 1 << np.arange(64, dtype="uint64")
    return (int((bits[32:] * weights[:32]).sum()),
            int((bits[:32] * weights[:32]).sum()))


@register(
    "e102_image_hamming_pairs",
    oracle=f"""
WITH d AS (
    SELECT DISTINCT doc_id % 64 AS ck FROM documents
), {_ahash_ctes("d")}, hx AS (
    SELECT DISTINCT hash_hi, hash_lo FROM ahash
), bands AS (
    SELECT hash_hi, hash_lo, bb.band_id,
           CASE bb.band_id
               WHEN 0 THEN hash_lo & 65535
               WHEN 1 THEN (hash_lo >> 16) & 65535
               WHEN 2 THEN hash_hi & 65535
               ELSE (hash_hi >> 16) & 65535 END AS band_val
    FROM hx, UNNEST(range(0, 4)) AS bb(band_id)
), pairs AS (
    SELECT DISTINCT a.hash_hi AS a_hi, a.hash_lo AS a_lo,
                    c.hash_hi AS b_hi, c.hash_lo AS b_lo
    FROM bands a JOIN bands c
      ON a.band_id = c.band_id AND a.band_val = c.band_val
     AND (a.hash_hi < c.hash_hi
          OR (a.hash_hi = c.hash_hi AND a.hash_lo < c.hash_lo))
)
SELECT a_hi, a_lo, b_hi, b_lo,
       CAST(bit_count(xor(a_hi, b_hi)) + bit_count(xor(a_lo, b_lo))
            AS BIGINT) AS hamming
FROM pairs
WHERE bit_count(xor(a_hi, b_hi)) + bit_count(xor(a_lo, b_lo)) <= 8
""",
    tags=("north-star", "llm-pipeline", "multimodal", "dedup", "neardup",
          "lsh"),
)
def e102_image_hamming_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BANDED Hamming-radius near-dup over perceptual image hashes —
    e101 groups radius-0 (identical aHash); this finds PAIRS of distinct
    hashes within Hamming distance 8 using the e2c/e2d banding economics
    on images: each 64-bit hash splits into four 16-bit bands, candidate
    pairs must share ≥1 exact band (an EQUI-join — measured 96
    candidates of 1,953 possible pairs at this fixture's geometry, a
    20× reduction that grows with corpus size), and only candidates pay
    the exact bit_count(xor) distance filter. Banding is recall-bounded
    as always (d ≤ 3 guarantees a shared band by pigeonhole; larger
    distances are found only when errors cluster) — both engines
    implement the SAME band-then-filter algorithm, so the oracle pins
    the algorithm, and the recall trade is the documented LSH semantic,
    not drift. Hash halves are 32-bit positives: `&`, `>>`,
    `bit_count`, `xor` all match between engines with no sign-bit games
    (the simhash64 two's-complement trick is unnecessary here).

    100 TB: per-doc hashing is the Arrow scan (16 bytes out per doc);
    the distinct-hash set is content-bounded, bands explode it ×4, and
    the pair join is hash-partitioned on (band_id, band_val) — never
    all-pairs. This is the image twin of the text banded-near-dup
    family (e2c/e2d/e33). The distinct hash set is MATERIALIZED once
    (probe_checkpoint) before the band self-join: without it both join
    sides embed the per-doc decode lineage — the executed plan showed
    two MapInPandas nodes and no ReusedExchange, so the corpus decoded
    twice per run (ADVICE r9; the same hazard e103 checkpoints
    against). The checkpoint also hands the pre-join lineage to the
    internal-plan ratchet via FIXPOINT_QUERIES."""
    from pyspark_ml_features_spark.plans.audit import probe_checkpoint

    hx = probe_checkpoint(doc_hashes(spark, sf_dir).distinct(),
                          "e102.doc_hashes")
    return hamming_pairs(hx)


def doc_hashes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc perceptual hashes over the Arrow decode boundary — the
    shared front end of e102 (pairs) and e103 (clusters).

    The decode boundary is per-row expensive (~285 µs/doc: PNG encode +
    real inflate/defilter + 8×8 threshold hash), so the scan is fanned
    out across cores before it — the single-row-group fixture file
    otherwise pins the whole decode stage to ONE task (guide §2.5 input
    skew / §4 Python boundary; no-op on a multi-split cluster scan)."""
    d = fan_out(table(spark, sf_dir, "documents").select("doc_id"),
                "doc_id")

    def _hash(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = [doc_ahash(int(i)) for i in pdf["doc_id"]]
            yield pd.DataFrame(out, columns=["hash_hi", "hash_lo"]
                               ).astype("int64")

    return d.mapInPandas(_hash, schema="hash_hi long, hash_lo long")


def hamming_pairs(hx: DataFrame, radius: int = 8) -> DataFrame:
    """Banded Hamming-radius pairs over DISTINCT (hash_hi, hash_lo)
    rows: four 16-bit bands → equi-join candidates → exact
    bit_count(xor) ≤ radius filter."""
    bands = hx.select(
        "hash_hi", "hash_lo",
        F.posexplode(F.array(
            F.col("hash_lo").bitwiseAND(F.lit(65535)),
            F.shiftright("hash_lo", 16).bitwiseAND(F.lit(65535)),
            F.col("hash_hi").bitwiseAND(F.lit(65535)),
            F.shiftright("hash_hi", 16).bitwiseAND(F.lit(65535)),
        )).alias("band_id", "band_val"))
    a = bands.alias("a")
    c = bands.alias("c")
    pairs = (a.join(c, on=[
        F.col("a.band_id") == F.col("c.band_id"),
        F.col("a.band_val") == F.col("c.band_val"),
        (F.col("a.hash_hi") < F.col("c.hash_hi"))
        | ((F.col("a.hash_hi") == F.col("c.hash_hi"))
           & (F.col("a.hash_lo") < F.col("c.hash_lo")))])
        .select(F.col("a.hash_hi").alias("a_hi"),
                F.col("a.hash_lo").alias("a_lo"),
                F.col("c.hash_hi").alias("b_hi"),
                F.col("c.hash_lo").alias("b_lo"))
        .distinct())
    hamming = (F.bit_count(F.col("a_hi").bitwiseXOR(F.col("b_hi")))
               + F.bit_count(F.col("a_lo").bitwiseXOR(F.col("b_lo"))))
    return (pairs.withColumn("hamming", hamming.cast("bigint"))
            .filter(F.col("hamming") <= radius))


@register(
    "e103_image_neardup_clusters",
    oracle=f"""
WITH RECURSIVE d AS (
    SELECT doc_id, doc_id % 64 AS ck FROM documents
), {_ahash_ctes("(SELECT DISTINCT ck FROM d) AS cks")}, hx AS (
    SELECT DISTINCT hash_hi, hash_lo FROM ahash
), keys AS (
    -- one HUGEINT key per hash: lexicographic pair order == numeric
    -- order of hi*2^32+lo, and HUGEINT sidesteps the BIGINT sign bit
    SELECT hash_hi::HUGEINT * 4294967296 + hash_lo AS k,
           hash_hi, hash_lo
    FROM hx
), bands AS (
    SELECT hash_hi, hash_lo, bb.band_id,
           CASE bb.band_id
               WHEN 0 THEN hash_lo & 65535
               WHEN 1 THEN (hash_lo >> 16) & 65535
               WHEN 2 THEN hash_hi & 65535
               ELSE (hash_hi >> 16) & 65535 END AS band_val
    FROM hx, UNNEST(range(0, 4)) AS bb(band_id)
), pairs AS (
    SELECT DISTINCT a.hash_hi AS a_hi, a.hash_lo AS a_lo,
                    c.hash_hi AS b_hi, c.hash_lo AS b_lo
    FROM bands a JOIN bands c
      ON a.band_id = c.band_id AND a.band_val = c.band_val
     AND (a.hash_hi < c.hash_hi
          OR (a.hash_hi = c.hash_hi AND a.hash_lo < c.hash_lo))
), close_pairs AS (
    SELECT * FROM pairs
    WHERE bit_count(xor(a_hi, b_hi)) + bit_count(xor(a_lo, b_lo)) <= 8
), edges AS (
    SELECT a_hi::HUGEINT * 4294967296 + a_lo AS src,
           b_hi::HUGEINT * 4294967296 + b_lo AS dst
    FROM close_pairs
    UNION ALL
    SELECT b_hi::HUGEINT * 4294967296 + b_lo,
           a_hi::HUGEINT * 4294967296 + a_lo
    FROM close_pairs
), reach(node, lbl) AS (
    SELECT k, k FROM keys
    UNION
    SELECT e.dst, r.lbl FROM reach r JOIN edges e ON e.src = r.node
), cc AS (
    SELECT node, min(lbl) AS rep FROM reach GROUP BY node
), nd AS (
    SELECT ahash.hash_hi::HUGEINT * 4294967296 + ahash.hash_lo AS node,
           count(*) AS n_docs
    FROM d JOIN ahash USING (ck)
    GROUP BY 1
)
SELECT CAST(cc.rep // 4294967296 AS BIGINT) AS rep_hi,
       CAST(cc.rep % 4294967296 AS BIGINT) AS rep_lo,
       CAST(count(*) AS BIGINT) AS n_hashes,
       CAST(sum(nd.n_docs) AS BIGINT) AS n_docs
FROM cc JOIN nd USING (node)
GROUP BY cc.rep
""",
    tags=("north-star", "llm-pipeline", "multimodal", "dedup", "graph",
          "iterative"),
)
def e103_image_neardup_clusters(spark: SparkSession,
                                sf_dir: str) -> DataFrame:
    """IMAGE near-dup CLUSTERS end to end — the full media-dedup
    pipeline as one graded query: decode (e98's boundary) → perceptual
    hash (e101) → banded Hamming pairs (e102) → connected components
    (e45's checkpointed min-label fixpoint) → one report row per
    cluster with its representative hash (the lexicographically
    smallest member), hash count, and document count. Near-dup that is
    only TRANSITIVELY connected (A≈B, B≈C, d(A,C) > radius) lands in
    one cluster — the semantics a pair list alone cannot express, and
    the keep-one-per-cluster predicate for a crawl corpus.

    The Spark fixpoint runs over dense rank ids (row_number over the
    content-bounded distinct-hash set — a 64-bit hash key could
    overflow BIGINT's sign bit); the oracle replays the identical
    closure as a DuckDB recursive CTE over HUGEINT-packed hash keys.
    Rank order equals lexicographic hash order, so both engines elect
    the same representative and the report hash-matches exactly.

    100 TB: hashing is the linear Arrow scan; pairs/closure run over
    the DISTINCT-hash graph, whose size is content-bounded (dedup
    economics, not corpus economics); closure cost is O(diameter)
    rounds like e45."""
    from pyspark.sql import Window

    from pyspark_ml_features_spark.operators.graph import (
        connected_components)
    from pyspark_ml_features_spark.plans.audit import probe_checkpoint

    # Materialize the per-doc decode+hash ONCE: every downstream branch
    # (pair join sides, CC init, nd, rep) embeds this lineage, and the
    # per-doc PNG defilter is the dominant cost — without the checkpoint
    # the corpus decodes >= 4 times per run (r9 late review; the exact
    # graph.py connected_components.edges situation).
    hashed = probe_checkpoint(doc_hashes(spark, sf_dir),
                              "e103.doc_hashes")
    hx = hashed.distinct()
    ids = probe_checkpoint(
        hx.withColumn(
            "node",
            F.row_number().over(Window.orderBy("hash_hi", "hash_lo"))
            .cast("long")),
        "e103.ids")
    prs = hamming_pairs(hx)
    a_ids = ids.select(F.col("hash_hi").alias("a_hi"),
                       F.col("hash_lo").alias("a_lo"),
                       F.col("node").alias("src"))
    b_ids = ids.select(F.col("hash_hi").alias("b_hi"),
                       F.col("hash_lo").alias("b_lo"),
                       F.col("node").alias("dst"))
    edges = (prs.join(a_ids, ["a_hi", "a_lo"]).join(b_ids, ["b_hi", "b_lo"])
             .select("src", "dst"))
    cc = connected_components(ids.select("node"), edges)
    nd = (hashed.groupBy("hash_hi", "hash_lo")
          .agg(F.count(F.lit(1)).alias("n"))
          .join(ids, ["hash_hi", "hash_lo"])
          .select("node", "n"))
    per_cluster = (cc.join(nd, "node")
                   .groupBy("cluster_id")
                   .agg(F.count(F.lit(1)).cast("bigint").alias("n_hashes"),
                        F.sum("n").cast("bigint").alias("n_docs")))
    rep = ids.select(F.col("node").alias("cluster_id"),
                     F.col("hash_hi").alias("rep_hi"),
                     F.col("hash_lo").alias("rep_lo"))
    return (per_cluster.join(rep, "cluster_id")
            .select("rep_hi", "rep_lo", "n_hashes", "n_docs"))


# e113 token arithmetic: patch tokens = pixel count, plus a pixel-SUM
# remainder so the full defilter (not just the header) is load-bearing —
# one wrong pixel anywhere shifts n_tokens, which renumbers every later
# bin in the document's (lang, shard) group.
IMG_TOKEN_MOD = 17


IMG_PACK_CAP = 120


def _e113_oracle() -> str:
    return f"""
WITH RECURSIVE dims AS (
    SELECT doc_id, lang, doc_id % 4 AS shard,
           5 + doc_id % 4 AS w, 4 + doc_id % 3 AS h
    FROM documents
), px AS (
    SELECT doc_id, w, h, (xx * 7 + yy * 13 + doc_id) % 256 AS v
    FROM dims,
         UNNEST(range(0, 8)) AS tx(xx),
         UNNEST(range(0, 6)) AS ty(yy)
    WHERE xx < w AND yy < h
), toks AS (
    SELECT d.doc_id, d.lang, d.shard,
           CAST(d.w * d.h + s.ps % {IMG_TOKEN_MOD} AS BIGINT) AS n_tokens
    FROM dims d JOIN (SELECT doc_id, sum(v) AS ps FROM px
                      GROUP BY doc_id) s
         ON d.doc_id = s.doc_id
), docs AS (
    SELECT lang, shard, doc_id, n_tokens,
           row_number() OVER (PARTITION BY lang, shard
                              ORDER BY doc_id) AS rn
    FROM toks
), pack AS (
    SELECT lang, shard, doc_id, n_tokens, rn,
           CAST(1 AS BIGINT) AS bin_id, n_tokens AS fill
    FROM docs WHERE rn = 1
    UNION ALL
    SELECT d.lang, d.shard, d.doc_id, d.n_tokens, d.rn,
           CASE WHEN p.fill + d.n_tokens > {IMG_PACK_CAP}
                THEN p.bin_id + 1 ELSE p.bin_id END,
           CASE WHEN p.fill + d.n_tokens > {IMG_PACK_CAP}
                THEN d.n_tokens ELSE p.fill + d.n_tokens END
    FROM pack p JOIN docs d ON d.lang = p.lang AND d.shard = p.shard
                           AND d.rn = p.rn + 1
)
SELECT lang, CAST(shard AS BIGINT) AS shard, doc_id, n_tokens, bin_id
FROM pack
"""


@register(
    "e113_image_pack_chain",
    oracle=_e113_oracle(),
    tags=("north-star", "multimodal", "packing", "udf", "png",
          "integration"),
)
def e113_image_pack_chain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MULTIMODAL → PACKING chain — the first query to cross the Arrow
    boundary TWICE (driver-graded green in CORRECTNESS_r12): every
    document gets e98's byte-exact greyscale
    PNG (pixel (x,y) = (x·7 + y·13 + doc_id) mod 256, all five scanline
    filters cycling), the REAL pure-stdlib decoder recovers the pixels
    (crossing #1, mapInPandas), the vision-token count is derived from
    the DECODED CONTENT (n_tokens = w·h patch tokens + pixel-sum mod
    {IMG_TOKEN_MOD}, so a slip in any filter's defilter math moves
    n_tokens), and the counts flow into e51's first-fit capacity fold
    (crossing #2, applyInPandas) — the multimodal-training-data build:
    decode, budget, pack. The fold makes the chain maximally
    load-bearing: ONE wrong pixel in ONE image renumbers every later
    bin in its (lang, shard) group. The DuckDB oracle recomputes the
    token arithmetic from the pattern definition and replays the
    recursive first-fit fold (e51/e110's grading pattern) — the codec
    itself never crosses the comparison, its OUTPUT does.

    100 TB: crossing #1 is embarrassingly parallel (binary payloads
    stream batch-by-batch through Arrow, output is 4 scalar columns —
    e98's shape, no shuffle); crossing #2 shuffles only (lang, shard,
    doc_id, n_tokens) with per-task state bounded by the shard knob
    (e51's measured ladder). Image bytes never shuffle anywhere.

    Cites: multimodal.py:e98_png_decode (decode boundary + pattern
    oracle), packing.py:greedy_pack (the fold),
    quality.py:e110 (chain-audit doctrine)."""
    from pyspark_ml_features_spark.operators.packing import greedy_pack

    # fan_out: per-doc PNG synth + real decode is the CPU wall; the
    # unsplittable single-row-group scan is otherwise one task.
    d = fan_out(table(spark, sf_dir, "documents").select("doc_id", "lang"),
                "doc_id")

    def _decode_tokens(
            batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = []
            for i, lang in zip(pdf["doc_id"], pdf["lang"]):
                i = int(i)
                payload = synth_png(i, 5 + i % 4, 4 + i % 3)
                px = decode_png(payload).astype("int64")
                h, w = px.shape
                out.append((lang, i % 4, i,
                            w * h + int(px.sum()) % IMG_TOKEN_MOD))
            yield pd.DataFrame(
                out, columns=["lang", "shard", "doc_id", "n_tokens"])

    toks = d.mapInPandas(
        _decode_tokens,
        schema="lang string, shard bigint, doc_id bigint, n_tokens bigint")
    return greedy_pack(toks, IMG_PACK_CAP)
