"""Multimodal column plumbing: opaque binary payloads + typed metadata.

Image/audio/video payloads are ``binary`` columns with a metadata
struct; decode/resize/frame-sample run as Arrow-batched pandas UDFs
over ``mapInPandas``.  Image decode is REAL for BMP, binary netpbm,
8-bit PNG (inflate + unfilter), baseline-sequential JPEG (round 9:
:mod:`mr_python_spark.multimodal.jpeg` — huffman + dequantize +
IDCT), progressive JPEG (spectral selection + successive
approximation, Annex G; round 11 closed the roundtrip with a
spectral-selection ENCODER), lossless JPEG (SOF3 Annex H predictive,
round 13 — bit-exact roundtrip), and arithmetic-coded sequential
JPEG (SOF9, round 16: the T.81 Annex D QM-coder + the Annex F DC/AC
conditioning models, :mod:`mr_python_spark.multimodal.jpeg_arith`),
all pure stdlib+numpy; Pillow is used instead when importable.  Only
formats beyond those (WebP-class codecs, progressive-arithmetic/
hierarchical JPEG, …) remain library-gated behind
:func:`decode_image`'s ``NotImplementedError``, with
:func:`fake_probe` as the deterministic tested stand-in.

Scale notes: payload bytes ride the Arrow batches untouched; metadata
extraction is per-batch vectorized; a 100 TB corpus partitions by
(modality, size-bucket) so decode fleets get uniform work.
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from mr_python_spark.registry import register
from mr_python_spark.session import corpus_cache, load_table, scan_partitions, spread


def _pillow():
    """Pillow's Image module when importable, else None (this container
    ships no imaging library; environments that have one get the real
    decode with zero code changes)."""
    try:
        from PIL import Image

        return Image
    except ImportError:
        return None


#: the 8-byte PNG signature (public spec, RFC 2083 §3.1)
_PNG_SIG = b"\x89PNG\r\n\x1a\n"


def _png_unfilter_line(ftype: int, enc, prev, channels: int):
    """Undo one scanline's filter → decoded uint8 array.

    Filters 0 (None), 1 (Sub), 2 (Up) decode vectorized (Sub is a
    per-channel modular cumsum); 3 (Average) and 4 (Paeth) read the
    just-decoded left neighbor, so they are inherently sequential and
    run a per-byte loop.  Returns None for an invalid filter byte.
    """
    import numpy as np

    if ftype == 0:
        return enc.copy()
    if ftype == 2:
        return enc + prev  # uint8 wraps mod 256
    if ftype == 1:
        return np.cumsum(
            enc.reshape(-1, channels), axis=0, dtype=np.uint8
        ).reshape(-1)
    if ftype not in (3, 4):
        return None
    stride = len(enc)
    line = np.zeros(stride, dtype=np.uint8)
    for i in range(stride):
        a = int(line[i - channels]) if i >= channels else 0
        b = int(prev[i])
        if ftype == 3:
            pred = (a + b) >> 1
        else:
            c = int(prev[i - channels]) if i >= channels else 0
            p = a + b - c
            pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
            pred = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
        line[i] = (int(enc[i]) + pred) & 0xFF
    return line


def _decode_png_pixels(payload: bytes):
    """REAL pure-stdlib PNG decode: chunk walk, IHDR validation, zlib
    inflate of the IDAT stream, per-scanline unfilter (all five filter
    types).  Returns (width, height, channels, raster_bytes) or None
    for anything malformed — truncated chunks, missing IEND, a corrupt
    deflate stream, a raster whose length disagrees with the header,
    or an invalid filter byte all reject.  Scope: 8-bit depth,
    non-interlaced, color types 0/2/3/4/6 (grayscale / RGB / palette /
    gray+alpha / RGBA) — the overwhelmingly common shape; exotic
    variants fall through to the library-gated path."""
    import struct
    import zlib

    import numpy as np

    if payload[:8] != _PNG_SIG or len(payload) < 45:
        return None
    try:
        (ihdr_len,) = struct.unpack_from(">I", payload, 8)
        if ihdr_len != 13 or payload[12:16] != b"IHDR":
            return None
        w, h, depth, ctype, comp, filt, interlace = struct.unpack_from(
            ">IIBBBBB", payload, 16
        )
        channels = {0: 1, 2: 3, 3: 1, 4: 2, 6: 4}.get(ctype)
        if channels is None or depth != 8 or comp != 0 or filt != 0 or interlace != 0:
            return None
        # cap TOTAL pixels, not each dimension: 2^20 × 2^20 would admit
        # a ~4 TB raster; 2^24 pixels (16 MP, ≤ 64 MB RGBA raster)
        # bounds both the inflate output and the unfilter loop
        if not (0 < w and 0 < h and w * h <= 1 << 24):
            return None
        idat = bytearray()
        pos = 8
        seen_end = False
        while pos + 12 <= len(payload):
            (clen,) = struct.unpack_from(">I", payload, pos)
            tag = payload[pos + 4 : pos + 8]
            data_end = pos + 8 + clen
            if data_end + 4 > len(payload):
                return None  # truncated chunk
            if tag == b"IDAT":
                idat += payload[pos + 8 : data_end]
            elif tag == b"IEND":
                seen_end = True
                break
            pos = data_end + 4  # skip CRC
        if not seen_end or not idat:
            return None
        stride = w * channels
        expect = (stride + 1) * h
        # bounded inflate: a crafted IDAT can expand far beyond the
        # declared raster (decompression bomb) — never inflate more
        # than the raster the header promises, and reject any overflow
        dec = zlib.decompressobj()
        inflated = dec.decompress(bytes(idat), expect)
        if dec.decompress(b"", 1) or not dec.eof:
            return None  # stream holds MORE than the declared raster
        raw = np.frombuffer(inflated, dtype=np.uint8)
        if len(raw) != expect:
            return None  # raster length disagrees with IHDR
        raw = raw.reshape(h, stride + 1)
        prev = np.zeros(stride, dtype=np.uint8)
        out = []
        for y in range(h):
            line = _png_unfilter_line(int(raw[y, 0]), raw[y, 1:], prev, channels)
            if line is None:
                return None  # invalid filter byte
            out.append(line)
            prev = line
        return (w, h, channels, np.concatenate(out).tobytes())
    except (zlib.error, struct.error, ValueError):
        return None


def _decode_builtin(payload: bytes):
    """Pure-stdlib REAL decode for the formats whose layout is public
    knowledge and needs no third-party library — BMP
    (BITMAPINFOHEADER), binary PGM/PPM, zlib-deflated PNG, JPEG
    (baseline/progressive/lossless/arithmetic), and lossless WebP
    (VP8L) — so the real-decode branch is exercisable even in
    containers without an imaging library.  Returns (width, height,
    channels) or None when the format isn't one of these (lossy-VP8
    WebP and the like genuinely need a decoder library)."""
    import struct

    if payload[:8] == _PNG_SIG:
        png = _decode_png_pixels(payload)
        return None if png is None else png[:3]
    if payload[:2] == b"\xff\xd8":
        from mr_python_spark.multimodal.jpeg import decode_jpeg_pixels

        jpg = decode_jpeg_pixels(payload)
        return None if jpg is None else jpg[:3]
    if payload[:4] == b"RIFF" and payload[8:16] == b"WEBPVP8L":
        from mr_python_spark.multimodal.webp import decode_webp_pixels

        wp = decode_webp_pixels(payload)
        return None if wp is None else wp[:3]
    if payload[:2] == b"BM" and len(payload) >= 54:
        # BITMAPFILEHEADER (14 bytes) + BITMAPINFOHEADER: uint32
        # pixel-data offset at 10, uint32 biSize at 14, int32 width at
        # 18, int32 height at 22 (negative = top-down), uint16 planes
        # at 26, uint16 bits-per-pixel at 28.  Validate the whole
        # header shape, not just the magic: arbitrary text starting
        # 'BM' must NOT yield nonsense dimensions (it would error
        # under Pillow — an environment-dependent divergence).
        (px_off,) = struct.unpack_from("<I", payload, 10)
        (bi_size,) = struct.unpack_from("<I", payload, 14)
        w, h = struct.unpack_from("<ii", payload, 18)
        planes, bpp = struct.unpack_from("<HH", payload, 26)
        if (
            bi_size != 40  # BITMAPINFOHEADER only (the common core)
            or planes != 1
            or bpp not in (1, 4, 8, 16, 24, 32)
            or w <= 0
            or h == 0
            or not (14 + bi_size <= px_off <= len(payload))
        ):
            return None
        return (w, abs(h), max(1, bpp // 8))
    if payload[:2] in (b"P5", b"P6"):
        # binary netpbm: magic, whitespace/comment-separated width
        # height maxval, then raster.  A payload that merely STARTS
        # with the magic (arbitrary text through the decode path) must
        # fall through to the caller's NotImplementedError, not leak a
        # ValueError out of the Arrow batch — hence the broad except.
        try:
            toks: list[int] = []
            i = 2
            while len(toks) < 2 and i < min(len(payload), 256):
                c = payload[i : i + 1]
                if c == b"#":  # comment runs to end of line
                    i = payload.index(b"\n", i)
                elif c.isspace():
                    i += 1
                else:
                    j = i
                    while j < len(payload) and not payload[j : j + 1].isspace():
                        j += 1
                    toks.append(int(payload[i:j]))
                    i = j
            if len(toks) == 2 and toks[0] > 0 and toks[1] > 0:
                return (toks[0], toks[1], 3 if payload[:2] == b"P6" else 1)
        except ValueError:
            return None
    return None


def decode_image(payload: bytes):
    """Decode an image payload → (width, height, channels).

    Real decode via Pillow when the library is importable; without it
    the pure-stdlib :func:`_decode_builtin` still really decodes BMP,
    binary PGM/PPM, and (round 8) zlib-deflated 8-bit PNG — inflate,
    scanline unfilter, raster-length validation — and only the
    remaining compressed formats (JPEG etc.) raise
    ``NotImplementedError`` (``fake_probe`` is the deterministic
    tested stand-in for those).  Everything around this call (schemas,
    Arrow batching, partitioning) is identical on every path.
    """
    Image = _pillow()
    if Image is None:
        built = _decode_builtin(payload)
        if built is not None:
            return built
        raise NotImplementedError(
            "decoding this format requires an imaging library not present "
            "in this container; use fake_probe() for deterministic tests"
        )
    import io

    with Image.open(io.BytesIO(payload)) as im:
        return (im.width, im.height, len(im.getbands()))


def fake_probe(payload: bytes) -> tuple[int, int, int]:
    """Deterministic stand-in for decode: fake (width, height, channels)
    derived from payload bytes — stable across runs and engines."""
    n = len(payload)
    return (64 + n % 512, 64 + (n * 7) % 512, 3)


_META_ORACLE = """
SELECT
  doc_id,
  CAST(octet_length(encode(text)) AS BIGINT) AS byte_len,
  sha256(text) AS payload_sha
FROM documents
"""


@register("multimodal_meta", _META_ORACLE)
def multimodal_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary-payload bookkeeping: byte length + content digest.

    ``documents.text`` stands in for the payload bytes (cast to
    binary); at scale the column is real image/audio bytes and this
    exact plan (projection + two JVM hash/length exprs) still holds.
    """
    docs = load_table(spark, sf_dir, "documents")
    payload = F.col("text").cast("binary")
    return docs.select(
        "doc_id",
        F.octet_length(payload).cast("long").alias("byte_len"),
        F.sha2(payload, 256).alias("payload_sha"),
    )


_PROBE_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("byte_len", T.LongType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("channels", T.IntegerType()),
    ]
)


_PROBE_ORACLE = """
SELECT
  doc_id,
  CAST(octet_length(encode(text)) AS BIGINT) AS byte_len,
  CAST(64 + octet_length(encode(text)) % 512 AS INTEGER) AS width,
  CAST(64 + (octet_length(encode(text)) * 7) % 512 AS INTEGER) AS height,
  CAST(3 AS INTEGER) AS channels
FROM documents
"""


@register("multimodal_probe", _PROBE_ORACLE)
def multimodal_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """mapInPandas feature-extraction pipeline over binary payloads.

    Arrow batches in → per-payload probe (stubbed decode) → typed rows
    out.  The real decode drops into :func:`fake_probe`'s slot.  The
    stub is deterministic, so the oracle mirrors it in SQL and the
    whole Arrow round-trip (batching, row alignment, typing) is
    value-checked, not just row-counted.
    """
    docs = load_table(spark, sf_dir, "documents")
    with_payload = docs.select("doc_id", F.col("text").cast("binary").alias("payload"))

    def probe(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if pdf.empty:
                continue
            dims = [fake_probe(p) for p in pdf["payload"]]
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "byte_len": [len(p) for p in pdf["payload"]],
                    "width": [d[0] for d in dims],
                    "height": [d[1] for d in dims],
                    "channels": [d[2] for d in dims],
                }
            )

    return with_payload.mapInPandas(probe, _PROBE_SCHEMA)


@register("multimodal_probe_arrow", _PROBE_ORACLE)
def multimodal_probe_arrow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The same probe through ``mapInArrow`` — RecordBatch-level Python.

    One tier below ``mapInPandas``: the UDF receives raw
    ``pyarrow.RecordBatch``es and answers with Arrow arrays built by
    vectorized ``pyarrow.compute`` kernels — no pandas
    materialization at all, the right shape when the payload column
    is large binary and copying it into a pandas object column would
    double memory.  Same deterministic fake-dimension semantics and
    oracle as ``multimodal_probe``.
    """
    import pyarrow as pa
    import pyarrow.compute as pc

    docs = load_table(spark, sf_dir, "documents")
    with_payload = docs.select("doc_id", F.col("text").cast("binary").alias("payload"))

    def probe(batches):
        for batch in batches:
            if batch.num_rows == 0:
                continue
            blen = pc.cast(pc.binary_length(batch.column("payload")), pa.int64())
            # n % 512 == n & 511 for non-negative n (pyarrow.compute has
            # no modulo kernel; the fake dims use a power-of-two base)
            width = pc.add(pc.bit_wise_and(blen, 511), 64)
            height = pc.add(pc.bit_wise_and(pc.multiply(blen, 7), 511), 64)
            yield pa.RecordBatch.from_arrays(
                [
                    batch.column("doc_id"),
                    blen,
                    pc.cast(width, pa.int32()),
                    pc.cast(height, pa.int32()),
                    pa.array([3] * batch.num_rows, type=pa.int32()),
                ],
                names=["doc_id", "byte_len", "width", "height", "channels"],
            )

    return with_payload.mapInArrow(probe, _PROBE_SCHEMA)


def _encode_png(w: int, h: int, channels: int, seed: int) -> bytes:
    """Deterministic real PNG encoder (fixture side of the real-decode
    gate): a seeded raster, forward-filtered with Average on line 0,
    Paeth on line 1, then None/Sub/Up cycling — every image exercises
    all five unfilter branches of :func:`_decode_png_pixels`.  Filter
    application is vectorized per line (the encoder reads only
    ORIGINAL raster bytes, so unlike decoding, every filter type
    vectorizes)."""
    import struct
    import zlib

    import numpy as np

    def chunk(tag: bytes, data: bytes) -> bytes:
        return (
            struct.pack(">I", len(data))
            + tag
            + data
            + struct.pack(">I", zlib.crc32(tag + data) & 0xFFFFFFFF)
        )

    ctype = {1: 0, 2: 4, 3: 2, 4: 6}[channels]
    ihdr = struct.pack(">IIBBBBB", w, h, 8, ctype, 0, 0, 0)
    stride = w * channels
    idx = np.arange(stride, dtype=np.int64)
    zc8 = np.zeros(channels, dtype=np.uint8)
    rows = []
    prev = np.zeros(stride, dtype=np.uint8)
    for y in range(h):
        line = ((seed + 31 * y + 7 * idx) % 251).astype(np.uint8)
        f = 3 if y == 0 else (4 if y == 1 else y % 3)
        a = np.concatenate([zc8, line[:-channels]]) if channels < stride else zc8[:stride]
        if f == 0:
            enc = line.copy()
        elif f == 1:
            enc = line - a
        elif f == 2:
            enc = line - prev
        elif f == 3:
            enc = line - ((a.astype(np.int32) + prev.astype(np.int32)) >> 1).astype(
                np.uint8
            )
        else:  # Paeth
            ai = a.astype(np.int32)
            bi = prev.astype(np.int32)
            ci = np.concatenate([np.zeros(channels, np.int32), bi[:-channels]]) if channels < stride else np.zeros(stride, np.int32)
            p = ai + bi - ci
            pa, pb, pc = np.abs(p - ai), np.abs(p - bi), np.abs(p - ci)
            pred = np.where((pa <= pb) & (pa <= pc), ai, np.where(pb <= pc, bi, ci))
            enc = line - pred.astype(np.uint8)
        rows.append(np.concatenate([np.array([f], np.uint8), enc]))
        prev = line
    raw = np.concatenate(rows).tobytes()
    return (
        _PNG_SIG + chunk(b"IHDR", ihdr) + chunk(b"IDAT", zlib.compress(raw)) + chunk(b"IEND", b"")
    )


def _fixture_dims(plen: int) -> tuple[int, int]:
    """The fixture image's (width, height), derived from the document's
    payload length (the SQL oracles restate it as ``1 + len % 64``,
    ``1 + (len * 3) % 64``)."""
    return 1 + plen % 64, 1 + (plen * 3) % 64


_DECODE_ORACLE = """
SELECT
  doc_id,
  CAST(1 + octet_length(encode(text)) % 64 AS INTEGER) AS width,
  CAST(1 + (octet_length(encode(text)) * 3) % 64 AS INTEGER) AS height,
  CAST(CASE CAST(doc_id % 4 AS INTEGER)
       WHEN 1 THEN 1 WHEN 2 THEN 4 ELSE 3 END AS INTEGER) AS channels
FROM documents
"""


@register("multimodal_decode_real", _DECODE_ORACLE)
def multimodal_decode_real(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL image decode through the full distributed plumbing — no
    fake probe anywhere in the row path.

    Each document's bytes become a genuine image whose dimensions
    derive from the payload length (the fixture step — this container
    ships no image corpus): a 24-bit BMP for doc_id ≡ 0 (mod 4), a
    REAL zlib-deflated grayscale PNG for ≡ 1, an RGBA PNG for ≡ 2,
    and a REAL JPEG for ≡ 3 — baseline huffman (round 9), or
    progressive for doc_id ≡ 7 (mod 8) (round 11), or ARITHMETIC
    sequential for doc_id ≡ 3 (mod 16) (round 16: SOF9, the T.81
    Annex D QM-coder) — every PNG's scanlines exercise all five
    filter types and the JPEG paths run full entropy decode +
    dequantize + IDCT (:mod:`mr_python_spark.multimodal.jpeg`,
    :mod:`~mr_python_spark.multimodal.jpeg_arith`), so
    :func:`decode_image` performs an actual format parse inside the
    Arrow-batched UDF, not a magic-number sniff.
    With Pillow present the same bytes go through Pillow; without it
    the pure-stdlib parsers decode them — either way the decode is a
    real format parse, so a corrupted header, deflate stream, or
    raster length would FAIL the gate, which is exactly what the
    fake-probe queries cannot promise.

    Scale (round 16 — the move of :func:`_image_feature_pass`): the
    fixture encoder derives everything from (doc_id, payload length),
    so only the LENGTH rides the ``spread`` repartition — corpus
    bytes never shuffle — and the CPU-heavy decode runs on every
    core instead of serializing onto the single partition a small
    parquet scan yields locally (at real scale the scan is already
    wide and spread() is a no-op; the payload-bytes-through-Arrow
    shape itself is carried by ``multimodal_probe``/``_meta``).
    """
    import struct

    docs = load_table(spark, sf_dir, "documents")
    with_payload = spread(
        docs.select(
            "doc_id",
            F.octet_length(F.col("text").cast("binary")).alias("plen"),
        ),
        parts=scan_partitions(spark, sf_dir, "documents"),
    )

    dec_schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("width", T.IntegerType()),
            T.StructField("height", T.IntegerType()),
            T.StructField("channels", T.IntegerType()),
        ]
    )

    def encode_bmp(w: int, h: int) -> bytes:
        row = (w * 3 + 3) & ~3
        body = row * h
        return (
            b"BM"
            + struct.pack("<IHHI", 14 + 40 + body, 0, 0, 14 + 40)
            + struct.pack(
                "<IiiHHIIiiII", 40, w, h, 1, 24, 0, body, 2835, 2835, 0, 0
            )
            + b"\x00" * body
        )

    def encode(doc_id: int, plen: int) -> bytes:
        w, h = _fixture_dims(plen)
        fmt = doc_id % 4
        if fmt == 0:
            return encode_bmp(w, h)
        if fmt == 3:  # round 9: REAL baseline JPEG (huffman + IDCT);
            # round 11: doc_id % 8 == 7 is PROGRESSIVE (SOF2
            # spectral-selection scans) so the Annex G decode path is
            # driver-gated; round 16: doc_id % 16 == 3 is ARITHMETIC
            # sequential (SOF9, QM-coder) so the Annex D path is
            # driver-gated too.  Same (w, h) law every way — the
            # oracle is encoding-agnostic.
            from mr_python_spark.multimodal.jpeg import (
                encode_jpeg,
                encode_jpeg_progressive,
            )
            from mr_python_spark.multimodal.jpeg_arith import (
                encode_jpeg_arith,
            )

            if doc_id % 8 == 7:
                return encode_jpeg_progressive(w, h, seed=doc_id % 97)
            if doc_id % 16 == 3:
                return encode_jpeg_arith(w, h, seed=doc_id % 97)
            return encode_jpeg(w, h, seed=doc_id % 97)
        if fmt == 2 and doc_id % 16 == 2:
            # round 16: lossless WebP (VP8L) — 4 channels like the
            # RGBA PNG it stands in for, so the dims oracle is
            # untouched while the prefix-code/transform/color-cache
            # machinery gets driver-gated
            from mr_python_spark.multimodal.webp import encode_webp

            return encode_webp(w, h, seed=doc_id % 97)
        return _encode_png(w, h, 1 if fmt == 1 else 4, seed=doc_id % 97)

    def decode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if pdf.empty:
                continue
            dims = [
                decode_image(encode(int(d), int(p)))
                for d, p in zip(pdf["doc_id"], pdf["plen"])
            ]
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "width": [d[0] for d in dims],
                    "height": [d[1] for d in dims],
                    "channels": [d[2] for d in dims],
                }
            )

    return with_payload.mapInPandas(decode, dec_schema)


_FRAME_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("frame_idx", T.IntegerType()),
        T.StructField("frame_sha", T.StringType()),
    ]
)


_FRAME_ORACLE = """
SELECT
  doc_id,
  CAST(i AS INTEGER) AS frame_idx,
  sha256(substr(text, CAST(i * 256 + 1 AS BIGINT), 256)) AS frame_sha
FROM documents, generate_series(0, 7) AS t(i)
WHERE i < greatest(1, CAST(ceil(octet_length(encode(text)) / 256.0) AS BIGINT))
"""


@register("multimodal_frame_sample", _FRAME_ORACLE)
def multimodal_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """1→N frame sampling: each payload yields ceil(len/256) fake frames.

    The video-frame-extraction shape: one input row explodes into a
    bounded number of output rows inside the same Arrow batch.  The
    corpus is ASCII (bytes == chars), so the chunk digests are
    SQL-expressible and the oracle checks every emitted frame hash.
    """
    import hashlib

    docs = load_table(spark, sf_dir, "documents")
    with_payload = docs.select("doc_id", F.col("text").cast("binary").alias("payload"))

    def sample(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = {"doc_id": [], "frame_idx": [], "frame_sha": []}
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                n_frames = max(1, (len(payload) + 255) // 256)
                for i in range(min(n_frames, 8)):
                    chunk = bytes(payload[i * 256 : (i + 1) * 256])
                    rows["doc_id"].append(doc_id)
                    rows["frame_idx"].append(i)
                    rows["frame_sha"].append(hashlib.sha256(chunk).hexdigest())
            if rows["doc_id"]:
                yield pd.DataFrame(rows)

    return with_payload.mapInPandas(sample, _FRAME_SCHEMA)


_AUDIO_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("window_idx", T.IntegerType()),
        T.StructField("energy", T.LongType()),
        T.StructField("peak", T.IntegerType()),
    ]
)


_AUDIO_ORACLE = """
WITH pos AS (
  SELECT doc_id, text, i
  FROM documents CROSS JOIN generate_series(1, 1024) AS t(i)
  WHERE i <= least(octet_length(encode(text)), 1024)
)
SELECT
  doc_id,
  CAST((i - 1) // 256 AS INTEGER) AS window_idx,
  CAST(SUM(ascii(substr(text, i, 1))) AS BIGINT) AS energy,
  CAST(MAX(ascii(substr(text, i, 1))) AS INTEGER) AS peak
FROM pos
GROUP BY doc_id, (i - 1) // 256
"""


@register("multimodal_audio_energy", _AUDIO_ORACLE)
def multimodal_audio_energy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Windowed sample statistics over a PCM-like binary payload.

    The audio-feature shape: payload bytes are treated as unsigned
    8-bit samples; the first four 256-sample windows each emit
    (energy = sample sum, peak) — numpy ``frombuffer`` + reshape-free
    slicing inside the Arrow batch, zero Python per sample.  A real
    pipeline swaps the byte view for a codec decode (stubbed here
    like :func:`decode_image`) and RMS/spectral features for the
    sums; the plumbing — 1→N window rows, typed schema, batch
    vectorization — is what this query keeps tested.  The corpus is
    ASCII so the oracle can mirror the byte values with
    ``ascii(substr(...))``.
    """
    import numpy as np

    docs = load_table(spark, sf_dir, "documents")
    with_payload = docs.select("doc_id", F.col("text").cast("binary").alias("payload"))

    def energy(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = {"doc_id": [], "window_idx": [], "energy": [], "peak": []}
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                samples = np.frombuffer(bytes(payload[:1024]), dtype=np.uint8)
                for w in range(min(4, (len(samples) + 255) // 256)):
                    win = samples[w * 256 : (w + 1) * 256]
                    rows["doc_id"].append(doc_id)
                    rows["window_idx"].append(w)
                    rows["energy"].append(int(win.sum()))
                    rows["peak"].append(int(win.max()))
            if rows["doc_id"]:
                yield pd.DataFrame(rows)

    return with_payload.mapInPandas(energy, _AUDIO_SCHEMA)


_KEYFRAME_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("scene_idx", T.IntegerType()),
        T.StructField("keyframe_idx", T.IntegerType()),
        T.StructField("energy", T.LongType()),
    ]
)


_KEYFRAME_ORACLE = """
WITH pos AS (
  SELECT doc_id, text, i
  FROM documents CROSS JOIN generate_series(1, 2048) AS t(i)
  WHERE i <= least(octet_length(encode(text)), 2048)
),
frames AS (
  SELECT doc_id,
         CAST((i - 1) // 256 AS INTEGER) AS frame_idx,
         CAST(SUM(ascii(substr(text, i, 1))) AS BIGINT) AS energy
  FROM pos
  GROUP BY doc_id, (i - 1) // 256
)
SELECT doc_id,
       CAST(frame_idx // 4 AS INTEGER) AS scene_idx,
       CAST(arg_max(frame_idx, energy * 16 + (15 - frame_idx)) AS INTEGER)
         AS keyframe_idx,
       arg_max(energy, energy * 16 + (15 - frame_idx)) AS energy
FROM frames
GROUP BY doc_id, frame_idx // 4
"""


@register("multimodal_keyframes", _KEYFRAME_ORACLE)
def multimodal_keyframes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keyframe selection: argmax-energy frame per scene window.

    The video-keyframe shape on the deterministic stub: payload bytes
    split into 256-byte fake frames (first 8, like
    :func:`multimodal_frame_sample`), grouped into scenes of 4, and
    each scene emits its highest-energy frame (ties -> lowest frame
    index, a total order).  A real pipeline swaps the byte-sum energy
    for a decoded-frame difference metric; the N->1-per-window
    selection, typed schema, and batch shape are what this query keeps
    tested.  Energies are vectorized per payload (one ``frombuffer``
    + reshape-free slicing), selection is a constant-size argmax —
    no per-sample Python.
    """
    import numpy as np

    docs = load_table(spark, sf_dir, "documents")
    with_payload = docs.select("doc_id", F.col("text").cast("binary").alias("payload"))

    def keyframes(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = {"doc_id": [], "scene_idx": [], "keyframe_idx": [], "energy": []}
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                samples = np.frombuffer(bytes(payload[:2048]), dtype=np.uint8)
                n_frames = min(8, (len(samples) + 255) // 256)
                energies = [
                    int(samples[f * 256 : (f + 1) * 256].sum())
                    for f in range(n_frames)
                ]
                for scene in range((n_frames + 3) // 4):
                    fr = energies[scene * 4 : scene * 4 + 4]
                    best = max(range(len(fr)), key=lambda j: (fr[j], -j))
                    rows["doc_id"].append(doc_id)
                    rows["scene_idx"].append(scene)
                    rows["keyframe_idx"].append(scene * 4 + best)
                    rows["energy"].append(fr[best])
            if rows["doc_id"]:
                yield pd.DataFrame(rows)

    return with_payload.mapInPandas(keyframes, _KEYFRAME_SCHEMA)


# --- image features: one decode per image for the pHash and resize queries

#: side of the nearest-neighbour resize grid (16×16 samples)
_RESIZE_N = 16

_FEATURE_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("phash_hi", T.LongType()),
        T.StructField("phash_lo", T.LongType()),
        T.StructField("pix_sum", T.LongType()),
        T.StructField("pix_min", T.IntegerType()),
        T.StructField("pix_max", T.IntegerType()),
    ]
)

#: the oracles' fixture images: dims from the payload length, channels
#: and seed from doc_id, BMP (≡ 0 mod 4) left out
_IMGS_CTE = """
WITH imgs AS (
  SELECT doc_id,
         1 + octet_length(encode(text)) % 64 AS w,
         1 + (octet_length(encode(text)) * 3) % 64 AS h,
         CASE CAST(doc_id % 4 AS INTEGER) WHEN 1 THEN 1 WHEN 2 THEN 4
              ELSE 3 END AS ch,
         doc_id % 97 AS seed
  FROM documents WHERE doc_id % 4 <> 0
),"""

#: The oracle recomputes the 64-bit dHash from the fixtures'
#: closed-form raster law (pixel byte at line ``y``, in-line byte
#: offset ``i`` is ``(seed + 31*y + 7*i) % 251``) — so a corrupted
#: PNG inflate/unfilter or JPEG predictor decode on the Spark side
#: flips hash bits and fails the value gate, not just the row count.
_PHASH_BITS_CTES = _IMGS_CTE + """
vals AS (
  SELECT doc_id, gi.i AS gi, gj.j AS gj,
         (seed + 31 * ((gi.i * h) // 8) + 7 * (((gj.j * w) // 9) * ch)) % 251 AS g
  FROM imgs, generate_series(0, 7) gi(i), generate_series(0, 8) gj(j)
),
bits AS (
  SELECT a.doc_id,
         CAST(COALESCE(SUM(CASE WHEN a.g < b.g AND a.gi * 8 + a.gj >= 32
              THEN (CAST(1 AS BIGINT) << (a.gi * 8 + a.gj - 32)) END), 0)
              AS BIGINT) AS phash_hi,
         CAST(COALESCE(SUM(CASE WHEN a.g < b.g AND a.gi * 8 + a.gj < 32
              THEN (CAST(1 AS BIGINT) << (a.gi * 8 + a.gj)) END), 0)
              AS BIGINT) AS phash_lo
  FROM vals a JOIN vals b
    ON a.doc_id = b.doc_id AND a.gi = b.gi AND b.gj = a.gj + 1
  WHERE a.gj < 8
  GROUP BY a.doc_id
)
"""

_PHASH_ORACLE = (
    _PHASH_BITS_CTES
    + """
SELECT doc_id, phash_hi, phash_lo,
       CAST(COUNT(*) OVER (PARTITION BY phash_hi, phash_lo) AS BIGINT)
         AS n_same,
       (COUNT(*) OVER (PARTITION BY phash_hi, phash_lo) > 1) AS is_dup
FROM bits
"""
)


@register("multimodal_phash_dedup", _PHASH_ORACLE)
def multimodal_phash_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual-hash (dHash) image dedup over REAL decodes — the
    image-pipeline counterpart of the text near-dup family: decode
    every payload with a genuine format parse, sample an 8×9 luma
    grid, build the classic 64-bit difference hash (bit = left pixel
    < right pixel), and group exact hash collisions into duplicate
    clusters.

    Formats cycle doc_id mod 4 (the ``multimodal_decode_real``
    fixture pattern): grayscale PNG (≡1, zlib inflate + all five
    unfilter branches), RGBA PNG (≡2) — with doc_id ≡ 2 (mod 16)
    carried as lossless WebP/VP8L instead (round 16: prefix codes,
    color cache, predictor-transform inverse; bit-exact, so the same
    pixel law holds) — and LOSSLESS JPEG (≡3 — SOF3 Annex H
    predictive, the one JPEG process that roundtrips bit-exactly, so
    its decode is pixel-oracle-able; the lossy baseline/progressive/
    arithmetic processes stay gated by ``multimodal_decode_real``'s
    dims contract instead).  BMP (≡0) is excluded: its fixture
    raster is constant, every BMP would collapse into one degenerate
    all-equal cluster.

    The grid reads channel 0 (R / gray) at positions
    ``x_j = j*w // 9``, ``y_i = i*h // 8`` — resize-free sampling, so
    the hash is a pure function of the decoded raster and the DuckDB
    oracle can recompute it from the generative pixel law without any
    image code: a single flipped raster byte (corrupt inflate, wrong
    Paeth branch, bad JPEG predictor) flips grid bits and fails the
    hash gate.

    Scale: decode + hash ride the one Arrow-batched ``mapInPandas``
    pass of :func:`_image_feature_pass` (per-image work is O(grid)
    after the decode, payloads never shuffle); the only shuffle is the
    hash-keyed window for cluster sizes — the exact-dedup shape
    (hash, doc_id).  Hamming-NEAR
    duplicates at 100 TB use the ``dedup_simhash`` banding trick on
    these same bits: split the 64 bits into 4 × 16-bit bands and
    bucket-join per band — same posture as the text LSH family, no
    all-pairs anywhere.

    Capability extension beyond the reference engine (tinymr has no
    binary-payload surface; SURVEY.md §6 multimodal tier).
    """
    from pyspark.sql import Window

    hashed = _image_features(spark, sf_dir)
    w = Window.partitionBy("phash_hi", "phash_lo")
    return hashed.select(
        "doc_id",
        "phash_hi",
        "phash_lo",
        F.count(F.lit(1)).over(w).alias("n_same"),
        (F.count(F.lit(1)).over(w) > 1).alias("is_dup"),
    )


def _fixture_image_decode(d: int, plen: int):
    """Encode-then-REAL-decode one fixture image: format/seed derive
    from doc_id, dimensions from the payload length, pixels from the
    raster law ``(seed + 31y + 7i) % 251``.  THE single definition of
    the fixture law on the engine side (the image-feature pass calls
    it; the SQL CTEs restate it independently — that pair is the
    cross-check).  Returns (w, h, channels, raster_bytes); raises on
    decode failure (the gate's whole point: loud)."""
    import numpy as np

    from mr_python_spark.multimodal.jpeg import (
        decode_jpeg_pixels,
        encode_jpeg_lossless,
    )

    def law_raster(w: int, h: int, ch: int, seed: int) -> bytes:
        idx = np.arange(w * ch, dtype=np.int64)
        return np.concatenate(
            [((seed + 31 * y + 7 * idx) % 251).astype(np.uint8)
             for y in range(h)]
        ).tobytes()

    fmt, seed = d % 4, d % 97
    w, h = _fixture_dims(plen)
    if fmt == 3:
        payload = encode_jpeg_lossless(
            w, h, rgb=law_raster(w, h, 3, seed), seed=seed
        )
        dec = decode_jpeg_pixels(payload)
    elif fmt == 2 and d % 16 == 2:
        # round 16: lossless WebP (VP8L) carries the SAME law raster
        # as the RGBA PNG it replaces, so the pixel-level phash/resize
        # oracles hold unchanged while a real VP8L parse (prefix
        # codes, color cache, transform inverses) sits in the gate
        from mr_python_spark.multimodal.webp import (
            decode_webp_pixels,
            encode_webp,
        )

        payload = encode_webp(
            w, h, rgba=law_raster(w, h, 4, seed), predictor_bits=2
        )
        dec = decode_webp_pixels(payload)
    else:
        ch = 1 if fmt == 1 else 4
        payload = _encode_png(w, h, ch, seed=seed)
        dec = _decode_png_pixels(payload)
    if dec is None:
        raise ValueError(f"decode failed for doc {d}")
    return dec


def _image_feature_row(d: int, plen: int) -> tuple:
    """(doc_id, phash_hi, phash_lo, pix_sum, pix_min, pix_max) of ONE
    real decode of fixture image ``d``.

    Both grids read channel 0 at ``x_j = j*w // cols``,
    ``y_i = i*h // rows`` from one (h, w·ch) view of the raster:

    * the 8×9 dHash grid: bit ``i*8 + j`` is set when sample ``j`` of
      grid row ``i`` is below sample ``j + 1``; ``phash_lo`` holds bits
      0-31 and ``phash_hi`` bits 32-63;
    * the ``_RESIZE_N``×``_RESIZE_N`` nearest-neighbour grid, reduced
      to its sum, min and max.
    """
    import numpy as np

    n = _RESIZE_N
    w, h, ch, raster = _fixture_image_decode(d, plen)
    g = np.frombuffer(raster, np.uint8).reshape(h, w * ch)
    dh = g[np.ix_(np.arange(8) * h // 8, np.arange(9) * w // 9 * ch)]
    bits = np.packbits(dh[:, :-1] < dh[:, 1:], bitorder="little")
    nn = g[np.ix_(np.arange(n) * h // n, np.arange(n) * w // n * ch)]
    return (
        d,
        int.from_bytes(bits[4:].tobytes(), "little"),
        int.from_bytes(bits[:4].tobytes(), "little"),
        int(nn.sum()),
        int(nn.min()),
        int(nn.max()),
    )


def _image_feature_pass(spark: SparkSession, sf_dir: str) -> DataFrame:
    """:func:`_image_feature_row` of every non-BMP fixture image in one
    Arrow-batched pass: ONE real decode per image feeds both image
    features.

    Only the payload LENGTH reaches the fixture encoder (dims derive
    from it, seed/format from doc_id), so the ``spread`` repartition
    of the narrow single-file scan never shuffles corpus bytes, and
    the CPU-bound decode runs on every core.
    """
    docs = load_table(spark, sf_dir, "documents").filter(
        F.col("doc_id") % 4 != 0
    )
    with_len = spread(docs.select(
        "doc_id", F.octet_length(F.col("text").cast("binary")).alias("plen")
    ), parts=scan_partitions(spark, sf_dir, "documents"))

    def features(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if pdf.empty:
                continue
            yield pd.DataFrame(
                [_image_feature_row(int(d), int(p))
                 for d, p in zip(pdf["doc_id"], pdf["plen"])],
                columns=_FEATURE_SCHEMA.fieldNames(),
            )

    return with_len.mapInPandas(features, _FEATURE_SCHEMA)


def _image_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The stored :func:`_image_feature_pass` frame, one registry entry
    per (session, documents file identity): the three image queries
    select from it, so a session decodes each image once."""
    return corpus_cache(
        "multimodal.image_features",
        spark,
        sf_dir,
        lambda: _image_feature_pass(spark, sf_dir),
    )


#: near-dup acceptance: dHash Hamming distance ≤ this (the standard
#: dHash similarity threshold)
PHASH_HAM_MAX = 10
#: LSH-style bucket cap (the text family's posture: a band value
#: shared by B images yields B² candidates, so bound per-bucket work)
PHASH_BUCKET_CAP = 64

_PHASH_NEAR_ORACLE = (
    _PHASH_BITS_CTES
    + f"""
, bands AS (
  SELECT doc_id, phash_hi, phash_lo, 0 AS band, phash_lo & 65535 AS bval FROM bits
  UNION ALL
  SELECT doc_id, phash_hi, phash_lo, 1, (phash_lo >> 16) & 65535 FROM bits
  UNION ALL
  SELECT doc_id, phash_hi, phash_lo, 2, phash_hi & 65535 FROM bits
  UNION ALL
  SELECT doc_id, phash_hi, phash_lo, 3, (phash_hi >> 16) & 65535 FROM bits
),
small AS (
  SELECT band, bval FROM bands
  GROUP BY band, bval HAVING COUNT(*) BETWEEN 2 AND {PHASH_BUCKET_CAP}
),
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
         bit_count(xor(a.phash_hi, b.phash_hi))
           + bit_count(xor(a.phash_lo, b.phash_lo)) AS hamming
  FROM bands a
  JOIN bands b ON a.band = b.band AND a.bval = b.bval AND a.doc_id < b.doc_id
  JOIN small s ON s.band = a.band AND s.bval = a.bval
)
SELECT doc_a, doc_b, CAST(hamming AS BIGINT) AS hamming
FROM cand WHERE hamming <= {PHASH_HAM_MAX}
"""
)


@register("multimodal_phash_near", _PHASH_NEAR_ORACLE)
def multimodal_phash_near(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hamming-NEAR image duplicates — the simhash banding trick
    applied to the shared pHash frame: split each 64-bit dHash into
    4 × 16-bit bands, bucket images by (band, value), explode
    in-bucket pairs JVM-side (the text LSH family's one-shuffle
    posting shape, never all-pairs), and accept pairs within
    ``PHASH_HAM_MAX`` bits.  A pair differing in ≤ 10 of 64 bits
    differs in at most 10 bands-worth of bits, so by pigeonhole it
    collides in at least one 16-bit band whenever its flipped bits
    cluster — the recall/cost trade every banded LSH makes, with
    ``PHASH_BUCKET_CAP`` bounding boilerplate buckets exactly like
    the text caps.

    Exact-duplicate pairs (hamming 0) are included by construction —
    this operator is the superset report; ``multimodal_phash_dedup``
    is the exact-collision clustering view of the same frame (one
    stored image-feature frame, one decode pass between them).

    Verification is inline (each bucket's struct list carries both
    hashes, so ``bit_count(hi⊕hi') + bit_count(lo⊕lo')`` needs no
    join back), and the whole pipeline after the stored image-feature
    frame is JVM codegen.  Hash-gated against the same closed-form
    raster law as the parent.
    """
    hashed = _image_features(spark, sf_dir)
    bands = hashed.select(
        "doc_id",
        "phash_hi",
        "phash_lo",
        F.expr(
            "stack(4,"
            " 0, phash_lo & 65535L,"
            " 1, shiftright(phash_lo, 16) & 65535L,"
            " 2, phash_hi & 65535L,"
            " 3, shiftright(phash_hi, 16) & 65535L) AS (band, bval)"
        ),
    )
    buckets = (
        bands.groupBy("band", "bval")
        .agg(
            F.array_sort(
                F.collect_list(F.struct("doc_id", "phash_hi", "phash_lo"))
            ).alias("ds")
        )
        .filter((F.size("ds") >= 2) & (F.size("ds") <= PHASH_BUCKET_CAP))
    )
    pair = F.explode(
        F.expr(
            """
            flatten(transform(ds, (x, i) ->
              transform(slice(ds, i + 2, size(ds) - i - 1), y ->
                struct(x.doc_id AS doc_a, y.doc_id AS doc_b,
                       bit_count(x.phash_hi ^ y.phash_hi)
                         + bit_count(x.phash_lo ^ y.phash_lo) AS hamming))))
            """
        )
    )
    return (
        buckets.select(pair.alias("p"))
        .select("p.doc_a", "p.doc_b", F.col("p.hamming").cast("long").alias("hamming"))
        .distinct()
        .filter(F.col("hamming") <= PHASH_HAM_MAX)
    )


# --- nearest-neighbor resize (the feature-extract/resize pipeline step) -

#: the oracle resamples the fixtures' closed-form raster law on the
#: SAME nearest-neighbor grid (x_j = (j*w)//16, y_i = (i*h)//16), so
#: any off-by-one in the engine's decode OR its sampling arithmetic
#: shifts a pixel and fails the value gate
_RESIZE_ORACLE = _IMGS_CTE + f"""
samples AS (
  SELECT doc_id,
         (seed + 31 * ((gi.i * h) // {_RESIZE_N})
               + 7 * (((gj.j * w) // {_RESIZE_N}) * ch)) % 251 AS g
  FROM imgs,
       generate_series(0, {_RESIZE_N - 1}) gi(i),
       generate_series(0, {_RESIZE_N - 1}) gj(j)
)
SELECT doc_id,
       CAST({_RESIZE_N} AS INTEGER) AS out_w,
       CAST({_RESIZE_N} AS INTEGER) AS out_h,
       CAST(SUM(g) AS BIGINT) AS pix_sum,
       CAST(MIN(g) AS INTEGER) AS pix_min,
       CAST(MAX(g) AS INTEGER) AS pix_max
FROM samples GROUP BY doc_id
"""


@register("multimodal_resize_nearest", _RESIZE_ORACLE)
def multimodal_resize_nearest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed image RESIZE over real decodes: every fixture image
    is decoded (PNG inflate/unfilter or lossless-JPEG predictor — the
    same real-codec path as the phash family) and downsampled to
    16×16 by nearest neighbor, the standard cheap thumbnail/
    feature-extract step of a multimodal ingest pipeline.

    The compared columns are the resized raster's exact first-channel
    statistics (sum/min/max over the 256 samples); the oracle
    recomputes them from the fixtures' closed-form raster law on the
    identical sampling grid, so a flipped byte anywhere in decode or
    an off-by-one in the resample arithmetic fails the VALUE gate.

    100 TB posture: the one spread Arrow pass of
    :func:`_image_feature_pass` (shared with the pHash queries); only
    the payload LENGTH is shuffled to the workers; per-image work is
    O(w·h) decode + O(256) sampling, no shuffle after the map.  With a
    real object store the pass reads bytes via ``binaryfile_scan``'s
    source instead of synthesizing them.  The query selects from the
    stored image-feature frame, so a session that ran either pHash
    query pays no decode here.
    """
    return _image_features(spark, sf_dir).select(
        "doc_id",
        F.lit(_RESIZE_N).alias("out_w"),
        F.lit(_RESIZE_N).alias("out_h"),
        "pix_sum",
        "pix_min",
        "pix_max",
    )


# --- audio decimation (sample-rate conversion shape) --------------------

_RESAMPLE_AUDIO_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("n_samples_in", T.IntegerType()),
        T.StructField("n_samples_out", T.IntegerType()),
        T.StructField("resampled_sum", T.LongType()),
        T.StructField("resampled_peak", T.IntegerType()),
    ]
)

_RESAMPLE_AUDIO_ORACLE = """
WITH pos AS (
  SELECT doc_id, text, i
  FROM documents CROSS JOIN generate_series(1, 1024) AS t(i)
  WHERE i <= least(octet_length(encode(text)), 1024)
),
g AS (
  SELECT doc_id, (i - 1) // 4 AS j,
         CAST(SUM(ascii(substr(text, CAST(i AS INTEGER), 1))) AS BIGINT) AS s,
         COUNT(*) AS k
  FROM pos GROUP BY doc_id, (i - 1) // 4
),
o AS (
  SELECT doc_id, s // 4 AS v FROM g WHERE k = 4
),
per AS (
  SELECT doc_id,
         CAST(SUM(v) AS BIGINT) AS resampled_sum,
         CAST(MAX(v) AS INTEGER) AS resampled_peak,
         CAST(COUNT(*) AS INTEGER) AS n_samples_out
  FROM o GROUP BY doc_id
)
SELECT d.doc_id,
       CAST(least(octet_length(encode(d.text)), 1024) AS INTEGER)
         AS n_samples_in,
       COALESCE(n_samples_out, 0) AS n_samples_out,
       COALESCE(resampled_sum, 0) AS resampled_sum,
       COALESCE(resampled_peak, 0) AS resampled_peak
FROM documents d LEFT JOIN per ON per.doc_id = d.doc_id
"""


@register("multimodal_audio_resample", _RESAMPLE_AUDIO_ORACLE)
def multimodal_audio_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio decimation: 4:1 downsampling by mean pooling over the
    PCM-like byte samples — the sample-rate-conversion step of an
    audio ingest pipeline, beside the windowed-energy and keyframe
    passes.

    Each complete group of 4 unsigned 8-bit samples becomes one
    output sample ``(s₀+s₁+s₂+s₃) div 4`` (exact integer floor — no
    float filter kernel, so the oracle can restate every output
    sample with ``ascii(substr(...))`` arithmetic); the compared
    columns are the per-document resampled checksum/peak/counts.  A
    real pipeline swaps the byte view for a codec decode and the
    box filter for a windowed-sinc — the distributed shape (Arrow
    batch in, vectorized numpy per batch, typed rows out) is
    identical.

    ASCII-corpus precondition: the oracle indexes ``text`` by CODE
    POINT (``substr``/``ascii``) while the engine reads raw UTF-8
    BYTES — equivalent only because the fixture corpus is pure ASCII
    (octet_length == length for every document; pinned by
    ``tests/test_testdata_schema.py::test_documents_text_is_ascii``).
    A non-ASCII corpus needs the oracle respelled over
    ``encode(text)`` blob bytes (hex-nibble arithmetic) instead.

    Scale: one spread Arrow pass, no shuffle after the map; per-doc
    work is O(min(bytes, 1024)).
    """
    import numpy as np

    docs = load_table(spark, sf_dir, "documents")
    with_payload = spread(docs, parts=scan_partitions(spark, sf_dir, "documents")).select(
        "doc_id", F.col("text").cast("binary").alias("payload")
    )

    def resample(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = {
                "doc_id": [], "n_samples_in": [], "n_samples_out": [],
                "resampled_sum": [], "resampled_peak": [],
            }
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                samples = np.frombuffer(bytes(payload[:1024]), dtype=np.uint8)
                n_in = len(samples)
                n_out = n_in // 4
                out = (
                    samples[: n_out * 4]
                    .astype(np.int64)
                    .reshape(-1, 4)
                    .sum(axis=1)
                    // 4
                )
                rows["doc_id"].append(doc_id)
                rows["n_samples_in"].append(n_in)
                rows["n_samples_out"].append(n_out)
                rows["resampled_sum"].append(int(out.sum()) if n_out else 0)
                rows["resampled_peak"].append(int(out.max()) if n_out else 0)
            if rows["doc_id"]:
                yield pd.DataFrame(rows)

    return with_payload.mapInPandas(resample, _RESAMPLE_AUDIO_SCHEMA)
