"""Multimodal (binary) column plumbing with real, dependency-free codecs.

Image/audio/video payloads are opaque ``binary`` columns with typed
metadata structs; decode / feature-extract run as Arrow-batched
``mapInPandas`` stages. Three mimes are decoded FOR REAL with
pure-Python parsers (no external media library needed):

- ``image/bmp`` — uncompressed 24-bit BMP: magic, pixel-data offset,
  width/height/bpp/compression are read from the BITMAPINFOHEADER and
  the pixel region is extracted via the header's own offset/stride.
- ``audio/wav`` — PCM16 RIFF/WAVE: the chunk list is walked to locate
  ``fmt ``/``data``, and sample width/channel layout come from the fmt
  chunk.
- ``image/png`` — a real PNG decoder: chunk walk with CRC-32
  verification, IHDR parse, zlib inflate of the concatenated IDAT
  stream (stdlib ``zlib``, any compression level), and per-scanline
  unfiltering for all five filter types (None/Sub/Up/Average/Paeth),
  8-bit RGB and RGBA.
- ``image/jpeg`` — a real baseline-sequential JPEG decoder
  (``functions/jpeg.py``): marker parse, canonical Huffman tables from
  the stream's own DHT, entropy decode, dequantize, inverse zigzag,
  8×8 IDCT, YCbCr→RGB. Not routed into the synthesized oracle corpus —
  Huffman output length is content-dependent and DCT loss means no
  hex-math oracle can predict the decoded bytes — so it is pinned by
  unit/property tests (including a hand-built bitstream the encoder
  never touched) rather than the driver hash gate.

Audio/video entropy codecs (MP3/MP4/H.264/...) still raise
``NotImplementedError`` — decoding those requires media libraries this
container doesn't have; the raise is the honest seam where libav would
plug in.

The test corpus has no binary column, so payloads are SYNTHESIZED
JVM-side from ``documents.text``: a constant 54-byte BMP header + the
first 48 UTF-8 bytes as 4×4 RGB pixels, a constant 44-byte WAV
header + the first 64 bytes as 32 PCM16 samples, or a complete PNG
file wrapping the same 48 pixel bytes, routed by ``doc_id % 4``
(text/plain otherwise). The PNG branch is still pure codegen: a
stored-deflate (level-0) zlib stream needs no compressor — it is
header + length + the verbatim scanlines — and the two checksums the
format requires are plain Spark expressions (``crc32`` is a built-in;
adler32 is a 52-element ``aggregate`` of position-weighted byte sums).
``zlib.decompress`` on the decode side genuinely verifies that
JVM-built adler32. Because the construction is deterministic, a DuckDB
oracle can predict the DECODED output from the text hex dump — so the
real parse path (magic check, offset read, chunk walk, CRC check,
inflate, unfilter, pixel/sample extraction) is hash-checked by the
driver, not just exercised. ``encode_bmp``/``encode_wav``/``encode_png``
double as the fixture generators for unit tests.

Reference parity: the reference treats media as opaque bytes end-to-end
(no media operators exist in gmall-flink-parent); this module is part of
the LLM-training-data surface the brief adds on top.
"""

from __future__ import annotations

import struct
import zlib
from typing import Iterator

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from gmall_flink_parent_spark.registry import register, scoped_persist
from gmall_flink_parent_spark.sources.tables import fan_out, load_table

# Synthesized-payload geometry (fixed so headers are constant literals).
BMP_WIDTH = 4
BMP_HEIGHT = 4
BMP_PIXEL_BYTES = BMP_WIDTH * 3 * BMP_HEIGHT  # stride 12 = width*3, no padding
WAV_DATA_BYTES = 64  # 32 PCM16 mono samples
WAV_SAMPLE_RATE = 8000
# Docs shorter than this many UTF-8 bytes stay text/plain (payload
# construction needs a full pixel/sample region).
MIN_MEDIA_BYTES = max(BMP_PIXEL_BYTES, WAV_DATA_BYTES)


def encode_bmp(pixel_bytes: bytes, width: int = BMP_WIDTH, height: int = BMP_HEIGHT) -> bytes:
    """Fixture generator: a real uncompressed 24-bit BMP file.

    ``pixel_bytes`` is the raw BGR scanline data in storage order and
    must already include any 4-byte row padding (the default 4×4
    geometry has stride 12 = width*3, so no padding).
    """
    header_size = 14 + 40
    file_size = header_size + len(pixel_bytes)
    file_header = struct.pack("<2sIHHI", b"BM", file_size, 0, 0, header_size)
    dib = struct.pack(
        "<IiiHHIIiiII",
        40, width, height, 1, 24, 0, len(pixel_bytes), 2835, 2835, 0, 0,
    )
    return file_header + dib + pixel_bytes


def encode_wav(sample_bytes: bytes, sample_rate: int = WAV_SAMPLE_RATE) -> bytes:
    """Fixture generator: a real PCM16 mono RIFF/WAVE file."""
    fmt = struct.pack("<HHIIHH", 1, 1, sample_rate, sample_rate * 2, 2, 16)
    riff_size = 4 + (8 + len(fmt)) + (8 + len(sample_bytes))
    return (
        struct.pack("<4sI4s", b"RIFF", riff_size, b"WAVE")
        + struct.pack("<4sI", b"fmt ", len(fmt)) + fmt
        + struct.pack("<4sI", b"data", len(sample_bytes)) + sample_bytes
    )


PNG_SIG = b"\x89PNG\r\n\x1a\n"


def _png_chunk(ctype: bytes, data: bytes) -> bytes:
    return (
        struct.pack(">I", len(data))
        + ctype
        + data
        + struct.pack(">I", zlib.crc32(ctype + data))
    )


def _png_predictor(ftype: int, a: int, b: int, c: int) -> int:
    """The per-byte PNG filter predictor (a=left, b=up, c=up-left) —
    ONE definition used by both the encode (subtract) and decode (add)
    directions so the filter/unfilter pair stays provably symmetric."""
    if ftype == 0:
        return 0
    if ftype == 1:
        return a
    if ftype == 2:
        return b
    if ftype == 3:
        return (a + b) >> 1
    if ftype == 4:
        p = a + b - c
        pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
        return a if pa <= pb and pa <= pc else (b if pb <= pc else c)
    raise ValueError(f"bad PNG filter type {ftype}")


def _png_filter_scanline(row: bytes, prev: bytes, ftype: int, bpp: int) -> bytes:
    """Apply PNG filter ``ftype`` to a raw scanline (encode direction)."""
    out = bytearray(len(row))
    for i in range(len(row)):
        a = row[i - bpp] if i >= bpp else 0
        c = prev[i - bpp] if i >= bpp else 0
        out[i] = (row[i] - _png_predictor(ftype, a, prev[i], c)) & 0xFF
    return bytes(out)


def encode_png(
    pixel_bytes: bytes,
    width: int = BMP_WIDTH,
    height: int = BMP_HEIGHT,
    *,
    channels: int = 3,
    filter_type: int = 0,
    level: int = 0,
) -> bytes:
    """Fixture generator: a real, spec-valid PNG (8-bit RGB/RGBA).

    ``filter_type`` applies that scanline filter to every row (0–4) so
    tests can exercise each unfilter branch of the decoder;
    ``level`` is the zlib compression level — 0 produces stored-deflate
    blocks whose size depends only on input length, which is what makes
    the synthesized corpus payload's byte length oracle-predictable.
    """
    stride = width * channels
    if len(pixel_bytes) != stride * height:
        raise ValueError("pixel_bytes must be exactly width*channels*height bytes")
    raw = bytearray()
    prev = bytes(stride)
    for r in range(height):
        row = pixel_bytes[r * stride : (r + 1) * stride]
        raw.append(filter_type)
        raw += _png_filter_scanline(row, prev, filter_type, channels)
        prev = row
    color_type = 2 if channels == 3 else 6
    ihdr = struct.pack(">IIBBBBB", width, height, 8, color_type, 0, 0, 0)
    return (
        PNG_SIG
        + _png_chunk(b"IHDR", ihdr)
        + _png_chunk(b"IDAT", zlib.compress(bytes(raw), level))
        + _png_chunk(b"IEND", b"")
    )


def _png_pixels(payload: bytes) -> tuple[int, int, int, bytes]:
    """Real PNG parse: chunk walk (CRC-verified), IHDR, zlib inflate of
    the concatenated IDAT stream, and per-scanline unfilter for all five
    filter types. Returns (width, height, channels, pixel_bytes).
    Supports 8-bit truecolor (RGB/RGBA), non-interlaced — the common
    case; palette/16-bit/interlaced raise at the documented seam."""
    if payload[: len(PNG_SIG)] != PNG_SIG:
        raise ValueError("not a PNG: bad signature")
    ihdr = None
    idat = b""
    pos = len(PNG_SIG)
    while pos + 8 <= len(payload):
        ln = int.from_bytes(payload[pos : pos + 4], "big")
        ctype = payload[pos + 4 : pos + 8]
        data = payload[pos + 8 : pos + 8 + ln]
        if len(data) != ln:
            raise ValueError("truncated PNG chunk")
        crc = int.from_bytes(payload[pos + 8 + ln : pos + 12 + ln], "big")
        if crc != zlib.crc32(ctype + data):
            raise ValueError(f"PNG chunk {ctype!r}: CRC mismatch")
        if ctype == b"IHDR":
            ihdr = data
        elif ctype == b"IDAT":
            idat += data
        elif ctype == b"IEND":
            break
        pos += 12 + ln
    if ihdr is None or not idat:
        raise ValueError("missing IHDR/IDAT chunk")
    width, height, bitdepth, color_type, _comp, _filt, interlace = struct.unpack(
        ">IIBBBBB", ihdr
    )
    if bitdepth != 8 or color_type not in (2, 6) or interlace != 0:
        raise NotImplementedError(
            "only 8-bit non-interlaced truecolor PNG is supported"
        )
    bpp = 3 if color_type == 2 else 4
    stride = width * bpp
    raw = zlib.decompress(idat)  # verifies the adler32 trailer for real
    if len(raw) != (stride + 1) * height:
        raise ValueError("PNG pixel data has wrong length")
    out = bytearray()
    prev = bytearray(stride)
    for r in range(height):
        ftype = raw[r * (stride + 1)]
        line = bytearray(raw[r * (stride + 1) + 1 : (r + 1) * (stride + 1)])
        # unfilter = add back the SAME predictor the encoder subtracted;
        # line[i] is already reconstructed for i' < i, which is what the
        # left/up-left neighbors must read (spec: filters chain on
        # reconstructed bytes, not filtered ones)
        for i in range(stride):
            a = line[i - bpp] if i >= bpp else 0
            c = prev[i - bpp] if i >= bpp else 0
            line[i] = (line[i] + _png_predictor(ftype, a, prev[i], c)) & 0xFF
        out += line
        prev = line
    return width, height, bpp, bytes(out)


def _pixel_stats(width: int, height: int, px: bytes) -> tuple[int, int, int]:
    """The image feature contract in ONE place: (n_pixels, first channel
    byte or -1, content sum mod 997) — shared by every image codec so
    the definition cannot drift between branches."""
    return width * height, (px[0] if px else -1), sum(px) % 997


def _decode_png(payload: bytes) -> tuple[int, int, int]:
    """Decode a PNG; return (n_pixels, first_channel, pixel_sum_mod)."""
    width, height, _bpp, px = _png_pixels(payload)
    return _pixel_stats(width, height, px)


BMP_HEADER = encode_bmp(b"\x00" * BMP_PIXEL_BYTES)[: 14 + 40]
WAV_HEADER = encode_wav(b"\x00" * WAV_DATA_BYTES)[:44]
BMP_FILE_BYTES = len(BMP_HEADER) + BMP_PIXEL_BYTES  # 102
WAV_FILE_BYTES = len(WAV_HEADER) + WAV_DATA_BYTES  # 108
# Level-0 deflate is stored blocks: output size depends only on input
# size, so the synthesized PNG's byte length is a per-mime constant the
# oracle can state literally (120 for the 4×4 RGB geometry).
PNG_FILE_BYTES = len(encode_png(b"\x00" * BMP_PIXEL_BYTES))
PNG_RAW_BYTES = (BMP_WIDTH * 3 + 1) * BMP_HEIGHT  # filter byte + scanline, ×4 rows


def _decode_bmp(payload: bytes) -> tuple[int, int, int]:
    """Parse an uncompressed 24-bit BMP; return (n_pixels, first_channel,
    pixel_sum_mod). Every field is read from the actual header — the
    pixel region comes from the header's own data offset and stride."""
    if payload[:2] != b"BM":
        raise ValueError("not a BMP: bad magic")
    data_off = int.from_bytes(payload[10:14], "little")
    width = int.from_bytes(payload[18:22], "little", signed=True)
    height = int.from_bytes(payload[22:26], "little", signed=True)
    bpp = int.from_bytes(payload[28:30], "little")
    compression = int.from_bytes(payload[30:34], "little")
    if bpp != 24 or compression != 0:
        raise NotImplementedError("only uncompressed 24-bit BMP is supported")
    stride = ((width * 3 + 3) // 4) * 4
    n_rows = abs(height)
    px = b"".join(
        payload[data_off + r * stride : data_off + r * stride + width * 3]
        for r in range(n_rows)
    )
    return width * n_rows, (px[0] if px else -1), sum(px) % 997


def _decode_wav(payload: bytes) -> tuple[int, int, int]:
    """Walk the RIFF chunk list for fmt/data; return (n_samples,
    first_sample, data_sum_mod) for PCM16 audio."""
    if payload[:4] != b"RIFF" or payload[8:12] != b"WAVE":
        raise ValueError("not a RIFF/WAVE file")
    fmt = data = None
    pos = 12
    while pos + 8 <= len(payload):
        cid = payload[pos : pos + 4]
        sz = int.from_bytes(payload[pos + 4 : pos + 8], "little")
        body = payload[pos + 8 : pos + 8 + sz]
        if cid == b"fmt ":
            fmt = body
        elif cid == b"data":
            data = body
        pos += 8 + sz + (sz & 1)  # RIFF chunks are word-aligned
    if fmt is None or data is None:
        raise ValueError("missing fmt/data chunk")
    audio_format = int.from_bytes(fmt[0:2], "little")
    channels = int.from_bytes(fmt[2:4], "little")
    bits = int.from_bytes(fmt[14:16], "little")
    if audio_format != 1 or bits != 16:
        raise NotImplementedError("only PCM16 WAV is supported")
    n = len(data) // (channels * 2)
    first = (
        int.from_bytes(data[0:2], "little", signed=True) if len(data) >= 2 else -1
    )
    return n, first, sum(data) % 997


def _pil_pixels(payload: bytes) -> tuple[int, int, bytes] | None:
    """Adapter seam for compressed image codecs the in-repo kernels
    don't cover (WebP / GIF / TIFF / progressive JPEG): when Pillow is
    importable it supplies (width, height, interleaved RGB-or-gray
    bytes) — ``decode_jpeg``'s shape minus the channel count — so
    ``decode_media`` and ``_content_region`` route through it with no
    other change; when absent the callers fall through to the honest
    ``NotImplementedError``. Malformed payloads surface as the module's
    uniform ``ValueError``, never a raw PIL exception. The integration
    contract (open-from-bytes, ``mode``/``convert``/``size``/
    ``tobytes``) is pinned by a faked-module test in
    ``tests/test_operators.py`` (same pattern as the faked-Delta MERGE
    dispatch test), so a real Pillow dropped into the environment meets
    a tested surface."""
    try:
        from PIL import Image  # type: ignore[import-not-found]
    except ImportError:
        return None
    import io

    try:
        img = Image.open(io.BytesIO(payload))
        if img.mode not in ("L", "RGB"):
            img = img.convert("RGB")
        w, h = img.size
        return w, h, img.tobytes()
    except MemoryError:
        # a genuine allocation failure is a resource condition, not a
        # malformed payload — let it surface so retries/rescheduling see
        # it (Pillow's bomb CHECK raises DecompressionBombError, which
        # is a plain Exception and takes the branch below)
        raise
    except Exception as exc:
        # Pillow's failure surface is wider than (OSError, ValueError):
        # plugin parsers raise struct.error / SyntaxError on truncated
        # streams, and oversized images raise DecompressionBombError.
        # Everything funnels into the module's uniform ValueError so no
        # raw PIL exception ever escapes decode_media.
        raise ValueError(f"Pillow could not decode image payload: {exc}") from exc


def decode_media(payload: bytes, mime: str) -> dict:
    """Decode kernel. BMP, PNG and WAV are parsed for real (pure
    Python — PNG via chunk walk + zlib inflate + scanline unfilter);
    ``text/plain`` gets byte stats (one "unit" = one byte);
    entropy-coded codecs raise — that seam is where PIL/libav would
    plug in.

    Returns a unified feature dict: ``n_units`` (pixels / samples /
    bytes), ``first_unit`` (first channel byte / first signed sample /
    first byte, -1 when empty), ``unit_sum_mod`` (content sum mod 997,
    over decoded pixel/sample bytes for media, first 256 bytes for
    text).
    """
    if mime == "image/bmp":
        n, first, sm = _decode_bmp(payload)
    elif mime == "image/png":
        n, first, sm = _decode_png(payload)
    elif mime == "image/jpeg":
        from gmall_flink_parent_spark.functions.jpeg import decode_jpeg

        try:
            w, h, _nc, px = decode_jpeg(payload)
        except NotImplementedError:
            # progressive/12-bit variants the baseline kernel refuses:
            # the Pillow adapter covers them when installed
            decoded = _pil_pixels(payload)
            if decoded is None:
                raise
            w, h, px = decoded
        n, first, sm = _pixel_stats(w, h, px)
    elif mime == "audio/wav":
        n, first, sm = _decode_wav(payload)
    elif mime == "text/plain":
        n = len(payload)
        first = payload[0] if n else -1
        sm = sum(payload[:256]) % 997
    else:
        decoded = _pil_pixels(payload) if mime.startswith("image/") else None
        if decoded is None:
            raise NotImplementedError(
                f"decode for {mime!r} requires media libraries not present in this "
                "container; plug a real kernel into extract_media_features"
            )
        n, first, sm = _pixel_stats(*decoded)
    return {"n_units": n, "first_unit": first, "unit_sum_mod": sm}


# Constant pieces of the synthesized PNG: everything except the 52
# scanline bytes and the two content-dependent checksums. The zlib
# prefix is what zlib.compress(…, 0) emits before the verbatim data —
# 2-byte header + the stored-block header (BFINAL=1, LEN, NLEN).
PNG_ZPREFIX = zlib.compress(b"\x00" * PNG_RAW_BYTES, 0)[:7]
PNG_ZBYTES = len(PNG_ZPREFIX) + PNG_RAW_BYTES + 4  # + adler32 trailer
PNG_PRE_IDAT = (
    PNG_SIG
    + _png_chunk(b"IHDR", struct.pack(">IIBBBBB", BMP_WIDTH, BMP_HEIGHT, 8, 2, 0, 0, 0))
    + struct.pack(">I", PNG_ZBYTES)
    + b"IDAT"
)
PNG_IEND_CHUNK = _png_chunk(b"IEND", b"")
ADLER_MOD = 65521


def _u32_be(col: Column) -> Column:
    """A long in [0, 2^32) as 4 big-endian bytes."""
    return F.unhex(F.lpad(F.hex(col), 8, "0"))


def _png_payload(raw: Column) -> Column:
    """A complete, spec-valid PNG file built in PURE CODEGEN around the
    first 48 UTF-8 text bytes as 4×4 RGB scanlines. Stored-deflate
    (level 0) needs no compressor — the zlib stream is a constant prefix
    + the verbatim filter-0 scanlines + adler32 — and both required
    checksums are Spark expressions: ``crc32`` is built-in, adler32 is
    a 52-element ``aggregate`` of (position-weighted) byte sums read via
    ``conv(hex(substring(…)))``. ``zlib.decompress`` in the decode
    kernel verifies the adler32 for real, so a construction bug here
    cannot pass silently."""
    stride = BMP_WIDTH * 3
    rawf = F.concat(
        *[
            part
            for r in range(BMP_HEIGHT)
            for part in (F.lit(b"\x00"), F.substring(raw, 1 + r * stride, stride))
        ]
    )
    n = PNG_RAW_BYTES

    def byte_at(i: Column) -> Column:
        return F.conv(F.hex(F.substring(rawf, i, F.lit(1))), 16, 10).cast("long")

    seq = F.sequence(F.lit(1), F.lit(n))
    zero = F.lit(0).cast("long")
    sum_d = F.aggregate(seq, zero, lambda acc, i: acc + byte_at(i))
    weighted = F.aggregate(
        seq, zero, lambda acc, i: acc + (F.lit(n + 1) - i) * byte_at(i)
    )
    a = F.pmod(sum_d + 1, F.lit(ADLER_MOD))
    b = F.pmod(weighted + n, F.lit(ADLER_MOD))
    zdata = F.concat(F.lit(PNG_ZPREFIX), rawf, _u32_be(b * 65536 + a))
    idat_crc = _u32_be(F.crc32(F.concat(F.lit(b"IDAT"), zdata)))
    return F.concat(F.lit(PNG_PRE_IDAT), zdata, idat_crc, F.lit(PNG_IEND_CHUNK))


def _routed_payload(doc_id: Column, raw: Column) -> tuple[Column, Column]:
    """JVM-side synthesized (payload, mime): constant header literal +
    a substring of the UTF-8 text bytes as pixel/sample data (for PNG, a
    whole spec-valid file with codegen checksums — ``_png_payload``),
    routed by ``doc_id % 4`` with a length guard. Pure codegen — no
    Python."""
    n = F.length(raw)
    is_bmp = (F.pmod(doc_id, F.lit(4)) == 0) & (n >= MIN_MEDIA_BYTES)
    is_wav = (F.pmod(doc_id, F.lit(4)) == 1) & (n >= MIN_MEDIA_BYTES)
    is_png = (F.pmod(doc_id, F.lit(4)) == 2) & (n >= MIN_MEDIA_BYTES)
    mime = (
        F.when(is_bmp, F.lit("image/bmp"))
        .when(is_wav, F.lit("audio/wav"))
        .when(is_png, F.lit("image/png"))
        .otherwise(F.lit("text/plain"))
    )
    payload = (
        F.when(is_bmp, F.concat(F.lit(BMP_HEADER), F.substring(raw, 1, BMP_PIXEL_BYTES)))
        .when(is_wav, F.concat(F.lit(WAV_HEADER), F.substring(raw, 1, WAV_DATA_BYTES)))
        .when(is_png, _png_payload(raw))
        .otherwise(raw)
    )
    return payload, mime


def build_payload_bytes(doc_id: int, text: str) -> tuple[bytes, str]:
    """Python mirror of ``_routed_payload`` for tests/fixtures."""
    raw = text.encode("utf-8")
    if len(raw) >= MIN_MEDIA_BYTES and doc_id % 4 == 0:
        return encode_bmp(raw[:BMP_PIXEL_BYTES]), "image/bmp"
    if len(raw) >= MIN_MEDIA_BYTES and doc_id % 4 == 1:
        return encode_wav(raw[:WAV_DATA_BYTES]), "audio/wav"
    if len(raw) >= MIN_MEDIA_BYTES and doc_id % 4 == 2:
        return encode_png(raw[:BMP_PIXEL_BYTES]), "image/png"
    return raw, "text/plain"


# byte i (1-based) of the text payload, recovered from the hex dump —
# the engine-neutral way to read binary content in the oracle
_BYTE_AT = "CAST(concat('0x', substr(hx, 2*{i} - 1, 2)) AS BIGINT)"
_SUM_TO = (
    "CAST(COALESCE(list_sum(list_transform(range(1, {n} + 1),"
    f" i -> {_BYTE_AT.format(i='i')})), 0) % 997 AS INTEGER)"
)

_ROUTING_CTE = f"""
WITH p AS (
    SELECT doc_id,
           hex(encode(text)) AS hx,
           octet_length(encode(text)) AS L,
           CASE WHEN doc_id % 4 = 0 AND octet_length(encode(text)) >= {MIN_MEDIA_BYTES}
                     THEN 'image/bmp'
                WHEN doc_id % 4 = 1 AND octet_length(encode(text)) >= {MIN_MEDIA_BYTES}
                     THEN 'audio/wav'
                WHEN doc_id % 4 = 2 AND octet_length(encode(text)) >= {MIN_MEDIA_BYTES}
                     THEN 'image/png'
                ELSE 'text/plain' END AS mime
    FROM documents
)
"""

# The oracle PREDICTS the decoded output from the construction: the BMP
# pixel region / WAV data chunk / PNG unfiltered scanlines are exactly
# the first 48/64/48 text bytes, the headers are constants — level-0
# deflate makes even the compressed PNG's file length a literal — and
# first_unit/unit_sum_mod re-derive pixel/sample math from the hex
# dump. A decoder that ignored the header offsets (or skipped the
# inflate/unfilter) would still have to land on these exact values.
MULTIMODAL_META_FEATURES_ORACLE = f"""
{_ROUTING_CTE}
SELECT doc_id,
       CAST(CASE mime WHEN 'image/bmp' THEN {BMP_FILE_BYTES}
                      WHEN 'audio/wav' THEN {WAV_FILE_BYTES}
                      WHEN 'image/png' THEN {PNG_FILE_BYTES}
                      ELSE L END AS BIGINT) AS n_bytes,
       CASE mime WHEN 'image/bmp' THEN '424D6600'
                 WHEN 'audio/wav' THEN '52494646'
                 WHEN 'image/png' THEN '89504E47'
                 ELSE substr(hx, 1, 8) END AS head_hex,
       mime,
       CAST(CASE mime WHEN 'image/bmp' THEN {BMP_WIDTH * BMP_HEIGHT}
                      WHEN 'audio/wav' THEN {WAV_DATA_BYTES // 2}
                      WHEN 'image/png' THEN {BMP_WIDTH * BMP_HEIGHT}
                      ELSE L END AS BIGINT) AS n_units,
       CAST(CASE mime
            WHEN 'image/bmp' THEN {_BYTE_AT.format(i=1)}
            WHEN 'image/png' THEN {_BYTE_AT.format(i=1)}
            WHEN 'audio/wav' THEN
                 CASE WHEN {_BYTE_AT.format(i=1)} + 256 * {_BYTE_AT.format(i=2)} >= 32768
                      THEN {_BYTE_AT.format(i=1)} + 256 * {_BYTE_AT.format(i=2)} - 65536
                      ELSE {_BYTE_AT.format(i=1)} + 256 * {_BYTE_AT.format(i=2)} END
            ELSE CASE WHEN L = 0 THEN -1 ELSE {_BYTE_AT.format(i=1)} END
            END AS INTEGER) AS first_unit,
       CASE mime WHEN 'image/bmp' THEN {_SUM_TO.format(n=BMP_PIXEL_BYTES)}
                 WHEN 'image/png' THEN {_SUM_TO.format(n=BMP_PIXEL_BYTES)}
                 WHEN 'audio/wav' THEN {_SUM_TO.format(n=WAV_DATA_BYTES)}
                 ELSE {_SUM_TO.format(n=f"least(L, 256)")} END AS unit_sum_mod
FROM p
"""


@register(
    "multimodal_meta_features",
    oracle=MULTIMODAL_META_FEATURES_ORACLE,
    tags=("multimodal", "unbenched"),
)
def multimodal_meta_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Typed metadata (JVM-side) + real decode features (Arrow
    ``mapInPandas``) over a binary payload column, one row per media
    item, four mimes (BMP / WAV / PNG / text) in one run.

    Byte length and magic-prefix metadata happen JVM-side on the binary
    column — the pattern for routing media rows to per-codec decode
    stages without touching Python; the payload then rides the Arrow
    batch through ``decode_media``, which genuinely parses BMP and WAV
    headers (offset/stride/chunk walk) and PNG files (CRC-checked chunk
    walk + zlib inflate + scanline unfilter). The oracle recomputes the
    decoded pixel/sample stats from the construction's hex math, so the
    whole pipeline — real Python decoders included — is hash-checked,
    not rows-only.
    """
    # fan_out: per-row Python decode is the compute-dense stage — run it
    # cluster-wide even when the scan is a single split (no-op at scale).
    docs = fan_out(spark, load_table(spark, sf_dir, "documents"))
    payload, mime = _routed_payload(F.col("doc_id"), F.encode(F.col("text"), "UTF-8"))
    meta = docs.select(
        "doc_id",
        payload.alias("payload"),
        mime.alias("mime"),
    ).select(
        "doc_id",
        "payload",
        F.length("payload").cast("long").alias("n_bytes"),
        F.substring(F.hex("payload"), 1, 8).alias("head_hex"),
        "mime",
    )

    def extract(batches: Iterator) -> Iterator:
        import pandas as pd

        for pdf in batches:
            feats = [decode_media(p, m) for p, m in zip(pdf["payload"], pdf["mime"])]
            out = pdf[["doc_id", "n_bytes", "head_hex", "mime"]].copy()
            for key, dtype in (
                ("n_units", "int64"),
                ("first_unit", "int32"),
                ("unit_sum_mod", "int32"),
            ):
                out[key] = pd.Series(
                    [f[key] for f in feats], index=pdf.index, dtype=dtype
                )
            yield out

    return meta.mapInPandas(
        extract,
        "doc_id long, n_bytes long, head_hex string, mime string, "
        "n_units long, first_unit int, unit_sum_mod int",
    )


def extract_media_features(df: DataFrame, payload_col: str = "payload") -> DataFrame:
    """Arrow-batched feature extraction over a binary column.

    ``mapInPandas`` keeps batches columnar through Arrow; each batch is
    decoded in Python once per ~10k rows, not per row. Output schema is
    fixed and typed, so downstream stages stay relational. Partitioning
    is inherited from the scan — no shuffle is introduced.
    """

    def extract(batches: Iterator) -> Iterator:
        import pandas as pd

        for pdf in batches:
            feats = [decode_media(p, m) for p, m in zip(pdf[payload_col], pdf["mime"])]
            out = pd.DataFrame(feats)
            out["doc_id"] = pdf["doc_id"].values
            yield out[["doc_id", "n_units", "first_unit", "unit_sum_mod"]]

    return df.mapInPandas(
        extract, "doc_id long, n_units long, first_unit int, unit_sum_mod int"
    )


N_FRAMES = 4


def _content_region(payload: bytes, mime: str) -> bytes:
    """The decodable content of a payload: BMP pixel region (via the
    header's own offset/stride), PNG unfiltered pixel bytes (via the
    real chunk-walk + inflate + unfilter decode), WAV data chunk (via
    the chunk walk), or the whole byte stream for text. Entropy-coded
    codecs raise."""
    if mime == "image/png":
        return _png_pixels(payload)[3]
    if mime == "image/jpeg":
        from gmall_flink_parent_spark.functions.jpeg import decode_jpeg

        try:
            return decode_jpeg(payload)[3]
        except NotImplementedError:
            decoded = _pil_pixels(payload)  # progressive etc. via Pillow
            if decoded is None:
                raise
            return decoded[2]
    if mime == "image/bmp":
        if payload[:2] != b"BM":
            raise ValueError("not a BMP: bad magic")
        data_off = int.from_bytes(payload[10:14], "little")
        width = int.from_bytes(payload[18:22], "little", signed=True)
        height = int.from_bytes(payload[22:26], "little", signed=True)
        stride = ((width * 3 + 3) // 4) * 4
        return payload[data_off : data_off + stride * abs(height)]
    if mime == "audio/wav":
        if payload[:4] != b"RIFF" or payload[8:12] != b"WAVE":
            raise ValueError("not a RIFF/WAVE file")
        pos = 12
        while pos + 8 <= len(payload):
            cid = payload[pos : pos + 4]
            sz = int.from_bytes(payload[pos + 4 : pos + 8], "little")
            if cid == b"data":
                return payload[pos + 8 : pos + 8 + sz]
            pos += 8 + sz + (sz & 1)
        raise ValueError("missing data chunk")
    if mime == "text/plain":
        return payload
    if mime.startswith("image/"):
        decoded = _pil_pixels(payload)
        if decoded is not None:
            return decoded[2]
    raise NotImplementedError(
        f"frame sampling for {mime!r} requires media libraries not present "
        "in this container; plug a real decoder into frame_sample_rows"
    )


def sample_frames(payload: bytes, mime: str, n_frames: int = N_FRAMES) -> list[bytes]:
    """Frame-sampling kernel: slice the DECODED content region into
    ``n_frames`` deterministic chunks — image scanlines for the 4-row
    BMP geometry, equal sample runs for WAV, byte ranges for text. The
    content region itself comes from a real header parse
    (``_content_region``); compressed codecs raise."""
    content = _content_region(payload, mime)
    if not content:
        return [b""] * n_frames
    step = max(len(content) // n_frames, 1)
    return [content[i * step : (i + 1) * step] for i in range(n_frames)]


def resize_frame(frame: bytes, target: int = 16) -> bytes:
    """Resize kernel: deterministic nearest-neighbor downsample of the
    byte stream (every k-th byte to ``target`` length) — for the BMP
    scanline frames this IS nearest-neighbor pixel-channel resampling;
    for audio it is sample decimation."""
    if len(frame) <= target:
        return frame
    step = len(frame) / target
    return bytes(frame[int(i * step)] for i in range(target))


def frame_sample_rows(df: DataFrame, payload_col: str = "payload") -> DataFrame:
    """One media row → N (frame_idx, frame, thumb) rows via mapInPandas.

    The fan-out shape of every video pipeline: frames multiply row
    counts N×, so this stage runs *after* any filtering and the output
    carries only (id, idx, bytes) — never the source payload. Arrow
    batches keep the bytes columnar; partitioning is inherited from the
    scan, no shuffle.
    """

    def explode_frames(batches: Iterator) -> Iterator:
        import pandas as pd

        for pdf in batches:
            out = {"doc_id": [], "frame_idx": [], "frame": [], "thumb": []}
            for doc_id, payload, mime in zip(
                pdf["doc_id"], pdf[payload_col], pdf["mime"]
            ):
                for i, fr in enumerate(sample_frames(payload, mime)):
                    out["doc_id"].append(doc_id)
                    out["frame_idx"].append(i)
                    out["frame"].append(fr)
                    out["thumb"].append(resize_frame(fr))
            yield pd.DataFrame(out)

    return df.mapInPandas(
        explode_frames, "doc_id long, frame_idx int, frame binary, thumb binary"
    )


# Frame-slice arithmetic mirrored into SQL. The content region cs and
# step are per-mime: BMP/PNG → 48 (decoded) pixel bytes / 12-byte
# scanlines, WAV → 64 data bytes / 16-byte sample runs, text → whole
# payload / L//4. The content equals the first cs TEXT bytes by
# construction (for PNG only after a real inflate + unfilter), so the
# oracle reads frame content through the text hex dump — the
# mapInPandas fan-out, real decode kernels included, is hash-checked
# end to end.
FRAME_SAMPLE_ORACLE = f"""
{_ROUTING_CTE}
, g AS (
    SELECT doc_id, hx, mime,
           CASE mime WHEN 'image/bmp' THEN {BMP_PIXEL_BYTES}
                     WHEN 'image/png' THEN {BMP_PIXEL_BYTES}
                     WHEN 'audio/wav' THEN {WAV_DATA_BYTES}
                     ELSE L END AS cs,
           CASE mime WHEN 'image/bmp' THEN {BMP_PIXEL_BYTES // N_FRAMES}
                     WHEN 'image/png' THEN {BMP_PIXEL_BYTES // N_FRAMES}
                     WHEN 'audio/wav' THEN {WAV_DATA_BYTES // N_FRAMES}
                     ELSE greatest(L // {N_FRAMES}, 1) END AS step
    FROM p
), f AS (
    SELECT doc_id, hx, cs, step, unnest(range({N_FRAMES})) AS frame_idx FROM g
)
SELECT doc_id,
       CAST(frame_idx AS INTEGER) AS frame_idx,
       CAST(least(greatest(cs - frame_idx * step, 0), step) AS BIGINT) AS frame_len,
       substr(hx, 2 * frame_idx * step + 1,
              least(least(greatest(cs - frame_idx * step, 0), step) * 2, 8))
           AS frame_head_hex,
       CAST(least(least(greatest(cs - frame_idx * step, 0), step), 16) AS BIGINT)
           AS thumb_len
FROM f
"""


@register("multimodal_frame_sample", oracle=FRAME_SAMPLE_ORACLE, tags=("multimodal", "unbenched"))
def multimodal_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame sampling + thumbnail resize over binary payloads, all four
    mimes: BMP/PNG frames are scanlines cut from the decoded pixel
    region (for PNG, after a real inflate + unfilter), WAV frames are
    sample runs from the data chunk, text frames are byte ranges. The distributed fan-out
    (``frame_sample_rows``: one row in, N typed rows out through Arrow)
    carries real decoded content. The registered output is the frames'
    byte stats (length + head hex + thumb length) computed JVM-side from
    the actual binary frames, which a hex/length-math oracle reproduces
    — hash-checked, not rows-only; the raw binary rows are value-pinned
    in ``tests/test_operators.py``.
    """
    docs = fan_out(spark, load_table(spark, sf_dir, "documents"))
    payload, mime = _routed_payload(F.col("doc_id"), F.encode(F.col("text"), "UTF-8"))
    with_payload = docs.select(
        "doc_id",
        payload.alias("payload"),
        mime.alias("mime"),
    )
    frames = frame_sample_rows(with_payload)
    return frames.select(
        "doc_id",
        "frame_idx",
        F.length("frame").cast("long").alias("frame_len"),
        F.substring(F.hex("frame"), 1, 8).alias("frame_head_hex"),
        F.length("thumb").cast("long").alias("thumb_len"),
    )


# ------------------------------------------------ perceptual-hash dedup

AHASH_PIXELS = BMP_WIDTH * BMP_HEIGHT  # 16 pixels → 16-bit average hash


def ahash_value(payload: bytes, mime: str) -> int:
    """Average-hash kernel over a DECODED image: per-pixel luminance
    (R+G+B, integer) against the image mean, one bit per pixel in
    content-region storage order. All-integer (``npix·lum > Σlum``
    avoids the mean division), so the hash is engine- and
    platform-exact."""
    px = _content_region(payload, mime)[: AHASH_PIXELS * 3]
    lums = [px[3 * i] + px[3 * i + 1] + px[3 * i + 2] for i in range(AHASH_PIXELS)]
    total = sum(lums)
    h = 0
    for i, lum in enumerate(lums):
        if AHASH_PIXELS * lum > total:
            h |= 1 << i
    return h


def ahash_rows(df: DataFrame, payload_col: str = "payload") -> DataFrame:
    """(doc_id, ahash) via Arrow batches — the decode stage runs the
    REAL per-mime parser (`_content_region`: BMP header offset/stride,
    PNG chunk walk + inflate + unfilter), then the integer aHash
    kernel. Partitioning is inherited from the scan; no shuffle."""

    def hash_batch(batches: Iterator) -> Iterator:
        import pandas as pd

        for pdf in batches:
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"].values,
                    "ahash": pd.Series(
                        [
                            ahash_value(p, m)
                            for p, m in zip(pdf[payload_col], pdf["mime"])
                        ],
                        index=pdf.index,
                        dtype="int64",
                    ),
                }
            )

    return df.mapInPandas(hash_batch, "doc_id long, ahash long")


_AH_BYTE = "CAST(concat('0x', substr(hx, 2*({i}) - 1, 2)) AS BIGINT)"

IMAGE_AHASH_ORACLE = f"""
{_ROUTING_CTE}
, img AS (
    SELECT doc_id, hx FROM p WHERE mime IN ('image/bmp', 'image/png')
), lum AS (
    SELECT doc_id, CAST(t.i AS BIGINT) AS i,
           {_AH_BYTE.format(i='3 * t.i + 1')}
         + {_AH_BYTE.format(i='3 * t.i + 2')}
         + {_AH_BYTE.format(i='3 * t.i + 3')} AS lum
    FROM img, unnest(range({AHASH_PIXELS})) AS t(i)
), tot AS (
    SELECT doc_id, SUM(lum) AS s FROM lum GROUP BY doc_id
), h AS (
    SELECT l.doc_id,
           CAST(SUM(CASE WHEN {AHASH_PIXELS} * l.lum > t.s
                         THEN CAST(1 AS BIGINT) << l.i ELSE 0 END) AS BIGINT) AS ahash
    FROM lum l JOIN tot t USING (doc_id)
    GROUP BY l.doc_id
)
SELECT a.doc_id AS doc_id_a, b.doc_id AS doc_id_b,
       CAST(bit_count(xor(a.ahash, b.ahash)) AS INTEGER) AS hamming
FROM h a JOIN h b
  ON a.doc_id < b.doc_id
 AND (a.ahash % 256 = b.ahash % 256 OR a.ahash // 256 = b.ahash // 256)
WHERE bit_count(xor(a.ahash, b.ahash)) <= 1
"""


@register(
    "image_ahash_near_dup",
    oracle=IMAGE_AHASH_ORACLE,
    tags=("multimodal", "dedup"),
    past_window=True,
)
def image_ahash_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual near-duplicate image pairs: average-hash (aHash) over
    the decoded pixels, Hamming(a, b) ≤ 1.

    The image twin of ``simhash_near_dup`` — near-dup detection where
    the signature comes from DECODED PIXELS, not tokens, so re-encoded
    copies of the same image (the BMP and PNG routes wrap the same
    pixel bytes) land in the same bucket even though their FILES share
    no bytes. The decode stage is the real per-mime parser through
    Arrow ``mapInPandas``; the hash is all-integer (npix·lum > Σlum
    sidesteps the mean division), and the oracle recomputes it from
    the construction's hex math — the whole path, Python decoders
    included, is hash-checked.

    Candidate generation mirrors the SimHash plan: each 16-bit hash
    emits 2 (table, 8-bit block) probe keys; pigeonhole makes the probe
    COMPLETE for Hamming ≤ 1, the exact Hamming filter after the join
    is a rerank, and a pair colliding in both tables survives only in
    its first matching table (codegen filter — no output-sized dedup
    shuffle). Equi-join only; never a quadratic image self-join. At
    100 TB the hashed frame is ~16 B/row regardless of image size —
    the decode stage is the only part that touches pixels, and it runs
    once per image at ingest in production (store the hash beside the
    media row; the pair join reads only hashes).
    """
    docs = fan_out(spark, load_table(spark, sf_dir, "documents"))
    payload, mime = _routed_payload(F.col("doc_id"), F.encode(F.col("text"), "UTF-8"))
    media = docs.select("doc_id", payload.alias("payload"), mime.alias("mime")).filter(
        F.col("mime").isin("image/bmp", "image/png")
    )
    # Structural skew fallback is opt-in via session config (see
    # ahash_pairs_frame): unset compiles the plain single-join plan.
    return ahash_pairs_frame(
        scoped_persist(ahash_rows(media)),
        hot_threshold=conf_hot_threshold(spark, AHASH_HOT_BUCKET_CONF),
    )


# Session config enabling the salted probe-table join: set to a
# bucket-size threshold (hash rows per (table, block) bucket) to
# activate. Unset → plain equi-join; AQE's skew split stays the runtime
# defense. Mirrors ``dedup.HOT_BUCKET_CONF`` — one switch convention
# across the dedup family's pair joins.
AHASH_HOT_BUCKET_CONF = "spark.gmall_flink.ahash.hotBucketThreshold"
# A probe bucket with more hash rows than the threshold gets the salted
# join (its self-join would put threshold² candidate rows in one task);
# same 2048² ≈ 4M-join-rows-per-task pain boundary as MinHash.
AHASH_HOT_BUCKET = 2048
# Salt fan-out for hot buckets — quadratic work per bucket divides by
# this; probe-side replication multiplies by it (only for hot rows).
N_AHASH_SALT = 16


def conf_hot_threshold(spark: SparkSession, conf_key: str) -> int | None:
    """Opt-in structural-skew threshold from session config — ``None``
    (unset) compiles the plain single-join plan with zero added stages."""
    raw = spark.conf.get(conf_key, None)
    return int(raw) if raw is not None else None


def ahash_pairs_frame(
    hashed: DataFrame,
    hot_threshold: int | None = None,
    n_salt: int = N_AHASH_SALT,
) -> DataFrame:
    """Pair-join core of ``image_ahash_near_dup`` over a PERSISTED
    (doc_id, ahash) frame — shared with the store head
    (``streaming/jobs.py::ahash_near_dup_from_store``) so the batch and
    fingerprint-at-ingest verdicts cannot drift. See the registered
    query's docstring for the probe-table completeness argument.

    ``hot_threshold`` (wired to ``AHASH_HOT_BUCKET_CONF``) is the
    salted fallback for hot probe buckets — the ``_band_pairs`` pattern
    (`functions/dedup.py`) ported to the pigeonhole join: the probe key
    is an 8-BIT hash half, so a degenerate corpus (millions of
    near-uniform images whose aHashes collapse to a handful of values —
    all-black thumbnails, solid-color placeholders) concentrates B²
    join work on one task no matter how AQE splits partitions, because
    every pair needs both rows. Bucket sizes are counted (256×2-row
    aggregate — cheap), buckets above the threshold are broadcast as a
    tag list, and hot rows take a salted self-join: probe side
    replicated ``n_salt``× with an explicit probe group, build side
    hashed into one group by doc_id — each hot bucket's quadratic work
    spreads over ``n_salt`` tasks with a build side of B/n_salt rows.
    Cold buckets keep the plain equi-join. Any salt assignment yields
    identical pairs (each (a, b) joins exactly once: a's replica in
    b's group), and the first-matching-table dedup filter is computed
    from the carried k0/k1 columns — independent of the hot/cold split,
    so a pair colliding in a cold table-0 bucket AND a hot table-1
    bucket still survives exactly once. Both branches are pinned
    hash-equal to IMAGE_AHASH_ORACLE; ``None`` (the default) compiles
    the plain plan with ZERO added stages — like MinHash, the rewrite
    is a switch for corpora known to be degenerate, not a default tax.
    """
    probed = hashed.select(
        "doc_id",
        "ahash",
        (F.col("ahash") % 256).alias("k0"),
        (F.col("ahash") / 256).cast("long").alias("k1"),
    )
    exploded = probed.select(
        "doc_id",
        "ahash",
        "k0",
        "k1",
        F.posexplode(F.array("k0", "k1")).alias("tbl", "k"),
    )

    def project(a_side: DataFrame, b_side: DataFrame, extra: Column) -> DataFrame:
        first_tbl = (
            F.when(F.col("a.k0") == F.col("b.k0"), 0)
            .when(F.col("a.k1") == F.col("b.k1"), 1)
        )
        hamming = F.bit_count(
            F.col("a.ahash").bitwiseXOR(F.col("b.ahash"))
        ).cast("int")
        return (
            a_side.alias("a")
            .join(
                b_side.alias("b"),
                (F.col("a.tbl") == F.col("b.tbl"))
                & (F.col("a.k") == F.col("b.k"))
                & (F.col("a.doc_id") < F.col("b.doc_id"))
                & extra,
            )
            .filter(F.col("a.tbl") == first_tbl)
            .select(
                F.col("a.doc_id").alias("doc_id_a"),
                F.col("b.doc_id").alias("doc_id_b"),
                hamming.alias("hamming"),
            )
            .filter(F.col("hamming") <= 1)
        )

    if hot_threshold is None:
        return project(exploded, exploded, F.lit(True))
    hot_buckets = (
        exploded.groupBy("tbl", "k")
        .agg(F.count(F.lit(1)).alias("n_bucket"))
        .filter(F.col("n_bucket") > hot_threshold)
        .select("tbl", "k", F.lit(True).alias("is_hot"))
    )
    # Four consumers read the tagged frame (both cold sides, probe,
    # build) and AQE replans the tag join per consumer (no
    # ReusedExchange under AQE) — the tagged frame is the hash frame
    # + 1 bit, cheap to cache at any scale. Eager: the consumers run
    # concurrently in one job and would race on a lazy fill.
    tagged = scoped_persist(
        exploded.join(F.broadcast(hot_buckets), ["tbl", "k"], "left"),
        eager=True,
    )
    cold = tagged.filter(F.col("is_hot").isNull()).drop("is_hot")
    hot = tagged.filter(F.col("is_hot").isNotNull()).drop("is_hot")
    pairs = project(cold, cold, F.lit(True))
    # Probe side replicated across all salt groups; build side hashed
    # into one group by doc_id. xxhash64 is engine-local but the salt
    # never reaches the output, so oracle portability is unaffected.
    probe = hot.withColumn(
        "probe_g", F.explode(F.sequence(F.lit(0), F.lit(n_salt - 1)))
    )
    build = hot.withColumn(
        "salt_g", F.pmod(F.xxhash64("doc_id"), F.lit(n_salt))
    )
    salted = project(probe, build, F.col("a.probe_g") == F.col("b.salt_g"))
    return pairs.unionByName(salted)


# ------------------------------------------------- PCM audio features

WAV_N_SAMPLES = WAV_DATA_BYTES // 2


def pcm_features(payload: bytes) -> tuple[int, int, int, int]:
    """(n_samples, energy_sum, zero_crossings, fp_signdelta) over a
    decoded PCM16 mono stream — the WAV twin of ``ahash_value``. All
    integers: Σs² is exact in 64 bits (32 samples × 32767² ≪ 2⁶³), a
    crossing is a sign-bit flip between neighbors, and the fingerprint
    packs sign(s[i+1] − s[i]) — the melody-shape bit pattern audio
    fingerprinters (Shazam-family constellation hashes) build on."""
    data = _content_region(payload, "audio/wav")
    n = len(data) // 2
    samples = [
        int.from_bytes(data[2 * i : 2 * i + 2], "little", signed=True)
        for i in range(n)
    ]
    energy = sum(s * s for s in samples)
    crossings = sum(
        1 for i in range(n - 1) if (samples[i] < 0) != (samples[i + 1] < 0)
    )
    fp = 0
    for i in range(n - 1):
        if samples[i + 1] > samples[i]:
            fp |= 1 << i
    return n, energy, crossings, fp


# signed 16-bit LE sample i (1-based sample index) from the hex dump
_PCM_S = (
    "(CASE WHEN {b1} + 256 * {b2} >= 32768 THEN {b1} + 256 * {b2} - 65536 "
    "ELSE {b1} + 256 * {b2} END)"
)


def _pcm_sample_sql(i: str) -> str:
    b1 = _AH_BYTE.format(i=f"2 * ({i}) - 1")
    b2 = _AH_BYTE.format(i=f"2 * ({i})")
    return _PCM_S.format(b1=b1, b2=b2)


AUDIO_PCM_ORACLE = f"""
{_ROUTING_CTE}
, wav AS (
    SELECT doc_id, hx FROM p WHERE mime = 'audio/wav'
), s AS (
    SELECT doc_id, CAST(t.i AS BIGINT) AS i,
           CAST({_pcm_sample_sql('t.i + 1')} AS BIGINT) AS v
    FROM wav, unnest(range({WAV_N_SAMPLES})) AS t(i)
), nxt AS (
    SELECT a.doc_id, a.i, a.v, b.v AS v_next
    FROM s a LEFT JOIN s b ON a.doc_id = b.doc_id AND b.i = a.i + 1
)
SELECT doc_id,
       CAST({WAV_N_SAMPLES} AS BIGINT) AS n_samples,
       CAST(SUM(v * v) AS BIGINT) AS energy_sum,
       CAST(SUM(CASE WHEN v_next IS NOT NULL
                      AND (v < 0) != (v_next < 0) THEN 1 ELSE 0 END) AS BIGINT)
           AS zero_crossings,
       CAST(SUM(CASE WHEN v_next IS NOT NULL AND v_next > v
                     THEN CAST(1 AS BIGINT) << i ELSE 0 END) AS BIGINT)
           AS fp_signdelta
FROM nxt
GROUP BY doc_id
"""


@register(
    "audio_pcm_features",
    oracle=AUDIO_PCM_ORACLE,
    tags=("multimodal", "audio"),
    past_window=True,
)
def audio_pcm_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact PCM16 audio features through the real RIFF chunk walk:
    per-clip energy (Σs², the loudness/silence gate), zero-crossing
    count (the cheapest spectral proxy — voiced vs noise), and the
    31-bit sign-of-delta fingerprint (the melody-shape signature a
    Shazam-style matcher would band-join, here the direct audio twin
    of ``image_ahash_near_dup``'s probe keys).

    All-integer math end to end, so the Arrow ``mapInPandas`` decode
    stage (real ``data``-chunk walk via ``_content_region``) is
    hash-checked against a hex-math oracle that re-derives each signed
    little-endian sample from the construction — the same
    decode-is-verified discipline as the image heads. Shuffle-free:
    one scan, one narrow Python stage, features at clip grain. At
    100 TB this is the run-once-at-ingest shape (store the 4-int row
    beside the media; every downstream gate reads integers, not audio).
    """
    docs = fan_out(spark, load_table(spark, sf_dir, "documents"))
    payload, mime = _routed_payload(F.col("doc_id"), F.encode(F.col("text"), "UTF-8"))
    media = docs.select("doc_id", payload.alias("payload"), mime.alias("mime")).filter(
        F.col("mime") == "audio/wav"
    )

    def extract(batches: Iterator) -> Iterator:
        import pandas as pd

        for pdf in batches:
            feats = [pcm_features(p) for p in pdf["payload"]]
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"].values,
                    "n_samples": pd.Series([f[0] for f in feats], index=pdf.index, dtype="int64"),
                    "energy_sum": pd.Series([f[1] for f in feats], index=pdf.index, dtype="int64"),
                    "zero_crossings": pd.Series([f[2] for f in feats], index=pdf.index, dtype="int64"),
                    "fp_signdelta": pd.Series([f[3] for f in feats], index=pdf.index, dtype="int64"),
                }
            )

    return media.mapInPandas(
        extract,
        "doc_id long, n_samples long, energy_sum long, zero_crossings long, "
        "fp_signdelta long",
    )


# ------------------------------------------------ scene-cut detection

SCENE_CUT_MEAN_DIFF = 28  # mean |Δbyte| above this → cut (text-byte scale)

_SC_BYTE = "CAST(concat('0x', substr(hx, 2*({pos}) - 1, 2)) AS BIGINT)"

SCENE_CUT_ORACLE = f"""
{_ROUTING_CTE}
, g AS (
    SELECT doc_id, hx,
           CASE mime WHEN 'image/bmp' THEN {BMP_PIXEL_BYTES}
                     WHEN 'image/png' THEN {BMP_PIXEL_BYTES}
                     WHEN 'audio/wav' THEN {WAV_DATA_BYTES}
                     ELSE L END AS cs,
           CASE mime WHEN 'image/bmp' THEN {BMP_PIXEL_BYTES // N_FRAMES}
                     WHEN 'image/png' THEN {BMP_PIXEL_BYTES // N_FRAMES}
                     WHEN 'audio/wav' THEN {WAV_DATA_BYTES // N_FRAMES}
                     ELSE greatest(L // {N_FRAMES}, 1) END AS step
    FROM p
), f AS (
    SELECT doc_id, hx, cs, step, unnest(range(1, {N_FRAMES})) AS j FROM g
), lens AS (
    SELECT doc_id, hx, step, j,
           least(least(greatest(cs - (j - 1) * step, 0), step),
                 least(greatest(cs - j * step, 0), step)) AS cmp_len
    FROM f
)
SELECT doc_id,
       CAST(j AS INTEGER) AS frame_idx,
       CAST(COALESCE(list_sum(list_transform(range(cmp_len),
            i -> abs({_SC_BYTE.format(pos="(j - 1) * step + i + 1")}
                   - {_SC_BYTE.format(pos="j * step + i + 1")}))), 0) AS BIGINT)
           AS diff_sum,
       CAST(cmp_len AS BIGINT) AS cmp_len,
       (COALESCE(list_sum(list_transform(range(cmp_len),
            i -> abs({_SC_BYTE.format(pos="(j - 1) * step + i + 1")}
                   - {_SC_BYTE.format(pos="j * step + i + 1")}))), 0)
        > {SCENE_CUT_MEAN_DIFF} * cmp_len) AS is_cut
FROM lens
"""


@register(
    "multimodal_scene_cuts",
    oracle=SCENE_CUT_ORACLE,
    tags=("multimodal", "video"),
    past_window=True,
)
def multimodal_scene_cuts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scene-cut detection over the sampled frame sequence: for each
    consecutive frame pair, the sum of absolute byte differences over
    the decoded content, flagged a cut when the MEAN per-byte change
    exceeds the threshold — the shot-boundary primitive every video
    curation pipeline runs right after frame sampling (dedupe static
    shots, keep transitions).

    Runs inside the SAME Arrow batch that samples the frames (the
    payload is decoded once; diffs are per-doc local — no shuffle, no
    second decode), emitting only (doc_id, frame_idx, diff stats).
    The oracle re-derives every byte of every frame pair from the
    construction's hex dump — decode kernels, slice arithmetic, and
    the cut rule are all inside the hash. The threshold compares
    diff_sum > mean·cmp_len in integers, so the flag is exact, no
    float division.
    """
    docs = fan_out(spark, load_table(spark, sf_dir, "documents"))
    payload, mime = _routed_payload(F.col("doc_id"), F.encode(F.col("text"), "UTF-8"))
    with_payload = docs.select(
        "doc_id", payload.alias("payload"), mime.alias("mime")
    )

    def cuts(batches: Iterator) -> Iterator:
        import pandas as pd

        for pdf in batches:
            out = {"doc_id": [], "frame_idx": [], "diff_sum": [], "cmp_len": [], "is_cut": []}
            for doc_id, payload_b, mime_s in zip(
                pdf["doc_id"], pdf["payload"], pdf["mime"]
            ):
                frames = sample_frames(payload_b, mime_s)
                for j in range(1, len(frames)):
                    a, b = frames[j - 1], frames[j]
                    m = min(len(a), len(b))
                    d = sum(abs(a[i] - b[i]) for i in range(m))
                    out["doc_id"].append(doc_id)
                    out["frame_idx"].append(j)
                    out["diff_sum"].append(d)
                    out["cmp_len"].append(m)
                    out["is_cut"].append(d > SCENE_CUT_MEAN_DIFF * m)
            yield pd.DataFrame(out)

    return with_payload.mapInPandas(
        cuts,
        "doc_id long, frame_idx int, diff_sum long, cmp_len long, is_cut boolean",
    )


# ------------------------------------------------ spectral features

SPEC_BINS = WAV_N_SAMPLES // 2 + 1  # rfft bins 0..16 of the 32-point DFT

AUDIO_SPECTRAL_ORACLE = f"""
{_ROUTING_CTE}
, wav AS (
    SELECT doc_id, hx FROM p WHERE mime = 'audio/wav'
), s AS (
    SELECT doc_id, CAST(t.i AS BIGINT) AS i,
           CAST({_pcm_sample_sql('t.i + 1')} AS DOUBLE) AS v
    FROM wav, unnest(range({WAV_N_SAMPLES})) AS t(i)
), dft AS (
    SELECT doc_id, k,
           SQRT(POW(SUM(v * COS(-PI() / 16 * k * i)), 2)
              + POW(SUM(v * SIN(-PI() / 16 * k * i)), 2)) AS mag
    FROM s, unnest(range({SPEC_BINS})) AS b(k)
    GROUP BY doc_id, k
), nz AS (
    SELECT doc_id, k, CAST(ROUND(mag * 10000) AS BIGINT) AS mag_e4
    FROM dft WHERE k > 0
)
SELECT doc_id,
       ROUND(CAST(SUM(k * mag_e4) AS DOUBLE) / CAST(SUM(mag_e4) AS DOUBLE), 4)
           AS spectral_centroid,
       CAST(MIN(CASE WHEN rnk = 1 THEN k END) AS BIGINT) AS peak_bin,
       CAST(SUM(mag_e4) AS BIGINT) AS total_magnitude_e4
FROM (
    SELECT doc_id, k, mag_e4,
           row_number() OVER (PARTITION BY doc_id ORDER BY mag_e4 DESC, k) AS rnk
    FROM nz
)
GROUP BY doc_id
"""


@register(
    "audio_spectral_features",
    oracle=AUDIO_SPECTRAL_ORACLE,
    tags=("multimodal", "audio", "spectral"),
    past_window=True,
)
def audio_spectral_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frequency-domain audio features per WAV doc: spectral centroid,
    dominant (peak) bin, and total magnitude over the 32-point DFT of
    the decoded PCM samples — the feature tier above
    ``audio_pcm_features``' time-domain stats, and the canonical
    pre-filter for audio curation (silence / tone / noise triage).

    Exactness strategy: the DFT is spelled NAIVELY and identically in
    both engines — per bin, Σ v·cos(−π/16·k·n) and the sine twin over
    the 32 samples — so the only cross-engine exposure is libm trig in
    the last ulp, absorbed by INTEGERIZING each bin magnitude
    (round(mag·10⁴) → BIGINT) before any cross-bin math: integer sums
    are exact and order-independent (a 16-double SUM reorders between
    engines — the first draft lost the last rounded digit exactly
    there), the centroid is one IEEE division of two exact integers,
    and peak ties break on the lower bin. Python computes the identical
    sums sequentially in Arrow batches (32×17 terms per doc — the
    decode, not the DFT, is the cost); no FFT library, because a
    butterfly's different summation ORDER is exactly what the shared
    oracle forbids. The DC bin is excluded so text-byte offset (all
    samples positive-biased) doesn't drown the shape bins.
    """
    docs = fan_out(spark, load_table(spark, sf_dir, "documents"))
    payload, mime = _routed_payload(F.col("doc_id"), F.encode(F.col("text"), "UTF-8"))
    wav = docs.select(
        "doc_id", payload.alias("payload"), mime.alias("mime")
    ).filter(F.col("mime") == "audio/wav")

    def feats(batches: Iterator) -> Iterator:
        import math

        import pandas as pd

        for pdf in batches:
            out = {
                "doc_id": [],
                "spectral_centroid": [],
                "peak_bin": [],
                "total_magnitude_e4": [],
            }
            for doc_id, payload_b, mime_s in zip(
                pdf["doc_id"], pdf["payload"], pdf["mime"]
            ):
                raw = _content_region(payload_b, mime_s)
                vals = [
                    int.from_bytes(raw[2 * i : 2 * i + 2], "little", signed=True)
                    for i in range(WAV_N_SAMPLES)
                ]
                mags = []
                for k in range(1, SPEC_BINS):
                    re = im = 0.0
                    for n, v in enumerate(vals):
                        re += v * math.cos(-math.pi / 16 * k * n)
                        im += v * math.sin(-math.pi / 16 * k * n)
                    # half-up integerization (positive values), matching
                    # the SQL ROUND — python round() is half-even
                    mags.append(math.floor(math.sqrt(re**2 + im**2) * 10000 + 0.5))
                total = sum(mags)
                # same half-up integerization idiom as mags above: the
                # oracle's ROUND is scaled-double half-away, while python
                # round() is half-even — a tie-adjacent quotient must not
                # flip the 4th decimal between engines
                centroid = (
                    math.floor(
                        sum((k + 1) * m for k, m in enumerate(mags)) / total * 10000
                        + 0.5
                    )
                    / 10000
                )
                peak = max(range(len(mags)), key=lambda j: (mags[j], -j)) + 1
                out["doc_id"].append(doc_id)
                out["spectral_centroid"].append(centroid)
                out["peak_bin"].append(peak)
                out["total_magnitude_e4"].append(total)
            yield pd.DataFrame(out)

    return wav.mapInPandas(
        feats,
        "doc_id long, spectral_centroid double, peak_bin long, total_magnitude_e4 long",
    )
