"""Multimodal column operators: image/audio/video as opaque ``binary``
columns with typed metadata.

Uncompressed formats need no external codec, so BMP (images) and WAV/PCM
(audio) are decoded for real with pure-Python/numpy header parsing inside
the same ``mapInPandas`` plumbing a PIL/ffmpeg deployment would use.
Compressed/exotic codecs are stubbed behind ``use_stub_decoder`` (a
deterministic fake) or raise ``NotImplementedError``.

Scale notes: media bytes dominate row size, so these operators (a) never
collect, (b) use ``mapInPandas`` so one Arrow batch holds few rows of big
blobs (bound via ``spark.sql.execution.arrow.maxRecordsPerBatch``), and
(c) keep metadata-only projections separate from blob-touching stages so
column pruning drops the bytes when only metadata is needed.
"""

from __future__ import annotations

import struct
from collections.abc import Callable, Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

IMAGE_META_SCHEMA = T.StructType([
    T.StructField("width", T.IntegerType()),
    T.StructField("height", T.IntegerType()),
    T.StructField("channels", T.IntegerType()),
    T.StructField("format", T.StringType()),
])

DECODED_IMAGE_SCHEMA = T.StructType([
    T.StructField("doc_id", T.LongType()),
    T.StructField("width", T.IntegerType()),
    T.StructField("height", T.IntegerType()),
    T.StructField("channels", T.IntegerType()),
    T.StructField("mean_pixel", T.DoubleType()),
])

# decode_images(on_error="null"|"skip"): same columns plus the error
# accounting string (NULL on success)
DECODED_IMAGE_ERR_SCHEMA = T.StructType(
    DECODED_IMAGE_SCHEMA.fields
    + [T.StructField("decode_error", T.StringType())])

AUDIO_FRAME_SCHEMA = T.StructType([
    T.StructField("doc_id", T.LongType()),
    T.StructField("frame_idx", T.IntegerType()),
    T.StructField("rms", T.DoubleType()),
])


def attach_blob_metadata(df: DataFrame, blob_col: str = "blob") -> DataFrame:
    """Cheap, JVM-side metadata for a binary column: byte length + content
    hash (dedup key for exact blob dedup). Never decodes."""
    b = F.col(blob_col)
    return df.withColumn("blob_bytes", F.length(b).cast("long")) \
             .withColumn("blob_sha", F.sha2(b, 256))


# --------------------------------------------------------------- BMP (real)


def encode_bmp(width: int, height: int, pixel_value: int) -> bytes:
    """Build a minimal 24bpp uncompressed BMP (BITMAPINFOHEADER) whose
    pixels all hold ``pixel_value`` in each channel. Rows padded to 4-byte
    boundaries per the format. Used to synthesize real image blobs in tests
    and oracle entries."""
    row_bytes = width * 3
    pad = (4 - row_bytes % 4) % 4
    pixel_data = (bytes([pixel_value & 0xFF] * row_bytes) + b"\x00" * pad) \
        * height
    info = struct.pack("<IiiHHIIiiII", 40, width, height, 1, 24, 0,
                       len(pixel_data), 2835, 2835, 0, 0)
    header = struct.pack("<2sIHHI", b"BM", 14 + 40 + len(pixel_data), 0, 0,
                         14 + 40)
    return header + info + pixel_data


def decode_bmp(data: bytes) -> tuple[int, int, int, float]:
    """Parse an uncompressed 24/32bpp BMP: returns (width, height, channels,
    mean_pixel). Pure header+numpy — no codec needed (the format is raw)."""
    if len(data) < 54 or data[:2] != b"BM":
        raise ValueError("not a BMP blob")
    pixel_offset = struct.unpack_from("<I", data, 10)[0]
    header_size = struct.unpack_from("<I", data, 14)[0]
    if header_size < 40:
        raise ValueError("unsupported BMP header (BITMAPCOREHEADER)")
    width = struct.unpack_from("<i", data, 18)[0]
    height_raw = struct.unpack_from("<i", data, 22)[0]
    height = abs(height_raw)  # negative height = top-down row order
    bpp = struct.unpack_from("<H", data, 28)[0]
    compression = struct.unpack_from("<I", data, 30)[0]
    if compression != 0 or bpp not in (24, 32):
        raise ValueError(f"unsupported BMP (bpp={bpp}, compression={compression})")
    channels = bpp // 8
    row_bytes = width * channels
    stride = (row_bytes + 3) & ~3
    px = np.frombuffer(data, dtype=np.uint8, count=stride * height,
                       offset=pixel_offset)
    # drop per-row padding before the statistic
    rows = px.reshape(height, stride)[:, :row_bytes]
    return width, height, channels, float(rows.mean())


def decode_images(
    df: DataFrame,
    blob_col: str = "blob",
    id_col: str = "doc_id",
    use_stub_decoder: bool = False,
    on_error: str = "fail",
) -> DataFrame:
    """Decode image blobs → (doc_id, width, height, channels, mean_pixel).

    BMP (uncompressed 24/32bpp), 8-bit RGB/RGBA PNG, and baseline-DCT
    JPEG (grayscale AND color, any chroma subsampling, restart markers)
    are decoded FOR REAL — pure numpy, no codec required. Other formats fall back to
    the deterministic stub when ``use_stub_decoder=True`` (fake-but-stable
    dimensions derived from the bytes, so downstream stages and tests run
    with the true schema and batch shape) or raise ``NotImplementedError``
    (plug PIL/libvips here in a real deployment).

    ``on_error`` is the corpus-scale failure contract — at 100 TB a decode
    pass must QUANTIFY bad blobs, not die on the first one:

    - ``"fail"`` (default): any undecodable blob fails the job — the
      right mode for trusted fixtures and tests;
    - ``"null"``: failed rows survive with NULL metrics and the error in
      a ``decode_error`` string column (NULL on success) — aggregate it
      for per-corpus error accounting;
    - ``"skip"``: failed rows are dropped (the output schema stays the
      plain 5-column one; pair with a count for accounting).
    """
    if on_error not in ("fail", "null", "skip"):
        raise ValueError(
            f"on_error must be fail|null|skip, got {on_error!r}")
    accounting = on_error == "null"

    def decode_one(data: bytes) -> tuple[int, int, int, float]:
        if data[:2] == b"BM":
            return decode_bmp(data)
        if data[:8] == _PNG_MAGIC:
            return decode_png(data)
        if data[:2] == b"\xff\xd8":
            try:
                return decode_jpeg_gray(data)
            except (NotImplementedError, ValueError):
                # arithmetic-coded JPEG (NotImplementedError)
                # AND malformed/truncated streams (ValueError) — in stub
                # mode BOTH fall to the deterministic fake, matching how
                # undecodable non-JPEG formats behave; without the stub
                # the error propagates (fail-fast or the on_error path)
                if not use_stub_decoder:
                    raise
        elif not use_stub_decoder:
            raise NotImplementedError(
                "only BMP, PNG, and baseline/progressive JPEG decode "
                "without an external codec in this environment; pass "
                "use_stub_decoder=True or plug a real decoder here"
            )
        # deterministic fake from the byte length (closed form, so the
        # oracle gate can hash-check the stub path; the REAL
        # byte-touching decodes are the BMP/PNG/JPEG paths)
        return (16 + (len(data) % 64), 16 + ((len(data) // 64) % 64),
                3, (len(data) % 251) / 7.0)

    def decode_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = {"doc_id": [], "width": [], "height": [],
                   "channels": [], "mean_pixel": []}
            if accounting:
                out["decode_error"] = []
            for doc_id, blob in zip(pdf[id_col], pdf[blob_col]):
                data = bytes(blob or b"")
                err = None
                try:
                    w, h, c, mean = decode_one(data)
                except Exception as e:
                    if on_error == "fail":
                        raise
                    if on_error == "skip":
                        continue
                    w = h = c = mean = None
                    err = f"{type(e).__name__}: {str(e)[:160]}"
                out["doc_id"].append(doc_id)
                out["width"].append(w)
                out["height"].append(h)
                out["channels"].append(c)
                out["mean_pixel"].append(mean)
                if accounting:
                    out["decode_error"].append(err)
            yield pd.DataFrame(out)

    return df.select(id_col, blob_col).mapInPandas(
        decode_batches,
        schema=DECODED_IMAGE_ERR_SCHEMA if accounting
        else DECODED_IMAGE_SCHEMA,
    )


_BLOB_SCHEMA = T.StructType([
    T.StructField("doc_id", T.LongType()),
    T.StructField("blob", T.BinaryType()),
])


def _synthesize_blobs(df: DataFrame, id_col: str,
                      blob_of: Callable[[int], bytes]) -> DataFrame:
    """``(doc_id, blob)`` with ``blob_of(id)`` encoded per row in a
    ``mapInPandas`` worker — the fixture scaffold every
    ``synthesize_*_blobs`` shares."""

    def build(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids = pdf[id_col].tolist()
            yield pd.DataFrame(
                {"doc_id": ids, "blob": [blob_of(int(i)) for i in ids]})

    return df.select(F.col(id_col).cast("long").alias(id_col)) \
        .mapInPandas(build, schema=_BLOB_SCHEMA)


def synthesize_bmp_blobs(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Deterministically synthesize a real BMP blob per row from its id
    (width = 4 + id % 16, height = 4 + (id // 16) % 16, all pixels =
    id % 256) — gives the decode path an oracle: after decode, width/
    height/mean_pixel must equal those closed-form expressions."""

    return _synthesize_blobs(
        df, id_col,
        lambda i: encode_bmp(4 + i % 16, 4 + (i // 16) % 16, i % 256))


# --------------------------------------------------------------- PNG (real)
# Pure-stdlib PNG codec (zlib is in the standard library; PNG's DEFLATE +
# per-row filtering needs no external codec). Supports 8-bit RGB/RGBA,
# non-interlaced — the overwhelmingly common training-image case. Spec:
# RFC 2083 (filter types 0-4 §6; Paeth predictor §6.6).

_PNG_MAGIC = b"\x89PNG\r\n\x1a\n"


def _png_chunk(tag: bytes, payload: bytes) -> bytes:
    import zlib as _z

    return (struct.pack(">I", len(payload)) + tag + payload
            + struct.pack(">I", _z.crc32(tag + payload) & 0xFFFFFFFF))


def _paeth(a: np.ndarray, b: np.ndarray, c: np.ndarray) -> np.ndarray:
    """Paeth predictor (RFC 2083 §6.6), vectorized over a scanline."""
    a16 = a.astype(np.int16)
    b16 = b.astype(np.int16)
    c16 = c.astype(np.int16)
    p = a16 + b16 - c16
    pa, pb, pc = np.abs(p - a16), np.abs(p - b16), np.abs(p - c16)
    return np.where((pa <= pb) & (pa <= pc), a,
                    np.where(pb <= pc, b, c)).astype(np.uint8)


# Adam7 pass geometry (RFC 2083 §2.6): per pass, the x/y origin and step
# of the pixels it carries; each pass is filtered as an independent
# sub-image (its own scanlines, its own filter bytes, prev-row reset)
_ADAM7 = ((0, 0, 8, 8), (4, 0, 8, 8), (0, 4, 4, 8), (2, 0, 4, 4),
          (0, 2, 2, 4), (1, 0, 2, 2), (0, 1, 1, 2))


def _png_filter_rows(rows: "np.ndarray", ch: int,
                     filter_type: int) -> bytearray:
    """Filter an (H, W*ch) uint8 sample matrix into PNG scanline bytes
    (filter byte + filtered samples per row) with one filter type."""
    raw = bytearray()
    bpp = ch
    prev = np.zeros(rows.shape[1], dtype=np.uint8)
    for y in range(rows.shape[0]):
        line = rows[y]
        left = np.concatenate([np.zeros(bpp, np.uint8), line[:-bpp]])
        upleft = np.concatenate([np.zeros(bpp, np.uint8), prev[:-bpp]])
        if filter_type == 0:
            enc = line
        elif filter_type == 1:
            enc = (line.astype(np.int16) - left).astype(np.uint8)
        elif filter_type == 2:
            enc = (line.astype(np.int16) - prev).astype(np.uint8)
        elif filter_type == 3:
            enc = (line.astype(np.int16)
                   - ((left.astype(np.int16) + prev.astype(np.int16)) // 2)
                   ).astype(np.uint8)
        elif filter_type == 4:
            enc = (line.astype(np.int16)
                   - _paeth(left, prev, upleft)).astype(np.uint8)
        else:
            raise ValueError(f"unknown PNG filter type {filter_type}")
        raw.append(filter_type)
        raw.extend(enc.tobytes())
        prev = line
    return raw


def encode_png(pixels: "np.ndarray", filter_type: int = 0,
               interlace: bool = False) -> bytes:
    """Encode an (H, W, 3|4) uint8 array as a real PNG using one filter
    type for every scanline (0=None, 1=Sub, 2=Up, 3=Average, 4=Paeth);
    ``interlace=True`` writes the Adam7 pass sequence."""
    import zlib as _z

    px = np.asarray(pixels, dtype=np.uint8)
    h, w, ch = px.shape
    if not interlace:
        raw = _png_filter_rows(px.reshape(h, w * ch), ch, filter_type)
    else:
        raw = bytearray()
        for x0, y0, dx, dy in _ADAM7:
            sub = px[y0::dy, x0::dx]
            if sub.shape[0] == 0 or sub.shape[1] == 0:
                continue  # empty pass carries no scanlines at all
            raw += _png_filter_rows(
                sub.reshape(sub.shape[0], sub.shape[1] * ch),
                ch, filter_type)
    color_type = 2 if ch == 3 else 6
    ihdr = struct.pack(">IIBBBBB", w, h, 8, color_type, 0, 0,
                       1 if interlace else 0)
    return (_PNG_MAGIC + _png_chunk(b"IHDR", ihdr)
            + _png_chunk(b"IDAT", _z.compress(bytes(raw)))
            + _png_chunk(b"IEND", b""))


def _png_unfilter(raw: bytes, offset: int, stride: int, height: int,
                  bpp: int) -> "tuple[np.ndarray, int]":
    """Invert filter types 0-4 over ``height`` scanlines of ``stride``
    bytes starting at ``offset``; returns (bytes matrix, next offset)."""
    out = np.zeros((height, stride), dtype=np.uint8)
    prev = np.zeros(stride, dtype=np.uint8)
    for y in range(height):
        base = offset + y * (stride + 1)
        if base + stride + 1 > len(raw):
            raise ValueError("truncated PNG scanline data")
        ft = raw[base]
        line = np.frombuffer(raw, np.uint8, count=stride,
                             offset=base + 1).copy()
        if ft == 0:
            cur = line
        elif ft == 2:  # Up (vectorizable: only depends on prev row)
            cur = (line.astype(np.int16) + prev).astype(np.uint8)
        elif ft in (1, 3, 4):  # Sub/Average/Paeth: left-to-right recurrence
            cur = np.zeros(stride, dtype=np.uint8)
            for i in range(stride):
                left = cur[i - bpp] if i >= bpp else 0
                up = prev[i]
                upleft = prev[i - bpp] if i >= bpp else 0
                if ft == 1:
                    pred = left
                elif ft == 3:
                    pred = (int(left) + int(up)) // 2
                else:
                    pred = int(_paeth(np.array([left], np.uint8),
                                      np.array([up], np.uint8),
                                      np.array([upleft], np.uint8))[0])
                cur[i] = (int(line[i]) + pred) & 0xFF
        else:
            raise ValueError(f"unknown PNG filter type {ft}")
        out[y] = cur
        prev = cur
    return out, offset + height * (stride + 1)


def _png_expand(out: "np.ndarray", width: int, height: int, nsamp: int,
                depth: int, color_type: int) -> "np.ndarray":
    """Unfiltered scanline bytes → float samples in the 0-255 range,
    shape (height, width*nsamp)."""
    stride = out.shape[1]
    if depth == 16:
        wide = out.reshape(height, stride // 2, 2).astype(np.float64)
        samples = (wide[..., 0] * 256.0 + wide[..., 1]) / 257.0
    elif depth == 8:
        samples = out.astype(np.float64)
    else:  # 1/2/4-bit packed, MSB first
        bits = np.unpackbits(out, axis=1)
        per = bits.reshape(height, stride * 8 // depth, depth)
        weights = (1 << np.arange(depth - 1, -1, -1)).astype(np.float64)
        vals = per.astype(np.float64) @ weights
        samples = vals[:, :width * nsamp]
        if color_type == 0:
            # scale sub-8-bit gray to the full 0-255 range (RFC 2083
            # sample depth scaling: v * 255 / (2^depth - 1))
            samples = samples * (255.0 / ((1 << depth) - 1))
    return samples[:, :width * nsamp]


def decode_png(data: bytes) -> tuple[int, int, int, float]:
    """Parse + inflate + un-filter a PNG: returns (width, height, channels,
    mean_pixel). Real decode (RFC 2083): zlib-inflates IDAT, inverts
    filter types 0-4 per scanline, then expands the color model —
    grayscale (type 0, depths 1/2/4/8/16), RGB (2, depths 8/16),
    palette (3, depths 1/2/4/8, PLTE lookup → RGB), gray+alpha (4,
    depths 8/16), RGBA (6, depths 8/16). 16-bit samples are scaled to
    the 8-bit range exactly (v / 257) so mean_pixel is comparable
    across depths. Adam7 interlace (r12; was the documented plug point):
    the seven passes un-filter as independent sub-images — per-pass
    scanlines, per-pass prev-row reset, empty passes carrying no bytes —
    and scatter back to the full grid on the RFC 2083 §2.6 lattice."""
    import zlib as _z

    if data[:8] != _PNG_MAGIC:
        raise ValueError("not a PNG blob")
    pos = 8
    width = height = None
    idat = bytearray()
    plte = None
    depth = color_type = interlace = 0
    while pos + 8 <= len(data):
        (length,) = struct.unpack_from(">I", data, pos)
        tag = data[pos + 4:pos + 8]
        payload = data[pos + 8:pos + 8 + length]
        pos += 12 + length  # length + tag + payload + crc
        if tag == b"IHDR":
            width, height, depth, color_type, comp, filt, interlace = \
                struct.unpack(">IIBBBBB", payload)
            if interlace not in (0, 1):
                raise ValueError(f"invalid PNG interlace {interlace}")
            allowed = {0: (1, 2, 4, 8, 16), 2: (8, 16), 3: (1, 2, 4, 8),
                       4: (8, 16), 6: (8, 16)}
            if color_type not in allowed or depth not in allowed[color_type]:
                raise ValueError(
                    f"invalid PNG (depth={depth}, color={color_type})")
        elif tag == b"PLTE":
            plte = np.frombuffer(payload, np.uint8).reshape(-1, 3)
        elif tag == b"IDAT":
            idat.extend(payload)
        elif tag == b"IEND":
            break
    if width is None:
        raise ValueError("PNG missing IHDR")
    if color_type == 3 and plte is None:
        raise ValueError("palette PNG missing PLTE")
    nsamp = {0: 1, 2: 3, 3: 1, 4: 2, 6: 4}[color_type]
    raw = _z.decompress(bytes(idat))
    bpp = max(1, nsamp * depth // 8)  # filter distance in BYTES
    if interlace == 0:
        stride = (width * nsamp * depth + 7) // 8
        out, _ = _png_unfilter(raw, 0, stride, height, bpp)
        samples = _png_expand(out, width, height, nsamp, depth, color_type)
    else:
        full = np.zeros((height, width, nsamp), dtype=np.float64)
        off = 0
        for x0, y0, dx, dy in _ADAM7:
            pw = (width - x0 + dx - 1) // dx
            ph = (height - y0 + dy - 1) // dy
            if pw <= 0 or ph <= 0:
                continue
            stride = (pw * nsamp * depth + 7) // 8
            out, off = _png_unfilter(raw, off, stride, ph, bpp)
            sp = _png_expand(out, pw, ph, nsamp, depth, color_type)
            full[y0::dy, x0::dx, :] = sp.reshape(ph, pw, nsamp)
        samples = full.reshape(height, width * nsamp)
    if color_type == 3:
        idx = samples.astype(np.int64)
        if idx.max() >= len(plte):
            raise ValueError("palette index out of range")
        rgb = plte[idx]  # (h, w, 3)
        return width, height, 3, float(rgb.mean())
    channels = nsamp
    return width, height, channels, float(samples.mean())


def synthesize_png_blobs(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Deterministically synthesize a real PNG blob per row from its id
    (width = 4 + id % 16, height = 4 + (id // 16) % 16, all pixels =
    id % 256, scanline filter = id % 3, Adam7 interlace when id is odd)
    — after decode, width/height/mean_pixel must equal those closed-form
    expressions, so any inflate/un-filter/stride/pass-lattice bug breaks
    the oracle hash."""

    def png(i: int) -> bytes:
        w, h, v = 4 + i % 16, 4 + (i // 16) % 16, i % 256
        px = np.full((h, w, 3), v, dtype=np.uint8)
        return encode_png(px, filter_type=i % 3, interlace=bool(i % 2))

    return _synthesize_blobs(df, id_col, png)


# ------------------------------------------------- baseline JPEG (real, r10)
# Pure-numpy baseline-DCT grayscale JPEG (ITU T.81): spec Annex K
# luminance Huffman + quantization tables, orthonormal 8×8 DCT by matrix
# multiply, DC differential coding, AC run-length/size coding, byte
# stuffing. Closes the "real codec" gap for the multimodal column story
# without external libraries; color/progressive plug in behind the same
# decode_images contract.

# Annex K.1 luminance quantization table (zigzag order applied at use)
_JPEG_QTAB = np.array([
    [16, 11, 10, 16, 24, 40, 51, 61],
    [12, 12, 14, 19, 26, 58, 60, 55],
    [14, 13, 16, 24, 40, 57, 69, 56],
    [14, 17, 22, 29, 51, 87, 80, 62],
    [18, 22, 37, 56, 68, 109, 103, 77],
    [24, 35, 55, 64, 81, 104, 113, 92],
    [49, 64, 78, 87, 103, 121, 120, 101],
    [72, 92, 95, 98, 112, 100, 103, 99]], dtype=np.int32)

# Annex K.3: luminance DC — BITS (codes per length 1..16) and HUFFVAL
_JPEG_DC_BITS = [0, 1, 5, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0, 0, 0]
_JPEG_DC_VALS = list(range(12))
# Annex K.5: luminance AC
_JPEG_AC_BITS = [0, 2, 1, 3, 3, 2, 4, 3, 5, 5, 4, 4, 0, 0, 1, 0x7D]
_JPEG_AC_VALS = [
    0x01, 0x02, 0x03, 0x00, 0x04, 0x11, 0x05, 0x12, 0x21, 0x31, 0x41,
    0x06, 0x13, 0x51, 0x61, 0x07, 0x22, 0x71, 0x14, 0x32, 0x81, 0x91,
    0xA1, 0x08, 0x23, 0x42, 0xB1, 0xC1, 0x15, 0x52, 0xD1, 0xF0, 0x24,
    0x33, 0x62, 0x72, 0x82, 0x09, 0x0A, 0x16, 0x17, 0x18, 0x19, 0x1A,
    0x25, 0x26, 0x27, 0x28, 0x29, 0x2A, 0x34, 0x35, 0x36, 0x37, 0x38,
    0x39, 0x3A, 0x43, 0x44, 0x45, 0x46, 0x47, 0x48, 0x49, 0x4A, 0x53,
    0x54, 0x55, 0x56, 0x57, 0x58, 0x59, 0x5A, 0x63, 0x64, 0x65, 0x66,
    0x67, 0x68, 0x69, 0x6A, 0x73, 0x74, 0x75, 0x76, 0x77, 0x78, 0x79,
    0x7A, 0x83, 0x84, 0x85, 0x86, 0x87, 0x88, 0x89, 0x8A, 0x92, 0x93,
    0x94, 0x95, 0x96, 0x97, 0x98, 0x99, 0x9A, 0xA2, 0xA3, 0xA4, 0xA5,
    0xA6, 0xA7, 0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4, 0xB5, 0xB6, 0xB7,
    0xB8, 0xB9, 0xBA, 0xC2, 0xC3, 0xC4, 0xC5, 0xC6, 0xC7, 0xC8, 0xC9,
    0xCA, 0xD2, 0xD3, 0xD4, 0xD5, 0xD6, 0xD7, 0xD8, 0xD9, 0xDA, 0xE1,
    0xE2, 0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9, 0xEA, 0xF1, 0xF2,
    0xF3, 0xF4, 0xF5, 0xF6, 0xF7, 0xF8, 0xF9, 0xFA]

_JPEG_ZIGZAG = np.array([
    0, 1, 8, 16, 9, 2, 3, 10, 17, 24, 32, 25, 18, 11, 4, 5,
    12, 19, 26, 33, 40, 48, 41, 34, 27, 20, 13, 6, 7, 14, 21, 28,
    35, 42, 49, 56, 57, 50, 43, 36, 29, 22, 15, 23, 30, 37, 44, 51,
    58, 59, 52, 45, 38, 31, 39, 46, 53, 60, 61, 54, 47, 55, 62, 63])


def _jpeg_dct_matrix() -> "np.ndarray":
    x = np.arange(8)
    u = x.reshape(-1, 1)
    m = np.cos((2 * x + 1) * u * np.pi / 16)
    m *= np.sqrt(2.0 / 8.0)
    m[0] = np.sqrt(1.0 / 8.0)
    return m


def _huff_codes(bits: list[int], vals: list[int]) -> dict[int, tuple[int, int]]:
    """Canonical Huffman per T.81 C.2: symbol -> (code, length)."""
    out: dict[int, tuple[int, int]] = {}
    code, k = 0, 0
    for length in range(1, 17):
        for _ in range(bits[length - 1]):
            out[vals[k]] = (code, length)
            code += 1
            k += 1
        code <<= 1
    return out


class _BitWriter:
    def __init__(self) -> None:
        self.out = bytearray()
        self.acc = 0
        self.nbits = 0

    def write(self, code: int, length: int) -> None:
        self.acc = (self.acc << length) | (code & ((1 << length) - 1))
        self.nbits += length
        while self.nbits >= 8:
            b = (self.acc >> (self.nbits - 8)) & 0xFF
            self.out.append(b)
            if b == 0xFF:
                self.out.append(0x00)  # byte stuffing
            self.nbits -= 8
        self.acc &= (1 << self.nbits) - 1

    def flush(self) -> None:
        if self.nbits:
            pad = 8 - self.nbits
            self.write((1 << pad) - 1, pad)  # 1-fill per spec


def _jpeg_magnitude(v: int) -> tuple[int, int]:
    """(size, amplitude bits) per T.81 F.1.2.1: negative values encode
    as value-1 in `size` low bits."""
    if v == 0:
        return 0, 0
    size = int(v if v > 0 else -v).bit_length()
    amp = v if v >= 0 else v - 1
    return size, amp & ((1 << size) - 1)


def _jpeg_encode_block(bw: "_BitWriter", shifted: "np.ndarray",
                       prev_dc: int, dc_codes: dict, ac_codes: dict,
                       qflat: "np.ndarray", m: "np.ndarray") -> int:
    """FDCT + quantize + Huffman-encode one level-shifted 8×8 block;
    returns the new DC predictor."""
    zz = _JPEG_ZIGZAG
    coef = m @ shifted @ m.T
    q = np.round(coef.reshape(-1)[zz] / qflat).astype(np.int64)
    diff = int(q[0]) - prev_dc
    size, amp = _jpeg_magnitude(diff)
    code, ln = dc_codes[size]
    bw.write(code, ln)
    if size:
        bw.write(amp, size)
    run = 0
    nz = np.nonzero(q[1:])[0]
    last = nz[-1] + 1 if len(nz) else 0
    for i in range(1, last + 1):
        v = int(q[i])
        if v == 0:
            run += 1
            continue
        while run > 15:
            code, ln = ac_codes[0xF0]  # ZRL
            bw.write(code, ln)
            run -= 16
        size, amp = _jpeg_magnitude(v)
        code, ln = ac_codes[(run << 4) | size]
        bw.write(code, ln)
        bw.write(amp, size)
        run = 0
    if last < 63:
        code, ln = ac_codes[0x00]  # EOB
        bw.write(code, ln)
    return int(q[0])


def encode_jpeg_gray(pixels: "np.ndarray") -> bytes:
    """Baseline-DCT grayscale JPEG from a uint8 (h, w) array; h and w
    must be multiples of 8 (no edge replication — fixture codec)."""
    h, w = pixels.shape
    if h % 8 or w % 8:
        raise ValueError("fixture encoder requires multiple-of-8 dims")
    m = _jpeg_dct_matrix()
    dc_codes = _huff_codes(_JPEG_DC_BITS, _JPEG_DC_VALS)
    ac_codes = _huff_codes(_JPEG_AC_BITS, _JPEG_AC_VALS)
    zz = _JPEG_ZIGZAG
    qflat = _JPEG_QTAB.reshape(-1)[zz]

    bw = _BitWriter()
    prev_dc = 0
    shifted = pixels.astype(np.float64) - 128.0
    for by in range(0, h, 8):
        for bx in range(0, w, 8):
            prev_dc = _jpeg_encode_block(
                bw, shifted[by:by + 8, bx:bx + 8], prev_dc,
                dc_codes, ac_codes, qflat, m)
    bw.flush()

    def seg(marker: int, payload: bytes) -> bytes:
        return bytes([0xFF, marker]) + (len(payload) + 2).to_bytes(2, "big") \
            + payload

    dqt = seg(0xDB, bytes([0]) + bytes(int(v) for v in qflat))
    sof = seg(0xC0, bytes([8]) + h.to_bytes(2, "big") + w.to_bytes(2, "big")
              + bytes([1, 1, 0x11, 0]))
    dht = (seg(0xC4, bytes([0x00]) + bytes(_JPEG_DC_BITS)
               + bytes(_JPEG_DC_VALS))
           + seg(0xC4, bytes([0x10]) + bytes(_JPEG_AC_BITS)
                 + bytes(_JPEG_AC_VALS)))
    sos = seg(0xDA, bytes([1, 1, 0x00, 0, 63, 0]))
    return (b"\xff\xd8" + dqt + sof + dht + sos + bytes(bw.out)
            + b"\xff\xd9")


def encode_jpeg_ycbcr(y: "np.ndarray", cb: "np.ndarray", cr: "np.ndarray",
                      sampling: tuple[int, int] = (2, 2)) -> bytes:
    """Baseline-DCT color JPEG from full-resolution float64/uint8 YCbCr
    planes; ``sampling`` is the luma (H, V) factor (chroma is 1×1), so
    (2, 2) = 4:2:0, (2, 1) = 4:2:2, (1, 1) = 4:4:4. Dims must be
    multiples of 8·H / 8·V (fixture codec — no edge replication). One
    shared quantization table and one shared DC/AC Huffman pair for all
    components (legal per T.81; keeps the fixture closed-form)."""
    sh, sv = sampling
    h, w = y.shape
    if h % (8 * sv) or w % (8 * sh):
        raise ValueError("fixture encoder requires multiple-of-MCU dims")
    m = _jpeg_dct_matrix()
    dc_codes = _huff_codes(_JPEG_DC_BITS, _JPEG_DC_VALS)
    ac_codes = _huff_codes(_JPEG_AC_BITS, _JPEG_AC_VALS)
    qflat = _JPEG_QTAB.reshape(-1)[_JPEG_ZIGZAG]

    def box_down(p: "np.ndarray") -> "np.ndarray":
        if sh == 1 and sv == 1:
            return p.astype(np.float64)
        return p.astype(np.float64).reshape(
            h // sv, sv, w // sh, sh).mean(axis=(1, 3))

    planes = [y.astype(np.float64) - 128.0,
              box_down(cb) - 128.0, box_down(cr) - 128.0]
    factors = [(sh, sv), (1, 1), (1, 1)]
    bw = _BitWriter()
    prev = [0, 0, 0]
    for my in range(h // (8 * sv)):
        for mx in range(w // (8 * sh)):
            for ci, (p, (hi, vi)) in enumerate(zip(planes, factors)):
                for v in range(vi):
                    for u in range(hi):
                        y0 = (my * vi + v) * 8
                        x0 = (mx * hi + u) * 8
                        prev[ci] = _jpeg_encode_block(
                            bw, p[y0:y0 + 8, x0:x0 + 8], prev[ci],
                            dc_codes, ac_codes, qflat, m)
    bw.flush()

    def seg(marker: int, payload: bytes) -> bytes:
        return bytes([0xFF, marker]) + (len(payload) + 2).to_bytes(2, "big") \
            + payload

    dqt = seg(0xDB, bytes([0]) + bytes(int(v) for v in qflat))
    sof = seg(0xC0, bytes([8]) + h.to_bytes(2, "big") + w.to_bytes(2, "big")
              + bytes([3,
                       1, (sh << 4) | sv, 0,
                       2, 0x11, 0,
                       3, 0x11, 0]))
    dht = (seg(0xC4, bytes([0x00]) + bytes(_JPEG_DC_BITS)
               + bytes(_JPEG_DC_VALS))
           + seg(0xC4, bytes([0x10]) + bytes(_JPEG_AC_BITS)
                 + bytes(_JPEG_AC_VALS)))
    sos = seg(0xDA, bytes([3, 1, 0x00, 2, 0x00, 3, 0x00, 0, 63, 0]))
    return (b"\xff\xd8" + dqt + sof + dht + sos + bytes(bw.out)
            + b"\xff\xd9")


# Progressive-scan Huffman tables: Annex K's baseline AC table lacks the
# EOBn symbols (0x10..0xE0) progressive coding requires, so the fixture
# encoder ships flat custom canonical tables — all 12 DC size symbols at
# length 4 (last code 11 < 15, all-ones free) and all 176 AC symbols
# (sizes 1-10 × runs 0-15, EOB0..EOB14, ZRL) at length 8 (last code
# 175 < 255). Legal per T.81 C.2; the decoder reads them from DHT like
# any other table.
_PROG_DC_BITS = [0, 0, 0, 12, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0]
_PROG_DC_VALS = list(range(12))
_PROG_AC_VALS = ([0xF0] + [(r << 4) for r in range(15)]
                 + [(r << 4) | s for s in range(1, 11) for r in range(16)])
_PROG_AC_BITS = [0, 0, 0, 0, 0, 0, 0, len(_PROG_AC_VALS),
                 0, 0, 0, 0, 0, 0, 0, 0]

# default scan scripts (comp_indices, Ss, Se, Ah, Al) — the libjpeg-style
# shape: DC first at reduced precision, spectral-selection AC bands at
# reduced precision, then one-bit refinements of everything
_PROG_SCRIPT_GRAY = [
    ([0], 0, 0, 0, 1),
    ([0], 1, 5, 0, 2),
    ([0], 6, 63, 0, 2),
    ([0], 1, 63, 2, 1),
    ([0], 0, 0, 1, 0),
    ([0], 1, 63, 1, 0),
]
_PROG_SCRIPT_COLOR = [
    ([0, 1, 2], 0, 0, 0, 1),
    ([0], 1, 5, 0, 2),
    ([2], 1, 63, 0, 1),
    ([1], 1, 63, 0, 1),
    ([0], 6, 63, 0, 2),
    ([0], 1, 63, 2, 1),
    ([0, 1, 2], 0, 0, 1, 0),
    ([2], 1, 63, 1, 0),
    ([1], 1, 63, 1, 0),
    ([0], 1, 63, 1, 0),
]


def _quantize_blocks(plane_shifted: "np.ndarray", qflat: "np.ndarray",
                     m: "np.ndarray") -> "np.ndarray":
    """FDCT + quantize every 8×8 block of a level-shifted plane →
    (bh, bw, 64) int coefficients in zigzag order."""
    zz = _JPEG_ZIGZAG
    h, w = plane_shifted.shape
    bh, bw = h // 8, w // 8
    out = np.zeros((bh, bw, 64), dtype=np.int64)
    for by in range(bh):
        for bx in range(bw):
            coef = m @ plane_shifted[by * 8:by * 8 + 8,
                                     bx * 8:bx * 8 + 8] @ m.T
            out[by, bx] = np.round(coef.reshape(-1)[zz] / qflat)
    return out


class _ProgScanWriter:
    """Entropy writer for one progressive scan: wraps _BitWriter with the
    EOB-run accounting and deferred correction bits of T.81 G.1.2.2/3
    (the stream interleaves Huffman codes with raw bits, and correction
    bits buffered during an EOB run flush right after the EOBn code)."""

    def __init__(self, bw: "_BitWriter", ac_codes: dict) -> None:
        self.bw = bw
        self.ac = ac_codes
        self.eobrun = 0
        self.pending: list[int] = []

    def code(self, sym: int) -> None:
        c, ln = self.ac[sym]
        self.bw.write(c, ln)

    def flush_pending(self) -> None:
        for b in self.pending:
            self.bw.write(b, 1)
        self.pending.clear()

    def flush_eobrun(self) -> None:
        while self.eobrun > 0:
            chunk = min(self.eobrun, 0x7FFF)
            r = chunk.bit_length() - 1
            self.code(r << 4)
            if r:
                self.bw.write(chunk - (1 << r), r)
            self.eobrun -= chunk
            self.flush_pending()


def _emit_ac_first(sw: "_ProgScanWriter", band: "np.ndarray",
                   al: int) -> None:
    # point transform for AC is magnitude shift (T.81 G.1.2.2), not
    # arithmetic shift: sign(v) * (|v| >> Al)
    t = np.sign(band) * (np.abs(band) >> al)
    nz = np.nonzero(t)[0]
    if len(nz) == 0:
        sw.eobrun += 1
        if sw.eobrun == 0x7FFF:
            sw.flush_eobrun()
        return
    sw.flush_eobrun()
    run = 0
    last = nz[-1]
    for k in range(len(t)):
        v = int(t[k])
        if v == 0:
            run += 1
            continue
        while run > 15:
            sw.code(0xF0)
            run -= 16
        size, amp = _jpeg_magnitude(v)
        sw.code((run << 4) | size)
        sw.bw.write(amp, size)
        run = 0
        if k == last:
            break
    if last < len(t) - 1:
        sw.eobrun += 1


def _emit_ac_refine(sw: "_ProgScanWriter", band: "np.ndarray",
                    al: int) -> None:
    # refinement (Ah = Al+1): history-nonzero coefficients (|v|>>Ah != 0)
    # get a correction bit ((|v|>>Al) & 1); newly significant ones
    # (|v|>>Al == 1) emit (run,1)+sign where run counts zero-history
    # positions only. TWO correction buffers with different flush points
    # (T.81 G.1.2.3 / the jcphuff BE-vs-BR split): bits belonging to
    # blocks inside an EOB run (sw.pending) flush right after the EOBn
    # code; bits of the CURRENT block (br, accumulated while walking
    # toward the next emitted code) flush after that code — the decoder
    # consumes them while advancing through the code's zero run
    ab = np.abs(band) >> al
    nz1 = np.nonzero(ab == 1)[0]
    if len(nz1) == 0:
        # corrections-only block: joins the EOB run, bits deferred
        for k in np.nonzero(ab > 1)[0]:
            sw.pending.append(int(ab[k]) & 1)
        sw.eobrun += 1
        if sw.eobrun == 0x7FFF:
            sw.flush_eobrun()
        return
    last = int(nz1[-1])
    run = 0
    br: list[int] = []
    for k in range(len(ab)):
        a = int(ab[k])
        if a == 0:
            run += 1
            continue
        # ZRLs only while another newly-significant coef lies ahead —
        # trailing zero runs fold into the EOB instead
        while run > 15 and k <= last:
            sw.flush_eobrun()
            sw.code(0xF0)
            run -= 16
            for b in br:
                sw.bw.write(b, 1)
            br = []
        if a > 1:
            br.append(a & 1)
            continue
        sw.flush_eobrun()
        sw.code((run << 4) | 1)
        sw.bw.write(1 if band[k] > 0 else 0, 1)
        for b in br:
            sw.bw.write(b, 1)
        br = []
        run = 0
        if k == last:
            break
    if last < len(ab) - 1:
        # trailing positions (zeros and/or corrections) join the EOB run
        for k in range(last + 1, len(ab)):
            if ab[k] > 1:
                sw.pending.append(int(ab[k]) & 1)
        sw.eobrun += 1


def _encode_jpeg_progressive(planes: list["np.ndarray"],
                             factors: list[tuple[int, int]],
                             w: int, h: int,
                             script: list[tuple[list[int], int, int, int,
                                                int]]) -> bytes:
    """Assemble a progressive JPEG from level-shifted component planes
    (already at their subsampled resolution). Shared quantization table;
    the flat progressive Huffman pair; one DHT before the scans."""
    m = _jpeg_dct_matrix()
    qflat = _JPEG_QTAB.reshape(-1)[_JPEG_ZIGZAG]
    dc_codes = _huff_codes(_PROG_DC_BITS, _PROG_DC_VALS)
    ac_codes = _huff_codes(_PROG_AC_BITS, _PROG_AC_VALS)
    coefs = [_quantize_blocks(p, qflat, m) for p in planes]
    hmax = max(f[0] for f in factors)
    vmax = max(f[1] for f in factors)
    mcux = coefs[0].shape[1] // factors[0][0]
    mcuy = coefs[0].shape[0] // factors[0][1]

    out = bytearray()
    for comps, ss, se, ah, al in script:
        bw = _BitWriter()
        if ss == 0:
            prev = {ci: 0 for ci in comps}

            def dc_block(ci: int, by: int, bx: int) -> None:
                dc = int(coefs[ci][by, bx, 0])
                if ah == 0:
                    v = dc >> al  # arithmetic shift per G.1.2.1
                    diff = v - prev[ci]
                    prev[ci] = v
                    size, amp = _jpeg_magnitude(diff)
                    c, ln = dc_codes[size]
                    bw.write(c, ln)
                    if size:
                        bw.write(amp, size)
                else:
                    bw.write((dc >> al) & 1, 1)

            if len(comps) > 1:
                for my in range(mcuy):
                    for mx in range(mcux):
                        for ci in comps:
                            hi, vi = factors[ci]
                            for v_ in range(vi):
                                for u in range(hi):
                                    dc_block(ci, my * vi + v_,
                                             mx * hi + u)
            else:
                ci = comps[0]
                bh_c, bw_c = coefs[ci].shape[:2]
                for by in range(bh_c):
                    for bx in range(bw_c):
                        dc_block(ci, by, bx)
        else:
            ci = comps[0]
            sw = _ProgScanWriter(bw, ac_codes)
            bh_c, bw_c = coefs[ci].shape[:2]
            for by in range(bh_c):
                for bx in range(bw_c):
                    band = coefs[ci][by, bx, ss:se + 1]
                    if ah == 0:
                        _emit_ac_first(sw, band, al)
                    else:
                        _emit_ac_refine(sw, band, al)
            sw.flush_eobrun()
        bw.flush()
        ns = len(comps)
        sos_payload = bytes([ns])
        for ci in comps:
            sos_payload += bytes([ci + 1, 0x00])  # DC table 0 / AC table 0
        sos_payload += bytes([ss, se, (ah << 4) | al])
        out += bytes([0xFF, 0xDA]) \
            + (len(sos_payload) + 2).to_bytes(2, "big") + sos_payload
        out += bytes(bw.out)

    def seg(marker: int, payload: bytes) -> bytes:
        return bytes([0xFF, marker]) \
            + (len(payload) + 2).to_bytes(2, "big") + payload

    dqt = seg(0xDB, bytes([0]) + bytes(int(v) for v in qflat))
    sof_body = bytes([8]) + h.to_bytes(2, "big") + w.to_bytes(2, "big") \
        + bytes([len(planes)])
    for ci, (hi, vi) in enumerate(factors):
        sof_body += bytes([ci + 1, (hi << 4) | vi, 0])
    sof = seg(0xC2, sof_body)
    dht = (seg(0xC4, bytes([0x00]) + bytes(_PROG_DC_BITS)
               + bytes(_PROG_DC_VALS))
           + seg(0xC4, bytes([0x10]) + bytes(_PROG_AC_BITS)
                 + bytes(_PROG_AC_VALS)))
    return b"\xff\xd8" + dqt + sof + dht + bytes(out) + b"\xff\xd9"


def encode_jpeg_progressive_gray(pixels: "np.ndarray") -> bytes:
    """Progressive (SOF2) grayscale JPEG with the default 6-scan script
    (DC first Al=1, AC bands at Al=2, full refinements); dims must be
    multiples of 8 (fixture codec). Quantizes identically to the
    baseline encoder, so the two encodings decode bit-identically."""
    h, w = pixels.shape
    if h % 8 or w % 8:
        raise ValueError("fixture encoder requires multiple-of-8 dims")
    plane = pixels.astype(np.float64) - 128.0
    return _encode_jpeg_progressive([plane], [(1, 1)], w, h,
                                    _PROG_SCRIPT_GRAY)


def encode_jpeg_progressive_ycbcr(
        y: "np.ndarray", cb: "np.ndarray", cr: "np.ndarray",
        sampling: tuple[int, int] = (2, 2)) -> bytes:
    """Progressive color JPEG (10-scan libjpeg-style script) from
    full-resolution YCbCr planes; chroma box-downsampled like the
    baseline encoder."""
    sh, sv = sampling
    h, w = y.shape
    if h % (8 * sv) or w % (8 * sh):
        raise ValueError("fixture encoder requires multiple-of-MCU dims")

    def box_down(p: "np.ndarray") -> "np.ndarray":
        if sh == 1 and sv == 1:
            return p.astype(np.float64)
        return p.astype(np.float64).reshape(
            h // sv, sv, w // sh, sh).mean(axis=(1, 3))

    planes = [y.astype(np.float64) - 128.0,
              box_down(cb) - 128.0, box_down(cr) - 128.0]
    return _encode_jpeg_progressive(
        planes, [(sh, sv), (1, 1), (1, 1)], w, h, _PROG_SCRIPT_COLOR)


def encode_jpeg_rgb(rgb: "np.ndarray",
                    sampling: tuple[int, int] = (2, 2)) -> bytes:
    """Baseline color JPEG from a uint8 (h, w, 3) RGB array via the JFIF
    YCbCr transform (floats — no pre-rounding, quantization is the only
    loss for smooth inputs)."""
    r = rgb[..., 0].astype(np.float64)
    g = rgb[..., 1].astype(np.float64)
    b = rgb[..., 2].astype(np.float64)
    y = 0.299 * r + 0.587 * g + 0.114 * b
    cb = 128.0 - 0.168736 * r - 0.331264 * g + 0.5 * b
    cr = 128.0 + 0.5 * r - 0.418688 * g - 0.081312 * b
    return encode_jpeg_ycbcr(y, cb, cr, sampling)


def encode_jpeg_cmyk(ink: "np.ndarray", transform: int = 0) -> bytes:
    """Baseline 4-component JPEG from a uint8 (h, w, 4) CMYK ink array,
    Adobe conventions: ink values are stored INVERTED (255 - ink), the
    APP14 marker carries the color transform — 0 = plain inverted CMYK
    planes, 2 = YCCK (the CMY channels ride the forward YCbCr transform
    of their RGB complements, K stays a separate inverted plane). All
    four components full-resolution (4:4:4:4), shared Annex K tables —
    same fixture-codec contract as encode_jpeg_ycbcr."""
    ink = np.asarray(ink, dtype=np.float64)
    h, w, ch = ink.shape
    if ch != 4:
        raise ValueError("encode_jpeg_cmyk wants (h, w, 4) ink")
    if h % 8 or w % 8:
        raise ValueError("fixture encoder requires multiple-of-MCU dims")
    stored = 255.0 - ink
    if transform == 2:
        r, g, b = stored[..., 0], stored[..., 1], stored[..., 2]
        planes = [0.299 * r + 0.587 * g + 0.114 * b,
                  128.0 - 0.168736 * r - 0.331264 * g + 0.5 * b,
                  128.0 + 0.5 * r - 0.418688 * g - 0.081312 * b,
                  stored[..., 3]]
    elif transform == 0:
        planes = [stored[..., i] for i in range(4)]
    else:
        raise ValueError("APP14 transform must be 0 (CMYK) or 2 (YCCK)")
    planes = [p - 128.0 for p in planes]
    m = _jpeg_dct_matrix()
    dc_codes = _huff_codes(_JPEG_DC_BITS, _JPEG_DC_VALS)
    ac_codes = _huff_codes(_JPEG_AC_BITS, _JPEG_AC_VALS)
    qflat = _JPEG_QTAB.reshape(-1)[_JPEG_ZIGZAG]
    bw = _BitWriter()
    prev = [0, 0, 0, 0]
    for my in range(h // 8):
        for mx in range(w // 8):
            for ci, p in enumerate(planes):
                prev[ci] = _jpeg_encode_block(
                    bw, p[my * 8:my * 8 + 8, mx * 8:mx * 8 + 8],
                    prev[ci], dc_codes, ac_codes, qflat, m)
    bw.flush()

    def seg(marker: int, payload: bytes) -> bytes:
        return bytes([0xFF, marker]) + (len(payload) + 2).to_bytes(2, "big") \
            + payload

    app14 = seg(0xEE, b"Adobe" + (100).to_bytes(2, "big")
                + b"\x00\x00\x00\x00" + bytes([transform]))
    dqt = seg(0xDB, bytes([0]) + bytes(int(v) for v in qflat))
    sof = seg(0xC0, bytes([8]) + h.to_bytes(2, "big") + w.to_bytes(2, "big")
              + bytes([4,
                       1, 0x11, 0,
                       2, 0x11, 0,
                       3, 0x11, 0,
                       4, 0x11, 0]))
    dht = (seg(0xC4, bytes([0x00]) + bytes(_JPEG_DC_BITS)
               + bytes(_JPEG_DC_VALS))
           + seg(0xC4, bytes([0x10]) + bytes(_JPEG_AC_BITS)
                 + bytes(_JPEG_AC_VALS)))
    sos = seg(0xDA, bytes([4, 1, 0x00, 2, 0x00, 3, 0x00, 4, 0x00,
                           0, 63, 0]))
    return (b"\xff\xd8" + app14 + dqt + sof + dht + sos + bytes(bw.out)
            + b"\xff\xd9")



# Lossless JPEG (T.81 SOF3, Annex H): DC-class Huffman over per-sample
# prediction differences, SSSS 0-16 (16 = +32768). The fixture table is
# flat-canonical: all 17 size symbols at length 5 (last code 16 < 31).
_LL_BITS = [0, 0, 0, 0, 17, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0]
_LL_VALS = list(range(17))


def encode_jpeg_lossless(pixels: "np.ndarray", predictor: int = 1,
                         pt: int = 0) -> bytes:
    """Lossless JPEG (SOF3) from a uint8 (h, w) or (h, w, ch≤4) array:
    Annex H predictive coding — selected predictor 1-7 for interior
    samples, left-prediction along the first line, above-prediction at
    the start of other lines, 2^(P-Pt-1) for the very first sample —
    with Huffman-coded differences. ``pt`` is the point transform
    (inputs are shifted right by it). Bit-exact roundtrip by
    construction: decode_jpeg(encode_jpeg_lossless(px)) recovers every
    sample."""
    px = np.asarray(pixels)
    if px.ndim == 2:
        px = px[..., None]
    h, w, ch = px.shape
    if not 1 <= predictor <= 7:
        raise ValueError("lossless predictor must be 1-7")
    if not 1 <= ch <= 4:
        raise ValueError("1-4 components")
    P = 8
    samp = (px.astype(np.int64) >> pt)
    codes = _huff_codes(_LL_BITS, _LL_VALS)
    bw = _BitWriter()
    default = 1 << (P - pt - 1)
    for y in range(h):
        for x in range(w):
            for ci in range(ch):
                if y == 0 and x == 0:
                    pred = default
                elif y == 0:
                    pred = int(samp[0, x - 1, ci])
                elif x == 0:
                    pred = int(samp[y - 1, 0, ci])
                else:
                    a = int(samp[y, x - 1, ci])
                    b = int(samp[y - 1, x, ci])
                    c = int(samp[y - 1, x - 1, ci])
                    pred = (a, b, c, a + b - c, a + ((b - c) >> 1),
                            b + ((a - c) >> 1), (a + b) >> 1)[predictor - 1]
                d = (int(samp[y, x, ci]) - pred) & 0xFFFF
                if d >= 32768:
                    d -= 65536
                if d == -32768:
                    code, ln = codes[16]
                    bw.write(code, ln)  # SSSS 16 carries no extra bits
                    continue
                size, amp = _jpeg_magnitude(d)
                code, ln = codes[size]
                bw.write(code, ln)
                if size:
                    bw.write(amp, size)
    bw.flush()

    def seg(marker: int, payload: bytes) -> bytes:
        return bytes([0xFF, marker]) + (len(payload) + 2).to_bytes(2, "big") \
            + payload

    sof_comps = b"".join(bytes([i + 1, 0x11, 0]) for i in range(ch))
    sof = seg(0xC3, bytes([P]) + h.to_bytes(2, "big") + w.to_bytes(2, "big")
              + bytes([ch]) + sof_comps)
    dht = seg(0xC4, bytes([0x00]) + bytes(_LL_BITS) + bytes(_LL_VALS))
    sos_comps = b"".join(bytes([i + 1, 0x00]) for i in range(ch))
    sos = seg(0xDA, bytes([ch]) + sos_comps + bytes([predictor, 0, pt]))
    return (b"\xff\xd8" + sof + dht + sos + bytes(bw.out) + b"\xff\xd9")


def _decode_jpeg_lossless(data: bytes) -> tuple[int, int, int, float]:
    """Lossless JPEG (T.81 SOF3, Huffman): per-sample Annex H prediction
    (selected predictor for interior samples, Ra along the first line,
    Rb at line starts, 2^(P-Pt-1) for the first sample and after RSTn),
    differences decoded as DC-class SSSS + extend bits with the SSSS=16
    = +32768 special case, reconstruction mod 2^16, samples shifted left
    by the point transform. mean_pixel scales to the 0-255 range
    (v · 255/(2^P − 1)) so precisions compare like PNG depths. Requires
    1×1 sampling for every component (the only layout Annex H MCUs
    interleave sample-by-sample)."""
    pos = 2
    w = h = None
    P = 8
    ncomp = 0
    comp_ids: list[int] = []
    lookups: dict[tuple[int, int], dict] = {}
    sel: list[tuple[int, int]] = []
    predictor = 1
    pt = 0
    dri = 0
    scan_start = None
    while pos < len(data):
        if data[pos] != 0xFF:
            raise ValueError("marker expected")
        marker = data[pos + 1]
        if marker == 0xD9:
            break
        if 0xD0 <= marker <= 0xD7 or marker == 0x01:
            pos += 2
            continue
        ln = int.from_bytes(data[pos + 2:pos + 4], "big")
        payload = data[pos + 4:pos + 2 + ln]
        if marker == 0xC3:
            P = payload[0]
            h = int.from_bytes(payload[1:3], "big")
            w = int.from_bytes(payload[3:5], "big")
            ncomp = payload[5]
            for i in range(ncomp):
                cid, hv, _tq = payload[6 + 3 * i:9 + 3 * i]
                if hv != 0x11:
                    raise NotImplementedError(
                        "subsampled lossless JPEG is a plug point")
                comp_ids.append(cid)
        elif marker == 0xC4:
            off = 0
            while off < len(payload):
                tc, th = payload[off] >> 4, payload[off] & 0x0F
                bits = list(payload[off + 1:off + 17])
                nv = sum(bits)
                vals = list(payload[off + 17:off + 17 + nv])
                lookups[(tc, th)] = {
                    (c, l): s for s, (c, l) in
                    _huff_codes(bits, vals).items()}
                off += 17 + nv
        elif marker == 0xDD:
            dri = int.from_bytes(payload[0:2], "big")
        elif marker == 0xDA:
            ns = payload[0]
            for i in range(ns):
                cid, tda = payload[1 + 2 * i:3 + 2 * i]
                sel.append((cid, tda >> 4))
            predictor = payload[1 + 2 * ns]
            pt = payload[3 + 2 * ns] & 0x0F
            scan_start = pos + 2 + ln
            break
        pos += 2 + ln
    if w is None or scan_start is None or not comp_ids:
        raise ValueError("truncated JPEG (lossless)")
    if not 1 <= predictor <= 7:
        raise ValueError(f"invalid lossless predictor {predictor}")
    tables = []
    for cid, td in sel:
        t = lookups.get((0, td))
        if t is None:
            raise ValueError("missing Huffman table")
        tables.append(t)
    br = _BitReader(data[scan_start:])

    def huff_read(table: dict) -> int:
        code, length = 0, 0
        while length <= 16:
            code = (code << 1) | br.read(1)
            length += 1
            sym = table.get((code, length))
            if sym is not None:
                return sym
        raise ValueError("invalid Huffman stream")

    samp = np.zeros((h, w, ncomp), dtype=np.int64)
    default = 1 << (P - pt - 1)
    mcu_n = 0
    rst_y = rst_x = 0  # where the current restart interval began
    for y in range(h):
        for x in range(w):
            if dri and mcu_n and mcu_n % dri == 0:
                # expect RSTn in the byte stream; _BitReader stopped at
                # the marker — skip it and resync byte-aligned
                br_pos = br.pos
                raw = br.data
                while br_pos + 1 < len(raw) and not (
                        raw[br_pos] == 0xFF
                        and 0xD0 <= raw[br_pos + 1] <= 0xD7):
                    br_pos += 1
                if br_pos + 1 >= len(raw):
                    raise ValueError("missing lossless restart marker")
                br = _BitReader(raw[br_pos + 2:])
                rst_y, rst_x = y, x
            for ci in range(ncomp):
                ssss = huff_read(tables[ci])
                if ssss == 16:
                    d = 32768
                else:
                    d = _jpeg_extend(br.read(ssss), ssss) if ssss else 0
                if y == rst_y and x == rst_x:
                    pred = default
                elif y == rst_y:  # first line of the interval: Ra
                    pred = int(samp[y, x - 1, ci])
                elif x == 0:
                    pred = int(samp[y - 1, 0, ci])
                else:
                    a = int(samp[y, x - 1, ci])
                    b = int(samp[y - 1, x, ci])
                    c = int(samp[y - 1, x - 1, ci])
                    pred = (a, b, c, a + b - c, a + ((b - c) >> 1),
                            b + ((a - c) >> 1), (a + b) >> 1)[predictor - 1]
                samp[y, x, ci] = (pred + d) & 0xFFFF
            mcu_n += 1
    out = (samp << pt).astype(np.float64)
    scale = 255.0 / ((1 << P) - 1)
    return w, h, ncomp, float(out.mean() * scale)


class _BitReader:
    def __init__(self, data: bytes) -> None:
        self.data = data
        self.pos = 0
        self.acc = 0
        self.nbits = 0
        # sticky end-of-entropy flag: once a marker (or end of buffer) is
        # hit we keep returning pad bits instead of re-reading the marker
        # byte as literal data — corrupt/foreign streams get clean padding,
        # never an IndexError past end-of-buffer
        self.eos = False

    def read(self, n: int) -> int:
        while self.nbits < n:
            if self.eos or self.pos >= len(self.data):
                self.eos = True
                b = 0
            else:
                b = self.data[self.pos]
                self.pos += 1
                if b == 0xFF:
                    nxt = (self.data[self.pos]
                           if self.pos < len(self.data) else None)
                    if nxt == 0x00:
                        self.pos += 1  # unstuff
                    else:
                        # marker (EOI/RST/…) — do NOT consume it; pad from
                        # here on (EOI follows valid data)
                        self.pos -= 1
                        self.eos = True
                        b = 0
            self.acc = (self.acc << 8) | b
            self.nbits += 8
        out = (self.acc >> (self.nbits - n)) & ((1 << n) - 1)
        self.nbits -= n
        self.acc &= (1 << self.nbits) - 1
        return out


def _jpeg_extend(amp: int, size: int) -> int:
    if size == 0:
        return 0
    if amp < (1 << (size - 1)):
        return amp - (1 << size) + 1
    return amp


def decode_jpeg(data: bytes) -> tuple[int, int, int, float]:
    """Parse + Huffman-decode + dequantize + IDCT a baseline-DCT JPEG
    (ITU-T T.81 SOF0): grayscale or color, arbitrary chroma subsampling
    (4:4:4 / 4:2:2 / 4:2:0 / any Hi×Vi ≤ 4), multiple quantization and
    Huffman tables, restart markers (DRI/RSTn). Returns
    (width, height, channels, mean_pixel) where mean_pixel averages the
    grayscale plane (1 component), all RGB samples after JFIF YCbCr→RGB
    conversion and clipping (3 components), or the recovered CMYK ink
    planes (4 components, Adobe APP14 conventions — r12). Progressive
    (SOF2) streams route to the dedicated multi-scan path and lossless
    (SOF3) to the Annex H predictive path (both r12). Extended
    sequential (SOF1), differential, and arithmetic coding stay the
    documented plug point (NotImplementedError)."""
    if data[:2] != b"\xff\xd8":
        raise ValueError("not a JPEG (missing SOI)")
    pos = 2
    qtabs: dict[int, "np.ndarray"] = {}
    w = h = None
    comps: list[tuple[int, int, int, int]] = []  # (cid, hi, vi, tq)
    lookups: dict[tuple[int, int], dict] = {}    # (tc, th) -> huff lookup
    sel: list[tuple[int, int, int]] = []         # SOS: (cid, td, ta)
    dri = 0
    adobe_transform = None  # APP14: 0=CMYK, 1=YCbCr, 2=YCCK
    scan_start = None
    while pos < len(data):
        if data[pos] != 0xFF:
            raise ValueError("marker expected")
        marker = data[pos + 1]
        if marker == 0xD9:
            break
        if 0xD0 <= marker <= 0xD7 or marker == 0x01:  # RSTn/TEM: no payload
            pos += 2
            continue
        ln = int.from_bytes(data[pos + 2:pos + 4], "big")
        payload = data[pos + 4:pos + 2 + ln]
        if marker == 0xDB:
            # a DQT segment may carry several tables back to back
            off = 0
            while off < len(payload):
                pq, tq = payload[off] >> 4, payload[off] & 0x0F
                off += 1
                if pq:
                    qtabs[tq] = np.frombuffer(
                        payload[off:off + 128], dtype=">u2"
                    ).astype(np.int64)
                    off += 128
                else:
                    qtabs[tq] = np.frombuffer(
                        payload[off:off + 64], dtype=np.uint8
                    ).astype(np.int64)
                    off += 64
        elif marker == 0xC0:
            h = int.from_bytes(payload[1:3], "big")
            w = int.from_bytes(payload[3:5], "big")
            n = payload[5]
            comps = []
            for i in range(n):
                cid, hv, tq = payload[6 + 3 * i:9 + 3 * i]
                comps.append((cid, hv >> 4, hv & 0x0F, tq))
        elif marker == 0xC4:
            off = 0
            while off < len(payload):
                tc, th = payload[off] >> 4, payload[off] & 0x0F
                bits = list(payload[off + 1:off + 17])
                nv = sum(bits)
                vals = list(payload[off + 17:off + 17 + nv])
                lookups[(tc, th)] = {
                    (c, l): s for s, (c, l) in
                    _huff_codes(bits, vals).items()}
                off += 17 + nv
        elif marker == 0xC2:
            # progressive DCT: multi-scan coefficient accumulation —
            # dedicated path (r12; was the documented plug point).
            # Truncated headers surface as IndexError from byte slicing;
            # normalize to the parser-wide ValueError contract so stub
            # mode and on_error accounting treat them as malformed blobs.
            try:
                return _decode_jpeg_progressive(data)
            except IndexError as exc:
                raise ValueError("truncated JPEG (progressive)") from exc
        elif marker == 0xC3:
            # lossless predictive (r12; was the documented plug point)
            try:
                return _decode_jpeg_lossless(data)
            except IndexError as exc:
                raise ValueError("truncated JPEG (lossless)") from exc
        elif marker in (0xC1, 0xC5, 0xC6, 0xC7,
                        0xC9, 0xCA, 0xCB, 0xCD, 0xCE, 0xCF):
            raise NotImplementedError(
                "only baseline (SOF0), progressive (SOF2), and lossless "
                "(SOF3) Huffman JPEG decode here; extended/differential/"
                "arithmetic coding is a documented plug point")
        elif marker == 0xDD:
            dri = int.from_bytes(payload[0:2], "big")
        elif marker == 0xEE and payload[:5] == b"Adobe" \
                and len(payload) >= 12:
            adobe_transform = payload[11]
        elif marker == 0xDA:
            ns = payload[0]
            for i in range(ns):
                cid, tda = payload[1 + 2 * i:3 + 2 * i]
                sel.append((cid, tda >> 4, tda & 0x0F))
            scan_start = pos + 2 + ln
            break
        pos += 2 + ln
    if not qtabs or w is None or not comps or scan_start is None:
        raise ValueError("truncated JPEG")
    br = _BitReader(data[scan_start:])

    def huff_read(table: dict) -> int:
        code, length = 0, 0
        while length <= 16:
            code = (code << 1) | br.read(1)
            length += 1
            sym = table.get((code, length))
            if sym is not None:
                return sym
        raise ValueError("invalid Huffman stream")

    m = _jpeg_dct_matrix()
    zz = _JPEG_ZIGZAG
    hmax = max(c[1] for c in comps)
    vmax = max(c[2] for c in comps)
    mcux = -(-w // (8 * hmax))
    mcuy = -(-h // (8 * vmax))
    tsel = {cid: (td, ta) for cid, td, ta in sel} if sel else {
        c[0]: (0, 0) for c in comps}
    planes = [np.zeros((mcuy * vi * 8, mcux * hi * 8), dtype=np.float64)
              for _, hi, vi, _ in comps]
    prev_dc = [0] * len(comps)

    def decode_block(dct: dict, act: dict, qtab: "np.ndarray",
                     ci: int) -> "np.ndarray":
        q = np.zeros(64, dtype=np.int64)
        size = huff_read(dct)
        prev_dc[ci] += _jpeg_extend(br.read(size), size) if size else 0
        q[0] = prev_dc[ci]
        i = 1
        while i < 64:
            sym = huff_read(act)
            if sym == 0x00:  # EOB
                break
            if sym == 0xF0:  # ZRL
                i += 16
                continue
            run, size = sym >> 4, sym & 0x0F
            i += run
            if i >= 64:
                raise ValueError("AC index overflow")
            q[i] = _jpeg_extend(br.read(size), size)
            i += 1
        coef = np.zeros(64, dtype=np.float64)
        coef[zz] = q * qtab
        return m.T @ coef.reshape(8, 8) @ m

    def restart(interval: int) -> None:
        # byte-align and consume the expected RSTn; the sticky-EOS
        # reader stopped AT the marker without consuming it. RSTn
        # markers cycle 0-7 (T.81 §B.2.1.2): a dropped or duplicated
        # marker in a foreign stream would silently misalign every
        # following MCU, so verify the sequence number and fail fast
        # like the rest of the parser.
        br.acc = 0
        br.nbits = 0
        p = br.pos
        while p + 1 < len(br.data) and not (
                br.data[p] == 0xFF and 0xD0 <= br.data[p + 1] <= 0xD7):
            p += 1
        if p + 1 >= len(br.data):
            raise ValueError("missing restart marker")
        got = br.data[p + 1] - 0xD0
        want = (interval - 1) % 8
        if got != want:
            raise ValueError(
                f"restart marker out of sequence: RST{got} where "
                f"RST{want} expected (dropped or duplicated marker)")
        br.pos = p + 2
        br.eos = False
        for ci in range(len(comps)):
            prev_dc[ci] = 0

    mcu_n = 0
    for my in range(mcuy):
        for mx in range(mcux):
            if dri and mcu_n and mcu_n % dri == 0:
                restart(mcu_n // dri)
            for ci, (cid, hi, vi, tq) in enumerate(comps):
                td, ta = tsel.get(cid, (0, 0))
                dct = lookups.get((0, td))
                act = lookups.get((1, ta))
                if dct is None or act is None:
                    raise ValueError("missing Huffman table")
                qtab = qtabs.get(tq)
                if qtab is None:
                    raise ValueError("missing quantization table")
                for v in range(vi):
                    for u in range(hi):
                        block = decode_block(dct, act, qtab, ci)
                        y0 = (my * vi + v) * 8
                        x0 = (mx * hi + u) * 8
                        planes[ci][y0:y0 + 8, x0:x0 + 8] = block
            mcu_n += 1

    return _jpeg_reconstruct(comps, planes, w, h, hmax, vmax,
                             adobe_transform)


def _jpeg_ycbcr_to_rgb(y: "np.ndarray", cb: "np.ndarray",
                       cr: "np.ndarray") -> "np.ndarray":
    r = y + 1.402 * (cr - 128.0)
    g = y - 0.344136 * (cb - 128.0) - 0.714136 * (cr - 128.0)
    b = y + 1.772 * (cb - 128.0)
    return np.stack([r, g, b])


def _jpeg_reconstruct(comps: list, planes: list, w: int, h: int,
                      hmax: int, vmax: int,
                      adobe_transform: "int | None" = None
                      ) -> tuple[int, int, int, float]:
    """Shared tail of both JPEG decode paths: per-component crop,
    level-unshift, replicate-upsample, then the color model — grayscale
    mean (1 component), JFIF YCbCr→RGB + mean (3), or CMYK (4, r12; was
    the documented plug point): Adobe files store INVERTED ink values
    (APP14, transform 0 = plain inverted CMYK, 2 = YCCK — the CMY
    channels ride the YCbCr transform of their RGB complements);
    mean_pixel averages the four recovered ink planes."""
    full = []
    for (cid, hi, vi, tq), plane in zip(comps, planes):
        cw = -(-w * hi // hmax)
        ch = -(-h * vi // vmax)
        p = plane[:ch, :cw] + 128.0
        if hi != hmax or vi != vmax:
            p = np.repeat(np.repeat(p, vmax // vi, axis=0),
                          hmax // hi, axis=1)
        full.append(p[:h, :w])
    if len(full) == 1:
        gray = np.clip(np.round(full[0]), 0, 255)
        return w, h, 1, float(gray.mean())
    if len(full) == 3:
        rgb = np.clip(np.round(_jpeg_ycbcr_to_rgb(*full)), 0, 255)
        return w, h, 3, float(rgb.mean())
    if len(full) == 4:
        if adobe_transform == 2:  # YCCK: first three planes are YCbCr
            stored = np.concatenate([
                _jpeg_ycbcr_to_rgb(full[0], full[1], full[2]),
                full[3][None]])
        else:  # plain (inverted) CMYK — transform 0 or no APP14
            stored = np.stack(full)
        ink = np.clip(np.round(255.0 - stored), 0, 255)
        return w, h, 4, float(ink.mean())
    raise NotImplementedError(
        f"{len(full)}-component JPEG is a documented plug point")


def _decode_jpeg_progressive(data: bytes) -> tuple[int, int, int, float]:
    """Progressive-DCT JPEG (ITU-T T.81 SOF2, Huffman): the image's
    quantized coefficients arrive over MULTIPLE scans — spectral
    selection (each AC scan carries one zigzag band of one component)
    and successive approximation (first scans carry coefficients at
    reduced precision ``>> Al``; refinement scans add one bit each,
    with the EOB-run and correction-bit coding of T.81 G.2 / Annex G).
    Coefficients accumulate per component in zigzag order; dequantize +
    IDCT + upsample + color run once at the end via the shared baseline
    tail, so a progressive and a baseline encoding of the same
    quantized data decode BIT-IDENTICALLY (pinned in tests). Restart
    markers reset the DC predictors AND the EOB run per T.81."""
    pos = 2
    qtabs: dict[int, "np.ndarray"] = {}
    w = h = None
    comps: list[tuple[int, int, int, int]] = []
    lookups: dict[tuple[int, int], dict] = {}
    dri = 0
    adobe_transform = None  # APP14: 0=CMYK, 1=YCbCr, 2=YCCK
    coefs: list["np.ndarray"] = []       # per comp (bv, bh, 64) zigzag
    nblocks: list[tuple[int, int]] = []  # per comp true (bh, bw) blocks
    hmax = vmax = 1
    mcux = mcuy = 0
    dc_done: set[int] = set()

    def huff_read(br: "_BitReader", table: dict) -> int:
        code, length = 0, 0
        while length <= 16:
            code = (code << 1) | br.read(1)
            length += 1
            sym = table.get((code, length))
            if sym is not None:
                return sym
        raise ValueError("invalid Huffman stream")

    def decode_scan(scomps: list[tuple[int, int, int]], ss: int, se: int,
                    ah: int, al: int, start: int) -> int:
        """Decode one scan's entropy data beginning at byte ``start``;
        returns the byte offset of the next marker."""
        nonlocal dc_done
        br = _BitReader(data[start:])
        eobrun = 0
        idxs = []
        for cid, td, ta in scomps:
            ci = next((i for i, c in enumerate(comps) if c[0] == cid),
                      None)
            if ci is None:
                raise ValueError("scan references unknown component")
            idxs.append((ci, td, ta))
        if ss == 0 and se != 0:
            raise ValueError("progressive DC scan must have Se=0")
        if ss > 0 and len(idxs) != 1:
            raise ValueError("progressive AC scans carry one component")
        if ss == 0 and ah == 0:
            dc_done |= {ci for ci, _, _ in idxs}
        elif ss > 0 and idxs[0][0] not in dc_done:
            raise ValueError("AC scan before the component's DC scan")
        prev_dc = [0] * len(comps)
        p1, m1 = 1 << al, -(1 << al)

        def dc_first(cb: "np.ndarray", ci: int, td: int) -> None:
            dct = lookups.get((0, td))
            if dct is None:
                raise ValueError("missing Huffman table")
            size = huff_read(br, dct)
            prev_dc[ci] += _jpeg_extend(br.read(size), size) if size else 0
            cb[0] = prev_dc[ci] << al

        def dc_refine(cb: "np.ndarray") -> None:
            if br.read(1):
                cb[0] |= p1

        def ac_first(cb: "np.ndarray", act: dict) -> None:
            nonlocal eobrun
            if eobrun:
                eobrun -= 1
                return
            k = ss
            while k <= se:
                rs = huff_read(br, act)
                r, s = rs >> 4, rs & 0x0F
                if s == 0:
                    if r == 15:
                        k += 16
                        continue
                    eobrun = (1 << r) - 1
                    if r:
                        eobrun += br.read(r)
                    return
                k += r
                if k > se:
                    raise ValueError("AC band overflow")
                cb[k] = _jpeg_extend(br.read(s), s) << al
                k += 1

        def ac_refine(cb: "np.ndarray", act: dict) -> None:
            # T.81 G.2: EOB runs carry correction bits for every
            # already-nonzero coefficient they span; newly significant
            # coefficients are ±1<<Al placed after skipping r
            # zero-history positions (correction bits read for nonzero
            # positions passed over — they don't count toward r)
            nonlocal eobrun
            k = ss
            if eobrun == 0:
                while k <= se:
                    rs = huff_read(br, act)
                    r, s = rs >> 4, rs & 0x0F
                    val = 0
                    if s:
                        if s != 1:
                            raise ValueError(
                                "invalid refinement magnitude")
                        val = p1 if br.read(1) else m1
                    elif r != 15:
                        eobrun = 1 << r
                        if r:
                            eobrun += br.read(r)
                        break
                    while k <= se:
                        if cb[k] != 0:
                            if br.read(1) and not (cb[k] & p1):
                                cb[k] += p1 if cb[k] > 0 else m1
                        else:
                            if r == 0:
                                break
                            r -= 1
                        k += 1
                    if val and k <= se:
                        cb[k] = val
                    k += 1
            if eobrun:
                while k <= se:
                    if cb[k] != 0:
                        if br.read(1) and not (cb[k] & p1):
                            cb[k] += p1 if cb[k] > 0 else m1
                    k += 1
                eobrun -= 1

        def restart(interval: int) -> None:
            nonlocal eobrun
            br.acc = 0
            br.nbits = 0
            p = br.pos
            while p + 1 < len(br.data) and not (
                    br.data[p] == 0xFF
                    and 0xD0 <= br.data[p + 1] <= 0xD7):
                p += 1
            if p + 1 >= len(br.data):
                raise ValueError("missing restart marker")
            got = br.data[p + 1] - 0xD0
            want = (interval - 1) % 8
            if got != want:
                raise ValueError(
                    f"restart marker out of sequence: RST{got} where "
                    f"RST{want} expected")
            br.pos = p + 2
            br.eos = False
            eobrun = 0
            for i in range(len(prev_dc)):
                prev_dc[i] = 0

        interleaved = len(idxs) > 1
        if interleaved:
            if ss != 0:
                raise ValueError("interleaved progressive scan must be DC")
            n = 0
            for my in range(mcuy):
                for mx in range(mcux):
                    if dri and n and n % dri == 0:
                        restart(n // dri)
                    for ci, td, _ta in idxs:
                        _cid, hi, vi, _tq = comps[ci]
                        for v in range(vi):
                            for u in range(hi):
                                cb = coefs[ci][my * vi + v, mx * hi + u]
                                if ah == 0:
                                    dc_first(cb, ci, td)
                                else:
                                    dc_refine(cb)
                    n += 1
        else:
            ci, td, ta = idxs[0]
            act = lookups.get((1, ta)) if ss > 0 else None
            if ss > 0 and act is None:
                raise ValueError("missing Huffman table")
            bh_c, bw_c = nblocks[ci]
            n = 0
            for by in range(bh_c):
                for bx in range(bw_c):
                    if dri and n and n % dri == 0:
                        restart(n // dri)
                    cb = coefs[ci][by, bx]
                    if ss == 0:
                        if ah == 0:
                            dc_first(cb, ci, td)
                        else:
                            dc_refine(cb)
                    elif ah == 0:
                        ac_first(cb, act)
                    else:
                        ac_refine(cb, act)
                    n += 1
        # locate the next marker after the consumed entropy bytes
        p = start + br.pos
        while p + 1 < len(data):
            if data[p] == 0xFF and data[p + 1] != 0x00:
                if 0xD0 <= data[p + 1] <= 0xD7:
                    p += 2
                    continue
                return p
            p += 1
        return len(data)

    while pos < len(data):
        if data[pos] != 0xFF:
            raise ValueError("marker expected")
        marker = data[pos + 1]
        if marker == 0xD9:
            break
        if 0xD0 <= marker <= 0xD7 or marker == 0x01:
            pos += 2
            continue
        ln = int.from_bytes(data[pos + 2:pos + 4], "big")
        payload = data[pos + 4:pos + 2 + ln]
        if marker == 0xDB:
            off = 0
            while off < len(payload):
                pq, tq = payload[off] >> 4, payload[off] & 0x0F
                off += 1
                if pq:
                    qtabs[tq] = np.frombuffer(
                        payload[off:off + 128], dtype=">u2"
                    ).astype(np.int64)
                    off += 128
                else:
                    qtabs[tq] = np.frombuffer(
                        payload[off:off + 64], dtype=np.uint8
                    ).astype(np.int64)
                    off += 64
        elif marker == 0xC2:
            h = int.from_bytes(payload[1:3], "big")
            w = int.from_bytes(payload[3:5], "big")
            n = payload[5]
            comps = []
            for i in range(n):
                cid, hv, tq = payload[6 + 3 * i:9 + 3 * i]
                comps.append((cid, hv >> 4, hv & 0x0F, tq))
            hmax = max(c[1] for c in comps)
            vmax = max(c[2] for c in comps)
            mcux = -(-w // (8 * hmax))
            mcuy = -(-h // (8 * vmax))
            coefs = [np.zeros((mcuy * vi, mcux * hi, 64), dtype=np.int64)
                     for _, hi, vi, _ in comps]
            nblocks = []
            for _, hi, vi, _ in comps:
                ch = -(-h * vi // vmax)
                cw = -(-w * hi // hmax)
                nblocks.append((-(-ch // 8), -(-cw // 8)))
        elif marker == 0xC4:
            off = 0
            while off < len(payload):
                tc, th = payload[off] >> 4, payload[off] & 0x0F
                bits = list(payload[off + 1:off + 17])
                nv = sum(bits)
                vals = list(payload[off + 17:off + 17 + nv])
                lookups[(tc, th)] = {
                    (c, l): s for s, (c, l) in
                    _huff_codes(bits, vals).items()}
                off += 17 + nv
        elif marker == 0xDD:
            dri = int.from_bytes(payload[0:2], "big")
        elif marker == 0xEE and payload[:5] == b"Adobe" \
                and len(payload) >= 12:
            adobe_transform = payload[11]
        elif marker == 0xDA:
            if w is None or not comps:
                raise ValueError("SOS before SOF")
            ns = payload[0]
            scomps = [(payload[1 + 2 * i], payload[2 + 2 * i] >> 4,
                       payload[2 + 2 * i] & 0x0F) for i in range(ns)]
            ss, se = payload[1 + 2 * ns], payload[2 + 2 * ns]
            ahal = payload[3 + 2 * ns]
            pos = decode_scan(scomps, ss, se, ahal >> 4, ahal & 0x0F,
                              pos + 2 + ln)
            continue
        pos += 2 + ln
    if not qtabs or w is None or not comps or not dc_done:
        raise ValueError("truncated JPEG")

    m = _jpeg_dct_matrix()
    zz = _JPEG_ZIGZAG
    planes = []
    for (cid, hi, vi, tq), carr in zip(comps, coefs):
        qtab = qtabs.get(tq)
        if qtab is None:
            raise ValueError("missing quantization table")
        bv, bw_c = carr.shape[:2]
        plane = np.zeros((bv * 8, bw_c * 8), dtype=np.float64)
        coef = np.zeros(64, dtype=np.float64)
        for by in range(bv):
            for bx in range(bw_c):
                coef[:] = 0.0
                coef[zz] = carr[by, bx] * qtab
                plane[by * 8:by * 8 + 8, bx * 8:bx * 8 + 8] = \
                    m.T @ coef.reshape(8, 8) @ m
        planes.append(plane)
    return _jpeg_reconstruct(comps, planes, w, h, hmax, vmax,
                             adobe_transform)


def decode_jpeg_gray(data: bytes) -> tuple[int, int, int, float]:
    """Back-compat name for the original grayscale-only entry point —
    now delegates to the general baseline decoder (which also handles
    color); kept because operators and tests reference it."""
    return decode_jpeg(data)


def _gray_jpeg_pixels(i: int) -> "np.ndarray":
    """The grayscale JPEG fixtures' constant plane: 8 × (1 + i % 4) wide,
    8 × (1 + (i // 4) % 4) high, every pixel 2 × (i % 64) + 128."""
    w, hgt = 8 * (1 + i % 4), 8 * (1 + (i // 4) % 4)
    return np.full((hgt, w), 2 * (i % 64) + 128, dtype=np.uint8)


def synthesize_jpeg_blobs(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Deterministically synthesize a REAL baseline JPEG per row from its
    id: width = 8 × (1 + id % 4), height = 8 × (1 + (id // 4) % 4), all
    pixels = 2 × (id % 64) + 128. Constant blocks with an even level-
    shifted value quantize exactly (DC = 8·v′, q₀₀ = 16 ⇒ lossless
    roundtrip), so after decode width/height/mean_pixel equal those
    closed forms and the oracle can hash-check the full Huffman + DCT
    path end to end."""

    return _synthesize_blobs(
        df, id_col, lambda i: encode_jpeg_gray(_gray_jpeg_pixels(i)))


def synthesize_jpeg_progressive_blobs(df: DataFrame,
                                      id_col: str = "doc_id") -> DataFrame:
    """Deterministically synthesize a REAL progressive (SOF2) JPEG per
    row — same closed forms as the baseline grayscale fixture (width =
    8 × (1 + id % 4), height = 8 × (1 + (id // 4) % 4), all pixels =
    2 × (id % 64) + 128) so the oracle hash-checks the full multi-scan
    path: spectral selection, DC successive approximation + refinement,
    and the EOB-run coding of the (all-zero) AC bands."""

    return _synthesize_blobs(
        df, id_col,
        lambda i: encode_jpeg_progressive_gray(_gray_jpeg_pixels(i)))


def synthesize_jpeg_blobs_with_corruption(
        df: DataFrame, id_col: str = "doc_id",
        corrupt_mod: int = 7, corrupt_rem: int = 3) -> DataFrame:
    """The grayscale JPEG fixtures with PLANTED corruption: rows where
    ``id % corrupt_mod == corrupt_rem`` are truncated to 30 bytes (cut
    inside the tables — deterministically undecodable), the rest are the
    normal closed-form fixtures. Drives the ``on_error`` accounting
    path: after ``decode_images(..., on_error="null")``, exactly the
    planted rows must carry a ``decode_error``."""

    def jpeg(i: int) -> bytes:
        blob = encode_jpeg_gray(_gray_jpeg_pixels(i))
        return blob[:30] if i % corrupt_mod == corrupt_rem else blob

    return _synthesize_blobs(df, id_col, jpeg)


def synthesize_jpeg_color_blobs(df: DataFrame,
                                id_col: str = "doc_id") -> DataFrame:
    """Deterministically synthesize a REAL baseline 4:2:0 COLOR JPEG per
    row from its id: width = 16 × (1 + id % 3), height =
    16 × (1 + (id // 3) % 3), constant YCbCr planes Y = 128 + 2·(id % 32),
    Cb = 128 + 2·((id // 7) % 21 − 10), Cr = 128 + 2·((id // 11) % 21 − 10).
    Even level shifts quantize losslessly, constants survive chroma
    box-downsampling and replicate-upsampling exactly, and the chosen
    ranges never clip or land on a rounding half-boundary (brute-force
    verified over the full domain), so mean_pixel has the closed form
    (round(Y + 1.402·dCr) + round(Y − 0.344136·dCb − 0.714136·dCr) +
    round(Y + 1.772·dCb)) / 3 — the oracle hash-checks the entire
    interleaved-MCU + subsampling + YCbCr→RGB path end to end."""

    def jpeg(i: int) -> bytes:
        w, hgt = 16 * (1 + i % 3), 16 * (1 + (i // 3) % 3)
        y = np.full((hgt, w), 128.0 + 2 * (i % 32))
        cb = np.full((hgt, w), 128.0 + 2 * ((i // 7) % 21 - 10))
        cr = np.full((hgt, w), 128.0 + 2 * ((i // 11) % 21 - 10))
        return encode_jpeg_ycbcr(y, cb, cr, (2, 2))

    return _synthesize_blobs(df, id_col, jpeg)


def synthesize_jpeg_cmyk_blobs(df: DataFrame,
                               id_col: str = "doc_id") -> DataFrame:
    """Deterministically synthesize a REAL baseline 4-component CMYK
    JPEG per row from its id: width = 8 × (1 + id % 3), height =
    8 × (1 + (id // 3) % 3), solid ODD ink values (odd level shifts
    quantize losslessly through the Annex K DC step — brute-force
    verified over the full odd domain). Even ids are plain inverted
    CMYK (APP14 transform 0) with independent inks C = 2·(id % 127)+1,
    M = 2·((id//3) % 127)+1, Y = 2·((id//7) % 127)+1; odd ids are YCCK
    (transform 2) with EQUAL C = M = Y (gray in RGB space pins Cb = Cr
    = 128, the only YCCK fixture that survives quantization exactly);
    K = 2·((id//11) % 127)+1 in both. mean_pixel is the closed-form
    ink average, so any APP14 / inversion / YCCK-transform / 4-comp
    interleave bug breaks the oracle hash."""

    def jpeg(i: int) -> bytes:
        w, hgt = 8 * (1 + i % 3), 8 * (1 + (i // 3) % 3)
        ink = np.zeros((hgt, w, 4), np.uint8)
        if i % 2 == 0:
            ink[..., 0] = 2 * (i % 127) + 1
            ink[..., 1] = 2 * ((i // 3) % 127) + 1
            ink[..., 2] = 2 * ((i // 7) % 127) + 1
            tr = 0
        else:
            ink[..., 0] = ink[..., 1] = ink[..., 2] = 2 * (i % 127) + 1
            tr = 2
        ink[..., 3] = 2 * ((i // 11) % 127) + 1
        return encode_jpeg_cmyk(ink, transform=tr)

    return _synthesize_blobs(df, id_col, jpeg)


def synthesize_jpeg_lossless_blobs(df: DataFrame,
                                   id_col: str = "doc_id") -> DataFrame:
    """Deterministically synthesize a REAL lossless (SOF3) JPEG per row
    from its id: width = 4 + id % 16, height = 4 + (id // 16) % 16,
    gray plane px[y][x] = (id % 200) + x + y (never exceeds 236 — no
    wrap), predictor = 1 + id % 7. Lossless decode is exact for ANY
    content, so mean_pixel has the closed form v + (w−1)/2 + (h−1)/2
    and the oracle hash covers every predictor, the diff Huffman path,
    and the Annex H first-line/first-sample rules."""

    def jpeg(i: int) -> bytes:
        w, hgt, v = 4 + i % 16, 4 + (i // 16) % 16, i % 200
        grid = (v + np.arange(w)[None, :]
                + np.arange(hgt)[:, None]).astype(np.uint8)
        return encode_jpeg_lossless(grid, predictor=1 + i % 7)

    return _synthesize_blobs(df, id_col, jpeg)


# ----------------------------------------------------------- WAV/PCM (real)


def encode_wav(samples: "np.ndarray", sample_rate: int = 16000,
               channels: int = 1) -> bytes:
    """Build a 16-bit PCM WAV blob from an int16 sample array. Used to
    synthesize real audio blobs in tests."""
    data = np.asarray(samples, dtype="<i2").tobytes()
    byte_rate = sample_rate * channels * 2
    fmt = struct.pack("<4sIHHIIHH", b"fmt ", 16, 1, channels, sample_rate,
                      byte_rate, channels * 2, 16)
    hdr = struct.pack("<4sI4s", b"RIFF", 4 + len(fmt) + 8 + len(data),
                      b"WAVE")
    return hdr + fmt + struct.pack("<4sI", b"data", len(data)) + data


def decode_wav(data: bytes) -> tuple[int, int, "np.ndarray"]:
    """Parse a 16-bit PCM WAV: returns (sample_rate, channels, samples as
    int16 ndarray). RIFF chunk walk — no codec needed (PCM is raw)."""
    if len(data) < 44 or data[:4] != b"RIFF" or data[8:12] != b"WAVE":
        raise ValueError("not a WAV blob")
    pos, rate, channels, bits, samples = 12, None, None, None, None
    while pos + 8 <= len(data):
        cid, size = struct.unpack_from("<4sI", data, pos)
        body = data[pos + 8 : pos + 8 + size]
        if cid == b"fmt ":
            fmt_tag, channels, rate = struct.unpack_from("<HHI", body, 0)
            bits = struct.unpack_from("<H", body, 14)[0]
            if fmt_tag != 1 or bits != 16:
                raise ValueError(
                    f"unsupported WAV (format={fmt_tag}, bits={bits}); "
                    f"only 16-bit PCM decodes without a codec")
        elif cid == b"data":
            samples = np.frombuffer(body[: len(body) & ~1], dtype="<i2")
        pos += 8 + size + (size & 1)  # chunks are word-aligned
    if rate is None or samples is None:
        raise ValueError("WAV missing fmt/data chunk")
    return rate, channels, samples


def synthesize_wav_blobs(df: DataFrame, id_col: str = "doc_id",
                         n_samples: int = 8000) -> DataFrame:
    """Deterministically synthesize a real 16-bit PCM WAV blob per row from
    its id (constant amplitude = id % 1000) — gives the audio decode path
    an oracle: every frame's RMS must equal exactly ``id % 1000``."""

    return _synthesize_blobs(
        df, id_col,
        lambda i: encode_wav(np.full(n_samples, i % 1000, dtype=np.int16)))


def sample_audio_frames(
    df: DataFrame,
    blob_col: str = "blob",
    id_col: str = "doc_id",
    frames: int = 4,
    use_stub_decoder: bool = False,
) -> DataFrame:
    """Frame-sample an audio blob → one row per sampled frame with RMS
    energy. WAV/PCM blobs decode FOR REAL (RIFF parse + numpy RMS over
    equal sample slices); other formats use the deterministic stub or
    raise (plug ffmpeg here in a real deployment)."""

    def sample_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = {"doc_id": [], "frame_idx": [], "rms": []}
            for doc_id, blob in zip(pdf[id_col], pdf[blob_col]):
                data = bytes(blob or b"")
                if data[:4] == b"RIFF":
                    _, _, samples = decode_wav(data)
                    step = max(1, len(samples) // frames)
                    for i in range(frames):
                        chunk = samples[i * step : (i + 1) * step]
                        if not len(chunk):
                            chunk = np.zeros(1, dtype="<i2")
                        rms = float(np.sqrt(
                            np.mean(chunk.astype(np.float64) ** 2)))
                        rows["doc_id"].append(doc_id)
                        rows["frame_idx"].append(i)
                        rows["rms"].append(rms)
                    continue
                if not use_stub_decoder:
                    raise NotImplementedError(
                        "only 16-bit PCM WAV decodes without a codec in this "
                        "environment; pass use_stub_decoder=True or plug a "
                        "real decoder here"
                    )
                step = max(1, len(data) // frames)
                for i in range(frames):
                    chunk = data[i * step : (i + 1) * step] or b"\x00"
                    rms = (sum(x * x for x in chunk) / len(chunk)) ** 0.5
                    rows["doc_id"].append(doc_id)
                    rows["frame_idx"].append(i)
                    rows["rms"].append(rms)
            yield pd.DataFrame(rows)

    return df.select(id_col, blob_col).mapInPandas(
        sample_batches, schema=AUDIO_FRAME_SCHEMA
    )


def exact_blob_dedup(df: DataFrame, blob_col: str = "blob",
                     order_col: str = "doc_id") -> DataFrame:
    """Exact dedup of binary payloads by content hash — hashes shuffle, the
    blobs themselves only move with their surviving rows."""
    from sql_to_ibis_spark.operators.dedup import exact_dedup

    with_hash = df.withColumn("__blob_sha", F.sha2(F.col(blob_col), 256))
    return exact_dedup(with_hash, ["__blob_sha"], order_col).drop("__blob_sha")
