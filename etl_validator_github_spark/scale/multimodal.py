"""Multimodal column plumbing: opaque binary payloads + typed metadata.

The pattern for image/audio/video at 100 TB: store media as an opaque
``binary`` column next to typed metadata, and run decode / feature
extraction as Arrow-batched pandas functions over ``mapInPandas`` —
Python touches each batch once, the plan stays distributed, and the
binary bytes never hit the driver. Two helpers own that loop, so each
operator keeps only what makes it different:

- ``_encode_docs(docs, encode)``: documents → (doc_id, payload). Every
  fixture writer (``attach_*_payload``) is one per-text ``encode``.
- ``_map_rows(frame, cols, schema, rows)``: every decode-side mapper
  (``image_pixel_stats``, ``image_dhash``, ``audio_stats``,
  ``video_pixel_stats``, ...) is one per-row ``rows`` function yielding
  output tuples in ``schema`` order; pandas dtypes come from ``schema``.

Decode is REAL for binary netpbm (PPM ``P6`` / PGM ``P5``),
uncompressed 24-bit BMP, 8-bit PNG (stdlib zlib inflate + pure-integer
None/Sub/Up/Average/Paeth unfiltering, Adam7 supported), GIF (real
LZW), baseline JPEG (``scale/jpeg.py``), and — on the video side —
MJPEG AVI (``scale/avi.py``: strict RIFF container parse feeding the
JPEG decoder per frame), so ``image_pixel_stats`` and
``video_pixel_stats`` compute true pixel statistics from decoded
bytes — that path is the production shape with the codecs swapped for
ones that need no native libraries. Formats that DO need codec
libraries (MP4/H.26x, progressive JPEG, lossy audio) still raise
NotImplementedError: this container has none, and on a real cluster
that branch is where PIL/libvips/ffmpeg plug in. The generic
``extract_features`` frame operators additionally run on md5-derived
fake metadata — pure column expressions over the payload hash,
keeping the pipeline oracle-checkable end-to-end.
"""

from __future__ import annotations

import hashlib
from collections.abc import Callable, Iterable, Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BinaryType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from etl_validator_github_spark.contract import Query, load
from etl_validator_github_spark.scale.avi import decode_avi, encode_avi_mjpeg
from etl_validator_github_spark.scale.dedup import COPY_OFFSET
from etl_validator_github_spark.scale.flac import (
    FLAC_MAGIC,
    decode_flac,
    encode_flac,
)
from etl_validator_github_spark.scale.jpeg import (
    IDCT_HALF,
    IDCT_SHIFT,
    IDCT_W,
    QUANT_LUMA,
    ZIGZAG,
    decode_jpeg,
    encode_gray_coefficients,
)

PAYLOAD_SCHEMA = StructType([
    StructField("doc_id", LongType()),
    StructField("payload", BinaryType()),
])

#: pandas dtype of each Spark type a row mapper's schema may declare.
_PD_DTYPE = {"bigint": "int64", "int": "int32", "string": "object"}


def _h32(text: str) -> int:
    """The first 8 hex digits of md5(UTF-8 text) as an integer — the
    seed of every fixture formula (the oracles' ``CAST(concat('0x',
    substring(md5(text), 1, 8)) AS BIGINT)``)."""
    return int(hashlib.md5(text.encode("utf-8")).hexdigest()[:8], 16)


def _encode_docs(docs: DataFrame,
                 encode: Callable[[str], bytes]) -> DataFrame:
    """documents → (doc_id, payload binary): ``encode(text)`` per row in
    one Arrow-batched mapInPandas pass. Every fixture writer is this
    loop with its own ``encode``."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield pd.DataFrame({"doc_id": pdf["doc_id"],
                                "payload": [encode(t) for t in pdf["text"]]})

    return docs.select("doc_id", "text").mapInPandas(run, PAYLOAD_SCHEMA)


def _map_rows(frame: DataFrame, cols: "list[str]", schema: StructType,
              rows: Callable[..., Iterable[tuple]]) -> DataFrame:
    """The row-mapper loop: per input row, ``rows(*row[cols])`` yields
    zero or more output tuples in ``schema`` order. Fan-out stays inside
    the Arrow batch, so output partitioning follows the input (no
    shuffle); pandas dtypes come from ``schema``, so an empty batch
    still carries them."""
    dtypes = [_PD_DTYPE[f.dataType.simpleString()] for f in schema]

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = [t for vals in zip(*(pdf[c] for c in cols))
                   for t in rows(*vals)]
            yield pd.DataFrame({
                f.name: pd.Series([t[i] for t in out], dtype=dt)
                for i, (f, dt) in enumerate(zip(schema, dtypes))
            })

    return frame.select(*cols).mapInPandas(run, schema)


# ---------------------------------------------------------------------------
# Real decode path: pure-Python netpbm (PPM P6 / PGM P5) codec. No
# native libraries required — the binary netpbm grammar is simple enough
# to parse with the stdlib, which makes it the honest de-stubbed decoder
# for this environment: real header grammar (arbitrary whitespace,
# '#' comments), real raster validation, real pixel bytes out.
# ---------------------------------------------------------------------------


def encode_ppm(width: int, height: int, pixels: bytes,
               channels: int = 3) -> bytes:
    """Binary netpbm writer (P6 for RGB, P5 for grayscale) — the fixture
    generator for the decode path, and a usable sink in its own right."""
    if channels not in (1, 3):
        raise ValueError(f"netpbm supports 1 or 3 channels, got {channels}")
    expected = width * height * channels
    if len(pixels) != expected:
        raise ValueError(
            f"raster length {len(pixels)} != {width}x{height}x{channels}"
        )
    magic = b"P6" if channels == 3 else b"P5"
    return magic + f"\n{width} {height}\n255\n".encode("ascii") + pixels


def _ppm_token(data: bytes, pos: int) -> tuple[bytes, int]:
    """Next header token, skipping netpbm whitespace and '#' comments."""
    n = len(data)
    while pos < n:
        c = data[pos]
        if c in b" \t\r\n":
            pos += 1
        elif c == ord("#"):
            while pos < n and data[pos] != ord("\n"):
                pos += 1
        else:
            break
    start = pos
    while pos < n and data[pos] not in b" \t\r\n":
        pos += 1
    if start == pos:
        raise ValueError("truncated netpbm header")
    return data[start:pos], pos


def decode_ppm(payload: bytes) -> tuple[int, int, int, bytes]:
    """Decode binary netpbm: returns (width, height, channels, raster).

    Accepts the full header grammar (whitespace runs, '#' comments
    anywhere between tokens), requires maxval <= 255 (1 byte/sample),
    and validates the raster length exactly.
    """
    data = bytes(payload)
    magic, pos = _ppm_token(data, 0)
    if magic not in (b"P6", b"P5"):
        raise ValueError(f"not a binary netpbm payload: magic {magic!r}")
    channels = 3 if magic == b"P6" else 1
    w_tok, pos = _ppm_token(data, pos)
    h_tok, pos = _ppm_token(data, pos)
    max_tok, pos = _ppm_token(data, pos)
    width, height, maxval = int(w_tok), int(h_tok), int(max_tok)
    if width <= 0 or height <= 0:
        raise ValueError(f"invalid dimensions {width}x{height}")
    if not 0 < maxval <= 255:
        raise ValueError(f"unsupported maxval {maxval} (need 1 byte/sample)")
    # Exactly ONE whitespace byte separates maxval from the raster.
    if pos >= len(data) or data[pos] not in b" \t\r\n":
        raise ValueError("missing raster separator after maxval")
    pos += 1
    need = width * height * channels
    raster = data[pos:pos + need]
    if len(raster) != need:
        raise ValueError(
            f"truncated raster: have {len(raster)} bytes, need {need}"
        )
    # Exact-length validation cuts both ways: trailing bytes mean a
    # corrupt or concatenated payload, not a valid image (ADVICE r6).
    if len(data) - pos > need:
        raise ValueError(
            f"trailing bytes after raster: {len(data) - pos - need} "
            f"extra (raster needs exactly {need})"
        )
    return width, height, channels, raster


def encode_bmp(width: int, height: int, pixels: bytes) -> bytes:
    """Uncompressed 24-bit BMP writer (BITMAPINFOHEADER, BI_RGB).

    ``pixels`` is top-down row-major RGB — the same raster convention
    every decoder here returns — re-ordered to BMP's bottom-up BGR rows
    padded to 4-byte boundaries. Pure struct math, no codec library."""
    import struct

    if len(pixels) != width * height * 3:
        raise ValueError(
            f"raster length {len(pixels)} != {width}x{height}x3"
        )
    stride = (width * 3 + 3) & ~3
    pad = b"\x00" * (stride - width * 3)
    rows = []
    for y in range(height - 1, -1, -1):  # bottom-up
        row = bytearray(pixels[y * width * 3:(y + 1) * width * 3])
        # RGB→BGR per row via slice swap (no per-pixel Python loop —
        # this runs inside mapInPandas batches, ADVICE r12).
        row[0::3], row[2::3] = row[2::3], row[0::3]
        rows.append(bytes(row) + pad)
    raster = b"".join(rows)
    header = struct.pack(
        "<2sIHHI", b"BM", 14 + 40 + len(raster), 0, 0, 14 + 40
    ) + struct.pack(
        "<IiiHHIIiiII", 40, width, height, 1, 24, 0, len(raster),
        2835, 2835, 0, 0,
    )
    return header + raster


def decode_bmp(payload: bytes) -> tuple[int, int, int, bytes]:
    """Decode uncompressed 24-bit BMP (BI_RGB, BITMAPINFOHEADER or a
    later 124/108-byte variant): returns (width, height, 3, raster)
    with the raster normalized to top-down row-major RGB — identical
    conventions to ``decode_ppm``, so every downstream consumer
    (pixel stats, dHash, resize) is format-agnostic. Handles both
    bottom-up (positive height, the common case) and top-down
    (negative height) files and validates stride/length exactly."""
    import struct

    data = bytes(payload)
    if len(data) < 54 or data[:2] != b"BM":
        raise ValueError("not a BMP payload")
    pix_off = struct.unpack_from("<I", data, 10)[0]
    hdr_size = struct.unpack_from("<I", data, 14)[0]
    if hdr_size < 40:
        raise ValueError(f"unsupported BMP header size {hdr_size}")
    if pix_off < 14 + hdr_size:
        raise ValueError(
            f"pixel offset {pix_off} overlaps the {14 + hdr_size}-byte "
            "header — corrupt offset field"
        )
    width, height_raw = struct.unpack_from("<ii", data, 18)
    planes, bpp = struct.unpack_from("<HH", data, 26)
    compression = struct.unpack_from("<I", data, 30)[0]
    if planes != 1 or bpp != 24 or compression != 0:
        raise NotImplementedError(
            f"only uncompressed 24-bit BMP decodes natively "
            f"(planes={planes}, bpp={bpp}, compression={compression})"
        )
    top_down = height_raw < 0
    height = -height_raw if top_down else height_raw
    if width <= 0 or height <= 0:
        raise ValueError(f"invalid dimensions {width}x{height_raw}")
    stride = (width * 3 + 3) & ~3
    need = stride * height
    if pix_off + need > len(data):
        raise ValueError(
            f"truncated raster: have {len(data) - pix_off} bytes at "
            f"offset {pix_off}, need {need}"
        )
    # Exact-length both ways, the decode_ppm convention (ADVICE r12):
    # bytes past the raster mean a corrupt or concatenated payload.
    # (A gap BEFORE pix_off — palette/ICC room — is already allowed.)
    if len(data) - pix_off > need:
        raise ValueError(
            f"trailing bytes after raster: {len(data) - pix_off - need} "
            f"extra (raster needs exactly {need} at offset {pix_off})"
        )
    out = bytearray(width * height * 3)
    for row in range(height):
        src_y = row if top_down else height - 1 - row
        base = pix_off + src_y * stride
        seg = bytearray(data[base:base + width * 3])
        # BGR→RGB per row via slice swap (no per-pixel loop).
        seg[0::3], seg[2::3] = seg[2::3], seg[0::3]
        out[row * width * 3:(row + 1) * width * 3] = seg
    return width, height, 3, bytes(out)


PNG_SIG = b"\x89PNG\r\n\x1a\n"

#: PNG color type → sample channels (bit depth 8, non-interlaced only).
_PNG_COLOR_CHANNELS = {0: 1, 2: 3, 6: 4}


def _paeth(a: int, b: int, c: int) -> int:
    """The PNG Paeth predictor (left, up, upper-left)."""
    p = a + b - c
    pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
    if pa <= pb and pa <= pc:
        return a
    if pb <= pc:
        return b
    return c


def _png_chunk(ctype: bytes, body: bytes) -> bytes:
    import struct
    import zlib

    return (struct.pack(">I", len(body)) + ctype + body
            + struct.pack(">I", zlib.crc32(ctype + body)))


#: Adam7 pass geometry: (x_start, y_start, x_step, y_step), PNG §8.2.
_ADAM7 = ((0, 0, 8, 8), (4, 0, 8, 8), (0, 4, 4, 8), (2, 0, 4, 4),
          (0, 2, 2, 4), (1, 0, 2, 2), (0, 1, 1, 2))


def _png_filter_rows(raw: bytes, width: int, height: int, channels: int,
                     filters: "list[int]") -> bytes:
    """Filter a raster into PNG scanlines (filter byte + filtered row
    per scanline); prior row resets to zeros at the raster start."""
    bpp = channels
    rb = width * channels
    mv = memoryview(raw)
    prior = bytes(rb)
    out = bytearray()
    for y in range(height):
        row = mv[y * rb:(y + 1) * rb].tobytes()
        t = filters[y]
        out.append(t)
        if t == 0:
            out += row
        elif t == 1:
            out += bytes((row[i] - (row[i - bpp] if i >= bpp else 0)) & 255
                         for i in range(rb))
        elif t == 2:
            out += bytes((row[i] - prior[i]) & 255 for i in range(rb))
        elif t == 3:
            out += bytes(
                (row[i] - ((row[i - bpp] if i >= bpp else 0)
                           + prior[i]) // 2) & 255
                for i in range(rb)
            )
        else:
            out += bytes(
                (row[i] - _paeth(row[i - bpp] if i >= bpp else 0,
                                 prior[i],
                                 prior[i - bpp] if i >= bpp else 0)) & 255
                for i in range(rb)
            )
        prior = row
    return bytes(out)


def _png_unfilter(stream: bytes, width: int, height: int,
                  channels: int) -> bytes:
    """Inverse of ``_png_filter_rows``: scanlines → raster, validating
    filter-type bytes."""
    bpp = channels
    rb = width * channels
    out = bytearray(height * rb)
    prior = bytes(rb)
    for y in range(height):
        t = stream[y * (1 + rb)]
        row = bytearray(stream[y * (1 + rb) + 1:(y + 1) * (1 + rb)])
        if t == 0:
            pass
        elif t == 1:
            for i in range(bpp, rb):
                row[i] = (row[i] + row[i - bpp]) & 255
        elif t == 2:
            for i in range(rb):
                row[i] = (row[i] + prior[i]) & 255
        elif t == 3:
            for i in range(rb):
                left = row[i - bpp] if i >= bpp else 0
                row[i] = (row[i] + (left + prior[i]) // 2) & 255
        elif t == 4:
            for i in range(rb):
                left = row[i - bpp] if i >= bpp else 0
                ul = prior[i - bpp] if i >= bpp else 0
                row[i] = (row[i] + _paeth(left, prior[i], ul)) & 255
        else:
            raise ValueError(f"unknown scanline filter type {t}")
        out[y * rb:(y + 1) * rb] = row
        prior = bytes(row)
    return bytes(out)


def _adam7_pass_dims(width: int, height: int) -> "list[tuple]":
    """(x0, y0, dx, dy, pass_w, pass_h) per non-empty Adam7 pass."""
    out = []
    for x0, y0, dx, dy in _ADAM7:
        pw = (width - x0 + dx - 1) // dx
        ph = (height - y0 + dy - 1) // dy
        if pw > 0 and ph > 0:
            out.append((x0, y0, dx, dy, pw, ph))
    return out


def encode_png(width: int, height: int, pixels: bytes,
               channels: int = 3,
               filters: "list[int] | None" = None,
               interlace: bool = False) -> bytes:
    """Pure-stdlib PNG writer: 8-bit greyscale/RGB/RGBA, progressive
    or Adam7-interlaced.

    ``filters`` optionally names the per-scanline filter type (0–4);
    the default cycles through all five so every unfilter branch of
    the decoder (None/Sub/Up/Average/Paeth) sees real traffic on every
    image taller than four rows. Under Adam7 the filters list indexes
    the concatenated pass scanlines. IDAT is stdlib ``zlib``; CRCs are
    ``zlib.crc32`` — no codec library anywhere.
    """
    import struct
    import zlib

    color_type = {1: 0, 3: 2, 4: 6}.get(channels)
    if color_type is None:
        raise ValueError(f"PNG writer supports 1/3/4 channels, got {channels}")
    if len(pixels) != width * height * channels:
        raise ValueError(
            f"raster length {len(pixels)} != {width}x{height}x{channels}"
        )
    if interlace:
        passes = _adam7_pass_dims(width, height)
        n_scan = sum(ph for *_, ph in passes)
        if filters is None:
            filters = [y % 5 for y in range(n_scan)]
        if len(filters) != n_scan or any(not 0 <= t <= 4 for t in filters):
            raise ValueError(
                f"filters must give one type in 0..4 per scanline "
                f"({n_scan} Adam7 scanlines)"
            )
        out = bytearray()
        fi = 0
        for x0, y0, dx, dy, pw, ph in passes:
            sub = bytearray()
            for sy in range(ph):
                y = y0 + sy * dy
                for sx in range(pw):
                    x = x0 + sx * dx
                    base = (y * width + x) * channels
                    sub += pixels[base:base + channels]
            out += _png_filter_rows(bytes(sub), pw, ph, channels,
                                    filters[fi:fi + ph])
            fi += ph
        ihdr = struct.pack(">IIBBBBB", width, height, 8, color_type,
                           0, 0, 1)
        return (PNG_SIG
                + _png_chunk(b"IHDR", ihdr)
                + _png_chunk(b"IDAT", zlib.compress(bytes(out)))
                + _png_chunk(b"IEND", b""))
    if filters is None:
        filters = [y % 5 for y in range(height)]
    if len(filters) != height or any(not 0 <= t <= 4 for t in filters):
        raise ValueError("filters must give one type in 0..4 per row")
    out = _png_filter_rows(pixels, width, height, channels, filters)
    ihdr = struct.pack(">IIBBBBB", width, height, 8, color_type, 0, 0, 0)
    return (PNG_SIG
            + _png_chunk(b"IHDR", ihdr)
            + _png_chunk(b"IDAT", zlib.compress(out))
            + _png_chunk(b"IEND", b""))


def decode_png(payload: bytes) -> tuple[int, int, int, bytes]:
    """Decode an 8-bit greyscale/RGB/RGBA PNG (progressive or Adam7-
    interlaced) with the stdlib alone: real chunk walk with CRC
    validation, ``zlib`` IDAT inflate, all five scanline unfilters
    (None/Sub/Up/Average/Paeth) as pure integer math, and the 7-pass
    Adam7 scatter. Returns (width, height, channels, top-down
    row-major raster) — the shared convention of every decoder here.

    Strictness mirrors the rest of the codec family: IHDR must come
    first and IEND last, IDAT chunks must be consecutive, every CRC
    must match, the inflated stream must hold exactly the scanline
    bytes the geometry implies, and trailing bytes after IEND are
    rejected (the decode_ppm exact-length rule).
    """
    import struct
    import zlib

    data = bytes(payload)
    if len(data) < 8 or data[:8] != PNG_SIG:
        raise ValueError(f"not a PNG payload: signature {data[:8]!r}")
    pos = 8
    ihdr = None
    idat = bytearray()
    idat_done = False
    ended = False
    while pos < len(data):
        if ended:
            raise ValueError(
                f"trailing bytes after IEND: {len(data) - pos} extra"
            )
        if pos + 8 > len(data):
            raise ValueError("truncated chunk header")
        (length,) = struct.unpack_from(">I", data, pos)
        ctype = data[pos + 4:pos + 8]
        body = data[pos + 8:pos + 8 + length]
        if len(body) != length or pos + 12 + length > len(data):
            raise ValueError(f"chunk {ctype!r} truncated: "
                             f"{len(body)} of {length} body bytes "
                             "(or missing CRC)")
        (crc,) = struct.unpack_from(">I", data, pos + 8 + length)
        if zlib.crc32(ctype + body) != crc:
            raise ValueError(f"CRC mismatch in chunk {ctype!r}")
        if ihdr is None:
            if ctype != b"IHDR":
                raise ValueError(f"first chunk is {ctype!r}, not IHDR")
            ihdr = struct.unpack(">IIBBBBB", body)
        elif ctype == b"IHDR":
            raise ValueError("duplicate IHDR")
        elif ctype == b"IDAT":
            if idat_done:
                raise ValueError("non-consecutive IDAT chunks")
            idat += body
        elif ctype == b"IEND":
            if length:
                raise ValueError("IEND carries data")
            ended = True
        elif idat:
            idat_done = True       # ancillary chunk after the IDAT run
        pos += 12 + length
    if ihdr is None or not ended:
        raise ValueError("missing IHDR or IEND")
    if not idat:
        raise ValueError("no IDAT data")
    width, height, depth, color_type, comp, filt, interlace = ihdr
    if width <= 0 or height <= 0:
        raise ValueError(f"invalid dimensions {width}x{height}")
    if comp != 0 or filt != 0:
        raise ValueError(
            f"invalid IHDR compression/filter method {comp}/{filt}"
        )
    channels = _PNG_COLOR_CHANNELS.get(color_type)
    if depth != 8 or channels is None or interlace not in (0, 1):
        raise NotImplementedError(
            f"only 8-bit grey/RGB/RGBA decodes natively "
            f"(depth={depth}, color_type={color_type}, "
            f"interlace={interlace})"
        )
    stream = zlib.decompress(bytes(idat))
    if interlace == 1:
        # Adam7: seven independently-filtered sub-images, scattered
        # back onto the full raster by the pass geometry.
        passes = _adam7_pass_dims(width, height)
        need = sum(ph * (1 + pw * channels) for *_, pw, ph in passes)
        if len(stream) != need:
            raise ValueError(
                f"inflated stream is {len(stream)} bytes, "
                f"need exactly {need} (Adam7)"
            )
        out = bytearray(width * height * channels)
        pos = 0
        for x0, y0, dx, dy, pw, ph in passes:
            plen = ph * (1 + pw * channels)
            sub = _png_unfilter(stream[pos:pos + plen], pw, ph, channels)
            pos += plen
            for sy in range(ph):
                y = y0 + sy * dy
                for sx in range(pw):
                    x = x0 + sx * dx
                    src = (sy * pw + sx) * channels
                    dst = (y * width + x) * channels
                    out[dst:dst + channels] = sub[src:src + channels]
        return width, height, channels, bytes(out)
    rb = width * channels
    if len(stream) != height * (1 + rb):
        raise ValueError(
            f"inflated stream is {len(stream)} bytes, "
            f"need exactly {height * (1 + rb)}"
        )
    return width, height, channels, _png_unfilter(stream, width, height,
                                                  channels)


def _lzw_min_code_size(n_colors: int) -> int:
    bits = 2
    while (1 << bits) < n_colors:
        bits += 1
    return bits


def _gif_lzw_encode(indices: "list[int]", mcs: int) -> bytes:
    """GIF-variant LZW (GIF89a spec appendix): variable-width codes
    LSB-first, CLEAR/EOI codes, dictionary reset at 4096."""
    clear, eoi = 1 << mcs, (1 << mcs) + 1
    out = bytearray()
    acc = 0
    nbits = 0

    def emit(code: int, width: int):
        nonlocal acc, nbits
        acc |= code << nbits
        nbits += width
        while nbits >= 8:
            out.append(acc & 0xFF)
            acc >>= 8
            nbits -= 8

    table = {(i,): i for i in range(1 << mcs)}
    next_code = eoi + 1
    width = mcs + 1
    emit(clear, width)
    seq: tuple = ()
    for idx in indices:
        cand = seq + (idx,)
        if cand in table:
            seq = cand
            continue
        emit(table[seq], width)
        table[cand] = next_code
        next_code += 1
        if next_code == (1 << width) + 1 and width < 12:
            width += 1
        if next_code >= 4096:
            emit(clear, width)
            table = {(i,): i for i in range(1 << mcs)}
            next_code = eoi + 1
            width = mcs + 1
        seq = (idx,)
    if seq:
        emit(table[seq], width)
    # EOI width sync: the decoder appends one table entry per data code
    # read (after the first), so by the time it reads EOI its table can
    # have just reached 1<<width and widened — one step before our
    # entry-add bookkeeping would.  Mirror that here so EOI is written
    # at the width the decoder will read it with.
    if next_code == (1 << width) and width < 12:
        width += 1
    emit(eoi, width)
    if nbits:
        out.append(acc & 0xFF)
    return bytes(out)


def _gif_lzw_decode(data: bytes, mcs: int, expect: int) -> "list[int]":
    """Inverse of ``_gif_lzw_encode`` incl. the KwKwK case; validates
    the stream stops at EOI with exactly ``expect`` pixels out."""
    clear, eoi = 1 << mcs, (1 << mcs) + 1
    pos = 0          # bit cursor
    width = mcs + 1
    table: "list[tuple]" = [(i,) for i in range(1 << mcs)] + [(), ()]
    out: "list[int]" = []
    prev: "tuple | None" = None

    def read() -> int:
        nonlocal pos
        if pos >= 8 * len(data):
            raise ValueError("LZW stream truncated before EOI")
        byte, bit = divmod(pos, 8)
        v = 0
        # Zero-pad past the end: encoders differ on whether EOI is
        # written at the pre- or post-table-growth width, and the wider
        # read only ever pulls zero padding bits above the EOI code.
        for i in range((width + bit + 7) // 8):
            if byte + i < len(data):
                v |= data[byte + i] << (8 * i)
        pos += width
        return (v >> bit) & ((1 << width) - 1)

    while True:
        code = read()
        if code == eoi:
            break
        if code == clear:
            table = [(i,) for i in range(1 << mcs)] + [(), ()]
            width = mcs + 1
            prev = None
            continue
        if code < len(table):
            entry = table[code]
        elif code == len(table) and prev is not None:
            entry = prev + (prev[0],)          # KwKwK
        else:
            raise ValueError(f"LZW code {code} out of table range")
        out.extend(entry)
        if prev is not None and len(table) < 4096:
            table.append(prev + (entry[0],))
            if len(table) == (1 << width) and width < 12:
                width += 1
        prev = entry
        if len(out) > expect:
            raise ValueError(
                f"LZW decoded {len(out)} pixels, image holds {expect}"
            )
    if len(out) != expect:
        raise ValueError(
            f"LZW decoded {len(out)} pixels, need exactly {expect}"
        )
    return out


def _gif_interlace_rows(height: int) -> "list[int]":
    """GIF 4-pass interlace row order: every 8th from 0, every 8th
    from 4, every 4th from 2, every 2nd from 1 (GIF89a §20)."""
    return ([*range(0, height, 8)] + [*range(4, height, 8)]
            + [*range(2, height, 4)] + [*range(1, height, 2)])


def encode_gif(width: int, height: int, pixels: bytes,
               interlace: bool = False) -> bytes:
    """Pure-stdlib GIF89a writer for RGB rasters with ≤256 distinct
    colors: palette from the image's distinct triples, genuine LZW
    (variable-width codes, CLEAR/EOI, 4096-entry dictionary reset),
    ≤255-byte sub-block framing, optional 4-pass interlacing."""
    import struct

    if len(pixels) != width * height * 3:
        raise ValueError(
            f"raster length {len(pixels)} != {width}x{height}x3"
        )
    triples = [pixels[i:i + 3] for i in range(0, len(pixels), 3)]
    palette = sorted(set(triples))
    if len(palette) > 256:
        raise ValueError(f"{len(palette)} distinct colors exceed a GIF "
                         "palette (quantize first)")
    lut = {c: i for i, c in enumerate(palette)}
    indices = [lut[c] for c in triples]
    if interlace:
        indices = [
            indices[y * width + x]
            for y in _gif_interlace_rows(height)
            for x in range(width)
        ]
    # Palette table size must be a power of two ≥ 2.
    pbits = 1
    while (1 << pbits) < len(palette):
        pbits += 1
    table = b"".join(palette) + bytes(3 * ((1 << pbits) - len(palette)))
    mcs = _lzw_min_code_size(1 << pbits)
    lzw = _gif_lzw_encode(indices, mcs)
    blocks = b"".join(
        bytes([len(lzw[i:i + 255])]) + lzw[i:i + 255]
        for i in range(0, len(lzw), 255)
    )
    return (b"GIF89a"
            + struct.pack("<HHBBB", width, height,
                          0x80 | (pbits - 1), 0, 0)   # global table, 2^pbits
            + table
            + b"\x2C" + struct.pack("<HHHHB", 0, 0, width, height,
                                    0x40 if interlace else 0)
            + bytes([mcs]) + blocks + b"\x00"
            + b"\x3B")


def decode_gif(payload: bytes) -> tuple[int, int, int, bytes]:
    """Decode a single-frame GIF87a/89a (interlaced or not) to
    top-down RGB with the stdlib alone: logical-screen + image
    descriptors, global/local color tables, extension-block skipping,
    a real LZW decompressor (variable-width codes, CLEAR/EOI, KwKwK),
    and the 4-pass interlace row scatter.

    Strictness mirrors the codec family: sub-block framing must be
    intact, the LZW stream must produce exactly width·height pixels
    and end at EOI, every index must hit the palette, and trailing
    bytes after the GIF trailer are rejected (the decode_ppm
    exact-length rule)."""
    import struct

    data = bytes(payload)
    if len(data) < 13 or data[:6] not in (b"GIF87a", b"GIF89a"):
        raise ValueError(f"not a GIF payload: header {data[:6]!r}")
    sw, sh, flags, _bg, _ar = struct.unpack_from("<HHBBB", data, 6)
    pos = 13
    gct = None
    if flags & 0x80:
        n = 2 << (flags & 0x07)
        gct = [data[pos + 3 * i:pos + 3 * i + 3] for i in range(n)]
        if pos + 3 * n > len(data):
            raise ValueError("truncated global color table")
        pos += 3 * n
    while True:
        if pos >= len(data):
            raise ValueError("missing GIF trailer")
        block = data[pos]
        pos += 1
        if block == 0x3B:                       # trailer
            raise ValueError("GIF ends before any image data")
        if block == 0x21:                       # extension: skip
            if pos >= len(data):
                raise ValueError("truncated extension block")
            pos += 1                            # label
            while True:
                if pos >= len(data):
                    raise ValueError("truncated extension sub-blocks")
                n = data[pos]
                pos += 1 + n
                if n == 0:
                    break
            continue
        if block == 0x2C:                       # image descriptor
            break
        raise ValueError(f"unknown GIF block 0x{block:02x}")
    if pos + 9 > len(data):
        raise ValueError("truncated image descriptor")
    left, top, w, h, iflags = struct.unpack_from("<HHHHB", data, pos)
    pos += 9
    interlaced = bool(iflags & 0x40)
    palette = gct
    if iflags & 0x80:                           # local color table
        n = 2 << (iflags & 0x07)
        if pos + 3 * n > len(data):
            raise ValueError("truncated local color table")
        palette = [data[pos + 3 * i:pos + 3 * i + 3] for i in range(n)]
        pos += 3 * n
    if palette is None:
        raise ValueError("GIF image has no color table")
    if w <= 0 or h <= 0 or w > sw or h > sh:
        raise ValueError(f"invalid image dimensions {w}x{h} in "
                         f"{sw}x{sh} screen")
    if pos >= len(data):
        raise ValueError("truncated before LZW min code size")
    mcs = data[pos]
    pos += 1
    if not 2 <= mcs <= 11:
        raise ValueError(f"invalid LZW min code size {mcs}")
    lzw = bytearray()
    while True:
        if pos >= len(data):
            raise ValueError("truncated image sub-blocks")
        n = data[pos]
        pos += 1
        if n == 0:
            break
        if pos + n > len(data):
            raise ValueError("truncated image sub-block")
        lzw += data[pos:pos + n]
        pos += n
    if pos >= len(data) or data[pos] != 0x3B:
        raise ValueError("missing GIF trailer after image data")
    if len(data) - pos > 1:
        raise ValueError(
            f"trailing bytes after GIF trailer: {len(data) - pos - 1} extra"
        )
    indices = _gif_lzw_decode(bytes(lzw), mcs, w * h)
    if interlaced:
        # The stream stores rows in 4-pass order; scatter them back.
        rows = _gif_interlace_rows(h)
        deinter: "list[int]" = [0] * (w * h)
        for stream_row, img_row in enumerate(rows):
            deinter[img_row * w:(img_row + 1) * w] = \
                indices[stream_row * w:(stream_row + 1) * w]
        indices = deinter
    npal = len(palette)
    if any(i >= npal for i in indices):
        raise ValueError("pixel index outside the color table")
    out = b"".join(palette[i] for i in indices)
    return w, h, 3, out


def decode_image(payload: bytes) -> tuple[int, int, int, bytes]:
    """Decode an image payload to (width, height, channels, pixel bytes).

    Native (pure-Python) decode for binary netpbm (PPM P6 / PGM P5),
    uncompressed 24-bit BMP, non-interlaced 8-bit PNG (stdlib zlib
    inflate + integer unfiltering), single-frame GIF (real LZW
    decompressor + palette mapping), and baseline JPEG (Huffman +
    dequant + exact-integer IDCT, see ``scale/jpeg.py``) — every
    consumer dispatches through here, so all six formats flow into
    the same stats/dHash/resize plumbing. (MJPEG AVI video decodes
    natively too, via ``scale/avi.py`` + ``video_pixel_stats`` — a
    container of JPEGs, not an image, so it is not dispatched here.)
    Formats that genuinely need codec libraries (MP4/H.26x,
    progressive JPEG) stay a declared gap — on a real cluster that
    branch dispatches to PIL/libvips/ffmpeg; the surrounding
    mapInPandas plumbing is identical.
    """
    head = bytes(payload[:2])
    if head in (b"P6", b"P5"):
        return decode_ppm(payload)
    if head == b"BM":
        return decode_bmp(payload)
    if head == PNG_SIG[:2]:
        return decode_png(payload)
    if head == b"GI":
        return decode_gif(payload)
    if head == b"\xFF\xD8":
        return decode_jpeg(payload)
    raise NotImplementedError(
        f"no codec for image format {head!r}: only binary netpbm "
        "(P6/P5), uncompressed 24-bit BMP, 8-bit PNG, single-frame "
        "GIF and baseline JPEG decode natively (MJPEG AVI via "
        "decode_avi); MP4/H.26x and progressive JPEG require codec "
        "libraries"
    )


#: Synthetic image geometry: dims and pixel bytes are pure functions of
#: md5(text), so the DuckDB oracle regenerates the identical image and
#: the decoded statistics are exact-integer comparable. Kept small (at
#: most 16x12 RGB = 576 raster bytes) so the oracle's per-byte unnest
#: stays trivial at sf0.1.
IMG_W_MOD = 16
IMG_H_MOD = 12
PIXEL_STRIDE = 7

PIXEL_STATS_SCHEMA = StructType([
    StructField("doc_id", LongType()),
    StructField("width", IntegerType()),
    StructField("height", IntegerType()),
    StructField("n_pixels", LongType()),
    StructField("sum_r", LongType()),
    StructField("sum_g", LongType()),
    StructField("sum_b", LongType()),
    StructField("min_byte", IntegerType()),
    StructField("max_byte", IntegerType()),
    StructField("mean_luma_milli", LongType()),
])


def attach_image_payload(docs: DataFrame, brighten: int = 0) -> DataFrame:
    """documents → (doc_id, payload binary): a REAL P6 PPM image per doc.

    Fixture synthesis for the decode path: width = 1 + h32 % {W},
    height = 1 + h32 % {H}, raster byte i = (h32 + {S}*i) % 256, where
    h32 is the first 8 hex chars of md5(text) — deterministic, so the
    oracle regenerates the same image without ever seeing the bytes.
    Encoded through ``encode_ppm``, decoded back by ``decode_ppm``: the
    bytes on the wire are genuine netpbm files.

    ``brighten`` adds a saturating (min(b + Δ, 255)) per-byte brightness
    shift — the deterministic stand-in for a re-encode: content hash
    changes, perceptual structure survives (used by the dHash near-dup
    fixture below).
    """
    return _encode_docs(
        docs, lambda t: encode_ppm(*_synth_raster(t, brighten)))


def _fixture_dims(h32: int) -> tuple[int, int]:
    """Image-fixture (width, height) from the md5 prefix."""
    return 1 + h32 % IMG_W_MOD, 1 + h32 % IMG_H_MOD


def _synth_raster(text: str, brighten: int = 0) -> tuple[int, int, bytes]:
    """The md5-derived (width, height, raster) synthesis formula shared
    by every image-fixture writer — one formula, several wire formats,
    one oracle."""
    h32 = _h32(text)
    w, h = _fixture_dims(h32)
    raster = bytes(
        min((h32 + PIXEL_STRIDE * i) % 256 + brighten, 255)
        for i in range(w * h * 3)
    )
    return w, h, raster


def attach_image_payload_bmp(docs: DataFrame) -> DataFrame:
    """``attach_image_payload``'s BMP twin: the SAME md5-derived pixels
    (so ``_MULTIMODAL_SQL`` applies unchanged) written through
    ``encode_bmp`` — the bytes on the wire are genuine uncompressed
    24-bit BMP files, bottom-up BGR rows with stride padding the
    decoder must undo."""
    return _encode_docs(docs, lambda t: encode_bmp(*_synth_raster(t)))


def attach_image_payload_png(docs: DataFrame) -> DataFrame:
    """``attach_image_payload``'s PNG twin: the SAME md5-derived pixels
    (so ``_MULTIMODAL_SQL`` applies unchanged) written through
    ``encode_png`` — genuine zlib-compressed PNGs whose per-row filter
    types cycle None/Sub/Up/Average/Paeth, so the gate exercises every
    unfilter branch of the decoder on every image taller than 4 rows."""
    return _encode_docs(docs, lambda t: encode_png(*_synth_raster(t)))


def attach_image_payload_gif(docs: DataFrame) -> DataFrame:
    """``attach_image_payload``'s GIF twin: the SAME md5-derived pixels
    (so ``_MULTIMODAL_SQL`` applies unchanged) written through
    ``encode_gif`` — genuine LZW-compressed single-frame GIFs whose
    palettes are the image's distinct triples (≤192 pixels per fixture
    image, so the 256-entry ceiling always holds)."""
    return _encode_docs(docs, lambda t: encode_gif(*_synth_raster(t)))


#: JPEG fixture: the md5-derived determinism lives in the QUANTIZED
#: COEFFICIENT domain (JPEG is lossy in pixels but exact in
#: coefficients): block bi's zigzag-position-k coefficient is a
#: closed-form function of h32, Huffman-coded into a genuine baseline
#: bitstream by ``encode_gray_coefficients``. The decoder's IDCT is
#: pinned to one exact-integer formula (``scale/jpeg.py``), so the
#: oracle reproduces every decoded pixel digit-for-digit in SQL.
JPEG_DC_MOD = 65        # DC in [-32, 32]
JPEG_AC_GATE = 5        # AC present at ~1/5 of positions
JPEG_AC_MOD = 31        # AC in [-15, 15]
JPEG_RESTART = 2        # DRI interval: exercises RSTn on multi-block docs


def _synth_jpeg_blocks(h32: int, w: int, h: int) -> "list[list[int]]":
    bw, bh = -(-w // 8), -(-h // 8)
    blocks = []
    for bi in range(bw * bh):
        blk = [0] * 64
        blk[0] = (h32 + 37 * bi) % JPEG_DC_MOD - (JPEG_DC_MOD - 1) // 2
        for k in range(1, 64):
            j = bi * 64 + k
            if (h32 + 11 * j) % JPEG_AC_GATE == 0:
                blk[k] = (h32 + 13 * j) % JPEG_AC_MOD - (JPEG_AC_MOD - 1) // 2
        blocks.append(blk)
    return blocks


def _jpeg_gray(seed: int, w: int, h: int) -> bytes:
    """One fixture JPEG: ``_synth_jpeg_blocks(seed)`` coefficients coded
    with the Annex K luminance table and a 2-MCU restart interval."""
    qz = [QUANT_LUMA[ZIGZAG[k]] for k in range(64)]
    return encode_gray_coefficients(w, h, _synth_jpeg_blocks(seed, w, h),
                                    qz, restart_interval=JPEG_RESTART)


def attach_image_payload_jpeg(docs: DataFrame) -> DataFrame:
    """documents → (doc_id, payload binary): a REAL grayscale baseline
    JPEG per doc. Dims reuse the fixture geometry (1 + h32 % {W/H});
    quantized coefficients are closed-form in h32 (see the section
    note), written through ``encode_gray_coefficients`` with the Annex
    K luminance table and a 2-MCU restart interval — the wire bytes
    are genuine Huffman-coded, byte-stuffed, restart-marked JPEG."""

    def to_jpeg(text: str) -> bytes:
        h32 = _h32(text)
        return _jpeg_gray(h32, *_fixture_dims(h32))

    return _encode_docs(docs, to_jpeg)


def image_pixel_stats(payloads: DataFrame) -> DataFrame:
    """Binary image payload → true pixel statistics via the real decoder.

    Per image: dimensions from the decoded header, exact per-channel
    integer sums, byte min/max, and mean luma in exact milli units
    ((1000 * channel total) div (channels * n_pixels)). Arrow-batched
    mapInPandas; numpy does the per-image channel folds.
    """

    def stats(doc_id: int, payload: bytes) -> Iterator[tuple]:
        w, h, nch, raster = decode_image(bytes(payload))
        a = np.frombuffer(raster, dtype=np.uint8).astype(np.int64)
        if nch == 4:
            # RGBA: stats are over the color planes; alpha is opacity
            # metadata, not luminance.
            a = a.reshape(-1, 4)[:, :3].reshape(-1)
            nch = 3
        if nch == 3:
            sums = (int(a[0::3].sum()), int(a[1::3].sum()),
                    int(a[2::3].sum()))
        else:
            s = int(a.sum())
            sums = (s, s, s)
        n_px = w * h
        yield (doc_id, w, h, n_px, *sums, int(a.min()), int(a.max()),
               (1000 * sum(sums)) // (3 * n_px))

    return _map_rows(payloads, ["doc_id", "payload"], PIXEL_STATS_SCHEMA,
                     stats)


def attach_payload(docs: DataFrame) -> DataFrame:
    """documents → (doc_id, payload binary) via Arrow-batched mapInPandas.

    Payload is the UTF-8 document text — a deterministic stand-in for
    image bytes that keeps the pipeline verifiable.
    """
    return _encode_docs(docs, lambda t: t.encode("utf-8"))


def extract_features(payloads: DataFrame) -> DataFrame:
    """Binary payload → deterministic fake media features.

    Width/height/frame-count derive from the payload md5, standing in
    for a real decoder's outputs (dimension probe, frame sampling).
    Pure column expressions: no Python worker.
    """
    md5 = F.md5("payload")
    h32 = F.conv(F.substring(md5, 1, 8), 16, 10).cast("bigint")
    return payloads.select(
        "doc_id",
        F.length("payload").cast("bigint").alias("n_bytes"),
        md5.alias("content_hash"),
        (1 + h32 % 1920).cast("int").alias("fake_width"),
        (1 + h32 % 1080).cast("int").alias("fake_height"),
        (1 + h32 % 16).cast("int").alias("fake_n_frames"),
    )


TARGET_EDGE = 256


def resize_images(features: DataFrame, target_edge: int = TARGET_EDGE) -> DataFrame:
    """Aspect-preserving resize geometry (longest edge → target) over the
    REAL decoded dimensions from ``image_pixel_stats``.

    Computes the exact output geometry a resampler uses, as integer
    arithmetic (floor(dim * target / long_edge)) in column expressions.
    The pixel resampling pass itself would slot in beside this math once
    a codec/resampler library exists; scale is carried as an exact
    rational (target/long_edge) so downstream stays engine-exact.
    """
    t = int(target_edge)
    long_edge = "greatest(CAST(width AS BIGINT), CAST(height AS BIGINT))"
    return features.select(
        "doc_id",
        F.expr(f"div(CAST(width AS BIGINT) * {t}, {long_edge})")
        .cast("int").alias("out_width"),
        F.expr(f"div(CAST(height AS BIGINT) * {t}, {long_edge})")
        .cast("int").alias("out_height"),
        F.lit(t).cast("bigint").alias("scale_num"),
        F.expr(long_edge).alias("scale_den"),
    )


FRAME_SCHEMA = StructType([
    StructField("doc_id", LongType()),
    StructField("frame_idx", IntegerType()),
    StructField("frame_hash", StringType()),
])

FRAME_STRIDE = 4


def sample_frames(features: DataFrame, stride: int = FRAME_STRIDE) -> DataFrame:
    """Every ``stride``-th frame index per video payload (frame 0 always
    included) — the fan-out stage of a video pipeline. One output row
    per sampled frame; frame bytes are faked as md5(content_hash ||
    frame_idx) where a real decoder would emit the frame tensor. The
    fan-out happens inside the Arrow batch, so output partitioning
    follows the parent payload (no shuffle).
    """

    def frames(doc_id: int, n: int, chash: str) -> Iterator[tuple]:
        for i in range(0, int(n), stride):
            yield doc_id, i, hashlib.md5(f"{chash}|{i}".encode()).hexdigest()

    return _map_rows(features, ["doc_id", "fake_n_frames", "content_hash"],
                     FRAME_SCHEMA, frames)


def frame_dedup_stats(frames: DataFrame) -> DataFrame:
    """Cross-video frame dedup: per video, how many of its sampled
    frames occur in ANY other video — the video counterpart of
    chunk-level text dedup (shared intros/outros/stock footage at
    production scale). Same two uniform-hash-key shuffles as
    ``chunk_dedup_stats``: a frame-hash count with map-side combine,
    then the per-video rollup.
    """
    counts = frames.groupBy("frame_hash").agg(
        F.count(F.lit(1)).alias("global_count")
    )
    per_video = (
        frames.join(counts, "frame_hash")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("int").alias("n_frames"),
            F.sum((F.col("global_count") > 1).cast("int")).cast("int")
            .alias("n_shared_frames"),
        )
    )
    return per_video.select(
        "doc_id", "n_frames", "n_shared_frames",
        (F.col("n_shared_frames") / F.col("n_frames")).alias("shared_ratio"),
    )


# ---------------------------------------------------------------------------
# Perceptual image near-dup: dHash (difference hash, the public
# perceptual-hash family — 9×8 luma downsample, row-wise gradient sign
# bits) over the REAL netpbm decoder. Catches re-encoded / brightness-
# shifted duplicates whose content hash differs — the case
# frame_dedup_stats' exact hashing cannot see.
#
# Scale shape (100 TB): hashing is Arrow-batched mapInPandas (decode +
# downsample + 64-bit pack, map-only); candidate generation reuses the
# SimHash pigeonhole blocking — any pair within Hamming ≤ 3 must agree
# on one of four 16-bit fingerprint segments, so the join key is
# (segment, value) with bounded buckets, never an image all-pairs.
# The downsample is nearest-neighbor point sampling (x = gx·w/9,
# y = gy·h/8, integer floor) — exact-integer, so the DuckDB oracle
# regenerates the identical hash from the fixture-image arithmetic
# without touching the binary (same re-derivation contract as
# multimodal_features).
# ---------------------------------------------------------------------------

DHASH_GRID_W = 9
DHASH_GRID_H = 8
DHASH_HAMMING = 3
#: Saturating brightness shift for the injected near-dup copies —
#: divisible by 3, so unsaturated luma shifts uniformly and gradient
#: signs survive (only pixels clipped at 255 can flip bits).
DHASH_BRIGHTEN = 6
#: Every DHASH_COPY_MOD-th doc gets a brightened copy.
DHASH_COPY_MOD = 5

DHASH_SCHEMA = StructType([
    StructField("doc_id", LongType()),
    StructField("dhash", LongType()),
    StructField("content_hash", StringType()),
])


def image_dhash(payloads: DataFrame) -> DataFrame:
    """Binary image payload → 64-bit dHash (signed BIGINT, bit 63 via
    two's complement like simhash) + payload content hash.

    bit[gy*8+gx] = 1 iff luma(gy, gx+1) > luma(gy, gx) on the 9×8
    point-sampled integer luma grid (luma = (r+g+b)//3).
    """

    def dh(doc_id: int, payload: bytes) -> Iterator[tuple]:
        data = bytes(payload)
        w, h, nch, raster = decode_image(data)
        a = np.frombuffer(raster, dtype=np.uint8).astype(np.int64)
        luma = (a[0::3] + a[1::3] + a[2::3]) // 3 if nch == 3 else a
        xs = [gx * w // DHASH_GRID_W for gx in range(DHASH_GRID_W)]
        ys = [gy * h // DHASH_GRID_H for gy in range(DHASH_GRID_H)]
        grid = [[int(luma[y * w + x]) for x in xs] for y in ys]
        d = 0
        for gy in range(DHASH_GRID_H):
            for gx in range(DHASH_GRID_W - 1):
                if grid[gy][gx + 1] > grid[gy][gx]:
                    d |= 1 << (gy * 8 + gx)
        if d >= 1 << 63:
            d -= 1 << 64
        yield doc_id, d, hashlib.md5(data).hexdigest()

    return _map_rows(payloads, ["doc_id", "payload"], DHASH_SCHEMA, dh)


#: Segment buckets beyond this population are dropped before pair
#: expansion (the MinHash MAX_BUCKET_SIZE convention): a degenerate
#: perceptual bucket — flat or near-flat images all hashing alike, the
#: fixture's 1-pixel-wide images being the in-repo example — would
#: otherwise expand quadratically. Mirrored exactly in the oracle.
DHASH_MAX_BUCKET = 10_000


def dhash_neardup_pairs(docs: DataFrame,
                        max_hamming: int = DHASH_HAMMING,
                        max_bucket_size: int = DHASH_MAX_BUCKET) -> DataFrame:
    """(d1, d2, hamming) image near-dup pairs via segment-blocked dHash.

    Fixture: base corpus ∪ brightness-shifted copies of every
    DHASH_COPY_MOD-th doc — re-encodes with a DIFFERENT content hash
    that dHash must still pair with the original. Blocking is the
    simhash pigeonhole (Hamming ≤ 3 ⇒ one of four 16-bit segments
    equal); pair generation groups bucket members and expands in-bucket
    combinations (the minhash_candidate_pairs shape), so the decode +
    hash pipeline — the dominant cost — runs ONCE in a single dataflow
    with one shuffle on the bucket key, not once per self-join side.
    Within the bucket cap the result equals all-pairs + filter exactly.
    """
    base = docs.select("doc_id", "text")
    copies = base.filter(F.col("doc_id") % DHASH_COPY_MOD == 0).select(
        (F.col("doc_id") + COPY_OFFSET).alias("doc_id"), "text"
    )
    sigs = image_dhash(attach_image_payload(base)).unionAll(
        image_dhash(attach_image_payload(copies, brighten=DHASH_BRIGHTEN))
    )
    n_seg = max_hamming + 1
    seg_bits = 64 // n_seg
    mask = (1 << seg_bits) - 1
    segs = F.array(*[
        F.struct(
            F.lit(s).alias("seg"),
            F.shiftright(F.col("dhash"), s * seg_bits)
            .bitwiseAND(mask).alias("seg_val"),
        )
        for s in range(n_seg)
    ])
    grouped = (
        sigs.select("doc_id", "dhash", F.explode(segs).alias("b"))
        .groupBy(F.col("b.seg").alias("seg"),
                 F.col("b.seg_val").alias("seg_val"))
        .agg(F.sort_array(
            F.collect_list(F.struct("doc_id", "dhash"))).alias("ids"))
        .filter((F.size("ids") >= 2)
                & (F.size("ids") <= F.lit(max_bucket_size)))
    )
    # ids is doc_id-sorted, so successor pairing yields d1 < d2 once
    # per bucket; distinct collapses pairs sharing several segments.
    pairs = grouped.select(
        F.explode(
            F.expr(
                "flatten(transform(ids, (x, i) -> "
                "transform(slice(ids, i + 2, size(ids) - i - 1), "
                "y -> struct(x.doc_id AS d1, y.doc_id AS d2, "
                "x.dhash AS h1, y.dhash AS h2))))"
            )
        ).alias("p")
    ).select("p.d1", "p.d2", "p.h1", "p.h2")
    ham = F.bit_count(F.col("h1").bitwiseXOR(F.col("h2")))
    return (
        pairs.select("d1", "d2", ham.alias("hamming"))
        .filter(F.col("hamming") <= max_hamming)
        .distinct()
    )


def _decoded(stats: Callable[[DataFrame], DataFrame],
             attach: Callable[[DataFrame], DataFrame]):
    """Catalog builder: documents → ``attach`` fixture payloads →
    ``stats``."""

    def build(spark: SparkSession, sf_dir: str) -> DataFrame:
        return stats(attach(load(spark, sf_dir, "documents")))

    return build


def _resize_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    return resize_images(image_pixel_stats(attach_image_payload(docs)))


def _frames_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    return sample_frames(extract_features(attach_payload(docs)))


def _frame_dedup_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Partial copy injection: every 5th payload gets a duplicate, so the
    # fixture (which has no naturally identical videos) exercises BOTH
    # branches — copied videos share every frame, the rest share none.
    base = load(spark, sf_dir, "documents").select("doc_id", "text")
    copies = base.filter(F.col("doc_id") % 5 == 0).select(
        (F.col("doc_id") + COPY_OFFSET).alias("doc_id"), "text"
    )
    docs = base.unionAll(copies)
    return frame_dedup_stats(
        sample_frames(extract_features(attach_payload(docs)))
    )


def _dhash_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dhash_neardup_pairs(load(spark, sf_dir, "documents"))


# dHash oracle: regenerates the 9×8 point-sampled luma grid from the
# fixture-image arithmetic (including the saturating brighten of the
# injected copies), packs the 64 gradient bits identically, and then
# mirrors the SEGMENT BLOCKING + bucket cap (not blocking-free
# all-pairs): within the cap the result equals all-pairs + filter, and
# mirroring the cap keeps the oracle exact at any corpus size where a
# degenerate bucket overflows (the minhash_candidate_pairs convention).
_DHASH_SQL = f"""
WITH all_docs AS (
  SELECT doc_id, text, 0 AS bright FROM documents
  UNION ALL
  SELECT doc_id + {COPY_OFFSET} AS doc_id, text, {DHASH_BRIGHTEN} AS bright
  FROM documents WHERE doc_id % {DHASH_COPY_MOD} = 0
), dims AS (
  SELECT doc_id, bright,
         CAST(concat('0x', substring(md5(text), 1, 8)) AS BIGINT) AS h32,
         1 + CAST(concat('0x', substring(md5(text), 1, 8)) AS BIGINT)
             % {IMG_W_MOD} AS w,
         1 + CAST(concat('0x', substring(md5(text), 1, 8)) AS BIGINT)
             % {IMG_H_MOD} AS h
  FROM all_docs
), px AS (
  SELECT doc_id, bright, h32, tgy.gy AS gy, tgx.gx AS gx,
         3 * (((tgy.gy * h) // {DHASH_GRID_H}) * w
              + ((tgx.gx * w) // {DHASH_GRID_W})) AS bi
  FROM dims,
       range(0, {DHASH_GRID_H}) AS tgy(gy),
       range(0, {DHASH_GRID_W}) AS tgx(gx)
), grid AS (
  SELECT doc_id, gy, gx,
         (least((h32 + {PIXEL_STRIDE} * (bi + 0)) % 256 + bright, 255)
        + least((h32 + {PIXEL_STRIDE} * (bi + 1)) % 256 + bright, 255)
        + least((h32 + {PIXEL_STRIDE} * (bi + 2)) % 256 + bright, 255))
         // 3 AS luma
  FROM px
), bits AS (
  SELECT l.doc_id, l.gy * 8 + l.gx AS j,
         CASE WHEN r.luma > l.luma THEN 1 ELSE 0 END AS bit
  FROM grid l JOIN grid r
    ON l.doc_id = r.doc_id AND l.gy = r.gy AND r.gx = l.gx + 1
  WHERE l.gx < {DHASH_GRID_W - 1}
), packed AS (
  SELECT doc_id,
         CAST(SUM(CASE WHEN bit = 1 AND j = 63
                       THEN (-9223372036854775807 - 1)
                       WHEN bit = 1 THEN (CAST(1 AS BIGINT) << j)
                       ELSE 0 END) AS BIGINT) AS dhash
  FROM bits GROUP BY 1
), segs AS (
  SELECT doc_id, dhash, ts.seg AS seg,
         (dhash >> (ts.seg * 16)) & 65535 AS seg_val
  FROM packed, range(0, {DHASH_HAMMING + 1}) AS ts(seg)
), buckets AS (
  SELECT seg, seg_val, COUNT(*) AS n FROM segs GROUP BY 1, 2
), cand AS (
  SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2,
         a.dhash AS h1, b.dhash AS h2
  FROM segs a
  JOIN segs b ON a.seg = b.seg AND a.seg_val = b.seg_val
             AND a.doc_id < b.doc_id
  JOIN buckets s ON s.seg = a.seg AND s.seg_val = a.seg_val
  WHERE s.n <= {DHASH_MAX_BUCKET}
)
SELECT d1, d2, CAST(bit_count(xor(h1, h2)) AS INT) AS hamming
FROM cand
WHERE bit_count(xor(h1, h2)) <= {DHASH_HAMMING}
"""


# ---------------------------------------------------------------------------
# Real audio decode path: pure-Python RIFF/WAVE (PCM16 mono) codec —
# the audio analogue of the netpbm image codec above. The RIFF chunk
# grammar parses with stdlib struct alone, so like netpbm it is the
# honest de-stubbed decoder for this environment: real chunk walk,
# real size validation (truncation AND trailing garbage rejected, the
# decode_ppm convention), real int16 samples out. Compressed formats
# (MP3/AAC/FLAC) would need codec libraries the sandbox lacks and stay
# a declared NotImplementedError in decode_audio.
#
# Fixture synthesis mirrors attach_image_payload: sample count and the
# waveform are pure functions of md5(text) (n = AUDIO_MIN_SAMPLES +
# h32 % AUDIO_N_MOD; sample i = (h32 + AUDIO_STRIDE·i) % 4096 − 2048,
# a full-scale-1/8 sawtooth with negative excursions), so the oracle
# regenerates the identical signal in SQL and a decoder bug — wrong
# chunk offset, wrong endianness, dropped sample — breaks the hash
# match even though the oracle never touches the bytes.
# ---------------------------------------------------------------------------

AUDIO_RATE = 8000
AUDIO_MIN_SAMPLES = 16
AUDIO_N_MOD = 241
AUDIO_STRIDE = 11

#: IMA-ADPCM quantizer tables (IMA Digital Audio Focus Group, 1992 —
#: the standard step/index tables every format-17 WAV implementation
#: shares). 89 step sizes; the index delta keys on the 3 magnitude
#: bits of the nibble.
IMA_STEP_TABLE = (
    7, 8, 9, 10, 11, 12, 13, 14, 16, 17,
    19, 21, 23, 25, 28, 31, 34, 37, 41, 45,
    50, 55, 60, 66, 73, 80, 88, 97, 107, 118,
    130, 143, 157, 173, 190, 209, 230, 253, 279, 307,
    337, 371, 408, 449, 494, 544, 598, 658, 724, 796,
    876, 963, 1060, 1166, 1282, 1411, 1552, 1707, 1878, 2066,
    2272, 2499, 2749, 3024, 3327, 3660, 4026, 4428, 4871, 5358,
    5894, 6484, 7132, 7845, 8630, 9493, 10442, 11487, 12635, 13899,
    15289, 16818, 18500, 20350, 22385, 24623, 27086, 29794, 32767,
)
IMA_INDEX_TABLE = (-1, -1, -1, -1, 2, 4, 6, 8)


def _ima_decode_nibble(nibble: int, pred: int, idx: int) -> tuple[int, int]:
    """One IMA-ADPCM decode step: (nibble, state) → (sample, new index).

    Canonical bit-form difference: diff = step>>3, plus step>>2 /
    step>>1 / step for magnitude bits 0/1/2, negated on the sign bit;
    predictor clamps to int16, index to [0, 88].
    """
    step = IMA_STEP_TABLE[idx]
    diff = step >> 3
    if nibble & 1:
        diff += step >> 2
    if nibble & 2:
        diff += step >> 1
    if nibble & 4:
        diff += step
    pred = pred - diff if nibble & 8 else pred + diff
    pred = max(-32768, min(32767, pred))
    idx = max(0, min(88, idx + IMA_INDEX_TABLE[nibble & 7]))
    return pred, idx


def ima_adpcm_decode_block(pred0: int, idx0: int,
                           nibbles: "list[int]") -> "list[int]":
    """Decode one IMA block: the header predictor is emitted as the
    first sample, then each nibble yields one sample."""
    samples = [pred0]
    pred, idx = pred0, idx0
    for nib in nibbles:
        pred, idx = _ima_decode_nibble(nib, pred, idx)
        samples.append(pred)
    return samples


def ima_adpcm_encode(samples: "list[int]",
                     pred0: "int | None" = None,
                     idx0: int = 0) -> tuple[int, int, "list[int]"]:
    """True IMA-ADPCM compressor for one block: PCM16 → (pred0, idx0,
    nibbles). The first sample becomes the block header predictor;
    each later sample quantizes its delta with the standard
    step-halving rule, then updates state with the SAME arithmetic the
    decoder uses (so encoder and decoder track bit-identically)."""
    if not samples:
        raise ValueError("cannot encode an empty block")
    pred = samples[0] if pred0 is None else pred0
    idx = max(0, min(88, idx0))
    head = (pred, idx)
    nibbles = []
    for x in samples[1:]:
        step = IMA_STEP_TABLE[idx]
        diff = x - pred
        nib = 0
        if diff < 0:
            nib = 8
            diff = -diff
        if diff >= step:
            nib |= 4
            diff -= step
        if diff >= step >> 1:
            nib |= 2
            diff -= step >> 1
        if diff >= step >> 2:
            nib |= 1
        nibbles.append(nib)
        pred, idx = _ima_decode_nibble(nib, pred, idx)
    return head[0], head[1], nibbles


def mulaw_decode_byte(b: int) -> int:
    """G.711 μ-law byte → linear PCM16 (the standard CCITT expansion:
    complement, split exponent/mantissa, bias 0x84 = 132)."""
    b = ~b & 0xFF
    sign = b & 0x80
    exp = (b >> 4) & 0x07
    mant = b & 0x0F
    val = ((mant << 3) + 0x84) << exp
    val -= 0x84
    return -val if sign else val


def mulaw_encode_sample(x: int) -> int:
    """Linear PCM16 → G.711 μ-law byte (clip, bias, priority-encode
    the exponent, complement) — the exact inverse path of
    ``mulaw_decode_byte`` up to quantization."""
    sign = 0x80 if x < 0 else 0
    if x < 0:
        x = -x
    x = min(x, 32635)
    x += 0x84
    exp = 7
    mask = 0x4000
    while exp > 0 and not x & mask:
        exp -= 1
        mask >>= 1
    mant = (x >> (exp + 3)) & 0x0F
    return ~(sign | (exp << 4) | mant) & 0xFF


def alaw_decode_byte(b: int) -> int:
    """G.711 A-law byte → linear PCM16 (toggle even bits with 0x55,
    exponent/mantissa expansion; a SET sign bit means positive in
    A-law — 0xD5 → +8, 0x55 → −8)."""
    b ^= 0x55
    sign = b & 0x80
    exp = (b >> 4) & 0x07
    mant = b & 0x0F
    if exp == 0:
        val = (mant << 4) + 8
    else:
        val = ((mant << 4) + 0x108) << (exp - 1)
    return val if sign else -val


#: Exact inverse of ``alaw_decode_byte`` on its own outputs, nearest
#: quantization level otherwise (256-entry reverse map — decode is the
#: hot path; encode only builds fixtures).
_ALAW_LEVELS: "list[tuple[int, int]] | None" = None


def alaw_encode_sample(x: int) -> int:
    """Linear PCM16 → G.711 A-law byte (nearest companded level;
    exact involution with the decoder)."""
    global _ALAW_LEVELS
    if _ALAW_LEVELS is None:
        _ALAW_LEVELS = sorted(
            (alaw_decode_byte(b), b) for b in range(256)
        )
    import bisect

    i = bisect.bisect_left(_ALAW_LEVELS, (x, -1))
    cands = _ALAW_LEVELS[max(0, i - 1):i + 1]
    return min(cands, key=lambda vb: (abs(vb[0] - x), vb[1]))[1]


def encode_wav_g711(sample_rate: int, encoded: bytes,
                    law: str = "mulaw") -> bytes:
    """RIFF/WAVE writer for G.711 (format 7 = μ-law, 6 = A-law), mono
    8-bit: the payload bytes ARE the companded stream."""
    import struct

    fmt_tag = {"mulaw": 7, "alaw": 6}.get(law)
    if fmt_tag is None:
        raise ValueError(f"unknown companding law {law!r}")
    fmt = struct.pack("<HHIIHHH", fmt_tag, 1, sample_rate, sample_rate,
                      1, 8, 0)
    fact = struct.pack("<I", len(encoded))
    body = (b"WAVE"
            + b"fmt " + struct.pack("<I", len(fmt)) + fmt
            + b"fact" + struct.pack("<I", len(fact)) + fact
            + b"data" + struct.pack("<I", len(encoded)) + encoded
            + (b"\x00" if len(encoded) & 1 else b""))
    return b"RIFF" + struct.pack("<I", len(body)) + body


def encode_wav_adpcm(sample_rate: int,
                     blocks: "list[tuple[int, int, list[int]]]") -> bytes:
    """RIFF/WAVE writer for IMA-ADPCM (format 17), mono: each block is
    (initial predictor int16, initial step index, nibble list). All
    blocks must carry the same even nibble count (the WAV block_align
    contract); nibbles pack little-endian (first sample in the LOW
    nibble). Emits the required fmt extension (wSamplesPerBlock) and
    fact chunk (total decoded sample count)."""
    import struct

    if not blocks:
        raise ValueError("need at least one block")
    n_nib = len(blocks[0][2])
    if n_nib == 0 or n_nib % 2:
        raise ValueError(f"nibble count per block must be even and > 0, "
                         f"got {n_nib}")
    if any(len(nibs) != n_nib for _, _, nibs in blocks):
        raise ValueError("all blocks must have the same nibble count")
    n_bytes = n_nib // 2
    block_align = 4 + n_bytes
    samples_per_block = 1 + n_nib
    body = bytearray()
    for pred0, idx0, nibs in blocks:
        if not -32768 <= pred0 <= 32767 or not 0 <= idx0 <= 88:
            raise ValueError(f"invalid block header ({pred0}, {idx0})")
        if any(not 0 <= n <= 15 for n in nibs):
            raise ValueError("nibbles must be 4-bit values")
        body += struct.pack("<hBB", pred0, idx0, 0)
        body += bytes(nibs[i] | (nibs[i + 1] << 4)
                      for i in range(0, n_nib, 2))
    avg_bps = (sample_rate * block_align) // samples_per_block
    fmt = struct.pack("<HHIIHHHH", 17, 1, sample_rate, avg_bps,
                      block_align, 4, 2, samples_per_block)
    fact = struct.pack("<I", samples_per_block * len(blocks))
    data = bytes(body)
    chunks = (b"WAVE"
              + b"fmt " + struct.pack("<I", len(fmt)) + fmt
              + b"fact" + struct.pack("<I", len(fact)) + fact
              + b"data" + struct.pack("<I", len(data)) + data
              + (b"\x00" if len(data) & 1 else b""))
    return b"RIFF" + struct.pack("<I", len(chunks)) + chunks


def encode_wav(sample_rate: int, samples: "list[int]") -> bytes:
    """RIFF/WAVE writer: PCM format 1, mono, 16-bit little-endian."""
    import struct

    data = b"".join(struct.pack("<h", s) for s in samples)
    fmt = struct.pack("<HHIIHH", 1, 1, sample_rate, sample_rate * 2, 2, 16)
    body = (b"WAVE"
            + b"fmt " + struct.pack("<I", len(fmt)) + fmt
            + b"data" + struct.pack("<I", len(data)) + data)
    return b"RIFF" + struct.pack("<I", len(body)) + body


def decode_wav(payload: bytes) -> tuple[int, int, "list[int]"]:
    """Parse a WAV → (sample_rate, n_channels, samples): PCM16 (format
    1) or mono IMA-ADPCM (format 17, block-structured nibble decode
    through the standard step/index tables, fact-chunk cross-checked).

    Validates the full RIFF grammar: magic, declared RIFF size ==
    actual remainder (trailing bytes after the RIFF body are rejected,
    matching decode_ppm's exact-length rule), chunk sizes in bounds,
    exactly one fmt and one data chunk, data length a whole number of
    frames (PCM) or blocks (ADPCM).
    """
    import struct

    data = bytes(payload)
    if len(data) < 12 or data[:4] != b"RIFF":
        raise ValueError(f"not a RIFF payload: magic {data[:4]!r}")
    (riff_size,) = struct.unpack_from("<I", data, 4)
    if 8 + riff_size != len(data):
        raise ValueError(
            f"RIFF size {riff_size} != payload remainder {len(data) - 8}"
        )
    if data[8:12] != b"WAVE":
        raise ValueError(f"not a WAVE form: {data[8:12]!r}")
    pos, fmt_body, pcm, fact = 12, None, None, None
    while pos < len(data):
        if pos + 8 > len(data):
            raise ValueError("truncated chunk header")
        cid = data[pos:pos + 4]
        (csize,) = struct.unpack_from("<I", data, pos + 4)
        body = data[pos + 8:pos + 8 + csize]
        if len(body) != csize:
            raise ValueError(f"chunk {cid!r} truncated: "
                             f"{len(body)} of {csize} bytes")
        if cid == b"fmt ":
            if fmt_body is not None:
                raise ValueError("duplicate fmt chunk")
            if csize < 16:
                raise ValueError(f"fmt chunk too short: {csize}")
            fmt_body = body
        elif cid == b"data":
            if pcm is not None:
                raise ValueError("duplicate data chunk")
            pcm = body
        elif cid == b"fact":
            if csize < 4:
                raise ValueError(f"fact chunk too short: {csize}")
            (fact,) = struct.unpack_from("<I", body, 0)
        pos += 8 + csize + (csize & 1)   # chunks are word-aligned
    if fmt_body is None or pcm is None:
        raise ValueError("missing fmt or data chunk")
    audio_fmt, n_channels, rate, _, block_align, bits = \
        struct.unpack_from("<HHIIHH", fmt_body, 0)
    if audio_fmt == 1 and bits == 16:
        if len(pcm) % (2 * n_channels):
            raise ValueError(f"data size {len(pcm)} not whole frames")
        samples = list(struct.unpack(f"<{len(pcm) // 2}h", pcm))
        return rate, n_channels, samples
    if audio_fmt == 17 and bits == 4:
        # IMA-ADPCM (WAV format 17), mono: per-block int16 predictor +
        # step-index header, then packed nibbles (low nibble first).
        if n_channels != 1:
            raise NotImplementedError(
                "only mono IMA-ADPCM decodes here (stereo interleaves "
                "nibbles per-channel in 4-byte words)"
            )
        if len(fmt_body) < 20:
            raise ValueError("IMA-ADPCM fmt chunk missing the "
                             "wSamplesPerBlock extension")
        (spb,) = struct.unpack_from("<H", fmt_body, 18)
        if block_align < 5:
            raise ValueError(f"block_align {block_align} too small")
        if spb != 1 + 2 * (block_align - 4):
            raise ValueError(
                f"samples_per_block {spb} inconsistent with "
                f"block_align {block_align} "
                f"(expect {1 + 2 * (block_align - 4)})"
            )
        if not pcm or len(pcm) % block_align:
            raise ValueError(
                f"data size {len(pcm)} not whole {block_align}-byte "
                "blocks"
            )
        samples: "list[int]" = []
        for off in range(0, len(pcm), block_align):
            pred0, idx0, _rsv = struct.unpack_from("<hBB", pcm, off)
            if idx0 > 88:
                raise ValueError(f"step index {idx0} out of range")
            packed = pcm[off + 4:off + block_align]
            nibbles = []
            for byte in packed:
                nibbles.append(byte & 0x0F)
                nibbles.append(byte >> 4)
            samples.extend(ima_adpcm_decode_block(pred0, idx0, nibbles))
        if fact is not None and fact != len(samples):
            raise ValueError(
                f"fact chunk declares {fact} samples, decoded "
                f"{len(samples)}"
            )
        return rate, n_channels, samples
    if audio_fmt in (6, 7) and bits == 8:
        # G.711 companded telephony audio: 7 = μ-law, 6 = A-law; each
        # byte expands to one PCM16 sample through the standard
        # integer formula — no tables, no libraries.
        if n_channels != 1:
            raise NotImplementedError("only mono G.711 decodes here")
        expand = mulaw_decode_byte if audio_fmt == 7 else alaw_decode_byte
        samples = [expand(b) for b in pcm]
        if fact is not None and fact != len(samples):
            raise ValueError(
                f"fact chunk declares {fact} samples, decoded "
                f"{len(samples)}"
            )
        return rate, n_channels, samples
    raise NotImplementedError(
        f"only PCM16, mono IMA-ADPCM and mono G.711 (mu/A-law) "
        f"supported, got format {audio_fmt}/{bits}-bit "
        "(other codecs need libraries this environment lacks)"
    )


def decode_audio(payload: bytes) -> tuple[int, int, "list[int]"]:
    """Decode an audio payload. Real paths: RIFF/WAVE (PCM16, mono
    IMA-ADPCM format 17, mono G.711 formats 6/7) and FLAC (scale/
    flac.py — fixed+LPC subframes, Rice residuals, stereo
    decorrelation, CRC+MD5 verified). Perceptual codecs (MP3/AAC) are
    a declared gap (no codec libraries in this sandbox)."""
    head = bytes(payload[:4])
    if head == b"RIFF":
        return decode_wav(payload)
    if head == FLAC_MAGIC:
        return decode_flac(payload)
    raise NotImplementedError(
        f"no codec for magic {head!r}: only RIFF/WAVE and FLAC "
        "decode here"
    )


#: IMA-ADPCM fixture geometry: per doc, 1–2 blocks of a shared data
#: size, with block headers and the nibble stream all pure functions of
#: md5(text) — so the DuckDB oracle re-runs the decoder state machine
#: in a recursive CTE without ever touching the bytes. Nibble-level
#: synthesis (not PCM-level) keeps the contract exact: ADPCM is lossy
#: forward, but decode-of-known-nibbles is deterministic.
ADPCM_BLOCK_MOD = 2
ADPCM_BYTES_MIN = 8
ADPCM_BYTES_MOD = 57


def attach_audio_payload_adpcm(docs: DataFrame) -> DataFrame:
    """documents → (doc_id, payload binary): a REAL IMA-ADPCM WAV
    (format 17, mono) per doc. Block b of doc with md5-prefix h32:
    predictor = (h32 + 97·b) % 4096 − 2048, step index =
    (h32 + 17·b) % 89, and global nibble g = (h32 + 13·g) % 16 —
    deterministic, so the oracle regenerates the identical bitstream
    and a decoder bug (wrong clamp, wrong table row, swapped nibble
    order, missing header sample) breaks the hash match."""

    def to_adpcm(text: str) -> bytes:
        h32 = _h32(text)
        nbytes = ADPCM_BYTES_MIN + h32 % ADPCM_BYTES_MOD
        blocks = [
            ((h32 + 97 * b) % 4096 - 2048, (h32 + 17 * b) % 89,
             [(h32 + 13 * (b * 2 * nbytes + j)) % 16
              for j in range(2 * nbytes)])
            for b in range(1 + h32 % ADPCM_BLOCK_MOD)
        ]
        return encode_wav_adpcm(AUDIO_RATE, blocks)

    return _encode_docs(docs, to_adpcm)


def attach_audio_payload(docs: DataFrame) -> DataFrame:
    """documents → (doc_id, payload binary): a REAL PCM16 WAV per doc,
    waveform a pure function of md5(text) (see the section note)."""

    def to_wav(text: str) -> bytes:
        h32 = _h32(text)
        n = AUDIO_MIN_SAMPLES + h32 % AUDIO_N_MOD
        return encode_wav(AUDIO_RATE, [(h32 + AUDIO_STRIDE * i) % 4096 - 2048
                                       for i in range(n)])

    return _encode_docs(docs, to_wav)


AUDIO_STATS_SCHEMA = StructType([
    StructField("doc_id", LongType()),
    StructField("n_samples", IntegerType()),
    StructField("sample_rate", IntegerType()),
    StructField("peak_abs", IntegerType()),
    StructField("sum_abs", LongType()),
    StructField("energy", LongType()),
    StructField("mean_abs_milli", LongType()),
])


def _signal_stats(doc_id: int, rate: int, samples) -> tuple:
    """One ``AUDIO_STATS_SCHEMA`` row: sample count, peak |x|, exact
    integer |x| sum and x² energy, mean |x| in exact milli units."""
    a = np.asarray(samples, dtype=np.int64)
    sum_abs = int(np.abs(a).sum())
    return (doc_id, len(a), rate, int(np.abs(a).max()), sum_abs,
            int((a * a).sum()), (1000 * sum_abs) // len(a))


def audio_stats(payloads: DataFrame) -> DataFrame:
    """Binary WAV payload → true signal statistics via the real decoder:
    sample count, peak |amplitude|, exact integer |x| sum and x² energy,
    mean |x| in exact milli units. Arrow-batched mapInPandas, map-only."""

    def stats(doc_id: int, payload: bytes) -> Iterator[tuple]:
        rate, _, samples = decode_audio(bytes(payload))
        yield _signal_stats(doc_id, rate, samples)

    return _map_rows(payloads, ["doc_id", "payload"], AUDIO_STATS_SCHEMA,
                     stats)


#: μ-law fixture: companded byte i = (h32 + 29·i) % 256 — the payload
#: bytes themselves are the md5-derived stream, so the oracle expands
#: them with the same closed-form G.711 formula in SQL.
MULAW_STRIDE = 29


def attach_audio_payload_mulaw(docs: DataFrame) -> DataFrame:
    """documents → (doc_id, payload binary): a REAL G.711 μ-law WAV
    (format 7, mono 8-bit) per doc; sample count reuses the PCM
    fixture geometry."""

    def to_mulaw(text: str) -> bytes:
        h32 = _h32(text)
        n = AUDIO_MIN_SAMPLES + h32 % AUDIO_N_MOD
        enc = bytes((h32 + MULAW_STRIDE * i) % 256 for i in range(n))
        return encode_wav_g711(AUDIO_RATE, enc, "mulaw")

    return _encode_docs(docs, to_mulaw)


# The oracle expands each regenerated companded byte with the G.711
# μ-law closed form — complement, exponent (bits 4-6), mantissa, bias
# 132 — entirely in SQL, so any Spark-side expansion bug (wrong bias,
# wrong shift, sign slip) diverges the exact-integer stats.
_MULAW_STATS_SQL = f"""
WITH h AS (
  SELECT doc_id,
         CAST(concat('0x', substring(md5(text), 1, 8)) AS BIGINT) AS h32
  FROM documents
), meta AS (
  SELECT doc_id, h32,
         {AUDIO_MIN_SAMPLES} + h32 % {AUDIO_N_MOD} AS n
  FROM h
), c AS (
  SELECT doc_id, n,
         255 - ((h32 + {MULAW_STRIDE} * i) % 256) AS cb
  FROM meta, unnest(range(0, n)) AS t(i)
), x AS (
  SELECT doc_id, n,
         CASE WHEN cb >= 128 THEN -v ELSE v END AS x
  FROM (
    SELECT doc_id, n, cb,
           (((cb % 16) * 8 + 132) * (1 << ((cb // 16) % 8))) - 132 AS v
    FROM c
  )
)
SELECT doc_id,
       CAST(MAX(n) AS INT) AS n_samples,
       CAST({AUDIO_RATE} AS INT) AS sample_rate,
       CAST(MAX(abs(x)) AS INT) AS peak_abs,
       CAST(SUM(abs(x)) AS BIGINT) AS sum_abs,
       CAST(SUM(x * x) AS BIGINT) AS energy,
       CAST((1000 * SUM(abs(x))) // MAX(n) AS BIGINT) AS mean_abs_milli
FROM x GROUP BY 1
"""


#: FLAC fixture: STEREO — left reuses the PCM waveform, right walks a
#: coprime stride, and the payload is mid/side-decorrelated FLAC so the
#: gate exercises the full decode stack (frame sync, fixed predictors,
#: Rice residuals, the mid/side integer reconstruction, CRC-8/16 and
#: the STREAMINFO MD5). FLAC is lossless, so the oracle recomputes the
#: decoded stats from the closed-form waveform without parsing a byte.
FLAC_STRIDE_R = 23


def attach_audio_payload_flac(docs: DataFrame) -> DataFrame:
    """documents → (doc_id, payload binary): a REAL stereo FLAC per
    doc. Per-channel length n = AUDIO_MIN_SAMPLES + h32 % AUDIO_N_MOD;
    left[i] = (h32 + AUDIO_STRIDE·i) % 4096 − 2048 (the PCM fixture
    waveform), right[i] = (h32 + FLAC_STRIDE_R·i) % 4096 − 2048;
    encoded mid/side with 192-sample frames (1–2 frames per doc)."""

    def to_flac(text: str) -> bytes:
        h32 = _h32(text)
        # Closed-form channels vectorized: exact int64 arithmetic,
        # interleaved L/R by column stacking.
        i = np.arange(AUDIO_MIN_SAMPLES + h32 % AUDIO_N_MOD, dtype=np.int64)
        inter = np.column_stack((
            (h32 + AUDIO_STRIDE * i) % 4096 - 2048,
            (h32 + FLAC_STRIDE_R * i) % 4096 - 2048,
        )).ravel()
        return encode_flac(AUDIO_RATE, inter, channels=2,
                           stereo_mode="mid_side")

    return _encode_docs(docs, to_flac)


# Lossless codec ⇒ the oracle is the fixture waveform itself: both
# channels' closed forms unioned, stats over all 2n interleaved
# samples. Any decoder bug (predictor slip, Rice sign, mid/side
# reconstruction, CRC letting a corrupt frame through) diverges the
# exact-integer sums.
_FLAC_STATS_SQL = f"""
WITH h AS (
  SELECT doc_id,
         CAST(concat('0x', substring(md5(text), 1, 8)) AS BIGINT) AS h32
  FROM documents
), meta AS (
  SELECT doc_id, h32,
         {AUDIO_MIN_SAMPLES} + h32 % {AUDIO_N_MOD} AS n
  FROM h
), s AS (
  SELECT doc_id, n,
         (h32 + {AUDIO_STRIDE} * i) % 4096 - 2048 AS x
  FROM meta, unnest(range(0, n)) AS t(i)
  UNION ALL
  SELECT doc_id, n,
         (h32 + {FLAC_STRIDE_R} * i) % 4096 - 2048 AS x
  FROM meta, unnest(range(0, n)) AS t(i)
)
SELECT doc_id,
       CAST(2 * MAX(n) AS INT) AS n_samples,
       CAST({AUDIO_RATE} AS INT) AS sample_rate,
       CAST(MAX(abs(x)) AS INT) AS peak_abs,
       CAST(SUM(abs(x)) AS BIGINT) AS sum_abs,
       CAST(SUM(x * x) AS BIGINT) AS energy,
       CAST((1000 * SUM(abs(x))) // (2 * MAX(n)) AS BIGINT)
         AS mean_abs_milli
FROM s GROUP BY 1
"""


_IMA_STEP_VALUES = ", ".join(
    f"({i}, {s})" for i, s in enumerate(IMA_STEP_TABLE)
)

# The oracle runs the IMA-ADPCM decoder state machine itself: a
# recursive CTE carries (predictor, step index) per (doc, block),
# j = −1 is the header sample, and each iteration consumes one
# regenerated nibble — canonical bit-form difference, int16 predictor
# clamp, [0, 88] index clamp, the step table joined by index. A Spark-
# side decode bug anywhere in that state machine diverges the stats.
_ADPCM_STATS_SQL = f"""
WITH RECURSIVE h AS (
  SELECT doc_id,
         CAST(concat('0x', substring(md5(text), 1, 8)) AS BIGINT) AS h32
  FROM documents
), meta AS (
  SELECT doc_id, h32,
         1 + h32 % {ADPCM_BLOCK_MOD} AS nblocks,
         {ADPCM_BYTES_MIN} + h32 % {ADPCM_BYTES_MOD} AS nbytes
  FROM h
), blocks AS (
  SELECT doc_id, h32, nbytes, CAST(t.b AS BIGINT) AS b
  FROM meta, unnest(range(0, nblocks)) AS t(b)
), steps(i, s) AS (
  VALUES {_IMA_STEP_VALUES}
), dec AS (
  SELECT doc_id, h32, nbytes, b,
         CAST(-1 AS BIGINT) AS j,
         CAST((h32 + 97 * b) % 4096 - 2048 AS BIGINT) AS pred,
         CAST((h32 + 17 * b) % 89 AS BIGINT) AS idx
  FROM blocks
  UNION ALL
  SELECT doc_id, h32, nbytes, b, j + 1,
         greatest(-32768, least(32767,
           pred + CASE WHEN nib >= 8 THEN -diff ELSE diff END)),
         greatest(0, least(88, idx +
           CASE WHEN nib % 8 <= 3 THEN -1
                WHEN nib % 8 = 4 THEN 2
                WHEN nib % 8 = 5 THEN 4
                WHEN nib % 8 = 6 THEN 6
                ELSE 8 END))
  FROM (
    SELECT q.doc_id, q.h32, q.nbytes, q.b, q.j, q.pred, q.idx, q.nib,
           s.s // 8
           + CASE WHEN q.nib % 2 = 1 THEN s.s // 4 ELSE 0 END
           + CASE WHEN (q.nib // 2) % 2 = 1 THEN s.s // 2 ELSE 0 END
           + CASE WHEN (q.nib // 4) % 2 = 1 THEN s.s ELSE 0 END AS diff
    FROM (
      SELECT d.*,
             (d.h32 + 13 * (d.b * 2 * d.nbytes + d.j + 1)) % 16 AS nib
      FROM dec d
      WHERE d.j + 1 < 2 * d.nbytes
    ) q JOIN steps s ON s.i = q.idx
  )
)
SELECT doc_id,
       CAST(COUNT(*) AS INT) AS n_samples,
       CAST({AUDIO_RATE} AS INT) AS sample_rate,
       CAST(MAX(abs(pred)) AS INT) AS peak_abs,
       CAST(SUM(abs(pred)) AS BIGINT) AS sum_abs,
       CAST(SUM(pred * pred) AS BIGINT) AS energy,
       CAST((1000 * SUM(abs(pred))) // COUNT(*) AS BIGINT)
         AS mean_abs_milli
FROM dec GROUP BY 1
"""


_AUDIO_STATS_SQL = f"""
WITH h AS (
  SELECT doc_id,
         CAST(concat('0x', substring(md5(text), 1, 8)) AS BIGINT) AS h32
  FROM documents
), meta AS (
  SELECT doc_id, h32,
         {AUDIO_MIN_SAMPLES} + h32 % {AUDIO_N_MOD} AS n
  FROM h
), s AS (
  SELECT doc_id, n,
         (h32 + {AUDIO_STRIDE} * i) % 4096 - 2048 AS x
  FROM meta, unnest(range(0, n)) AS t(i)
)
SELECT doc_id,
       CAST(MAX(n) AS INT) AS n_samples,
       CAST({AUDIO_RATE} AS INT) AS sample_rate,
       CAST(MAX(abs(x)) AS INT) AS peak_abs,
       CAST(SUM(abs(x)) AS BIGINT) AS sum_abs,
       CAST(SUM(x * x) AS BIGINT) AS energy,
       CAST((1000 * SUM(abs(x))) // MAX(n) AS BIGINT) AS mean_abs_milli
FROM s GROUP BY 1
"""


#: Decimation factor for the strided downsample (8 kHz → 1 kHz).
AUDIO_DECIM = 8

#: Energy-gate segmentation: frame = 32 samples; a frame is "voiced"
#: when its Σx² reaches 32 × E[x²] of the fixture's uniform ±2048
#: sawtooth (2048²/3 ≈ 1398101) — i.e. the threshold sits AT the
#: expected energy, so roughly half the frames gate on and off and the
#: island analysis below is non-trivial. Exact integers on both sides.
VAD_FRAME = 32
VAD_ENERGY_THRESH = VAD_FRAME * 1398101

AUDIO_FRAME_SCHEMA = StructType([
    StructField("doc_id", LongType()),
    StructField("frame_idx", IntegerType()),
    StructField("frame_energy", LongType()),
])


def audio_frame_energies(payloads: DataFrame) -> DataFrame:
    """Binary WAV payload → one row per VAD_FRAME-sample frame with its
    exact Σx² energy (the final frame may be partial). Decode + frame
    fold stay inside Arrow batches; everything downstream is plain
    DataFrame ops — the decoded-media-to-relational handoff shape."""

    def frames(doc_id: int, payload: bytes) -> Iterator[tuple]:
        _, _, samples = decode_audio(bytes(payload))
        a = np.asarray(samples, dtype=np.int64)
        for fi in range(0, len(a), VAD_FRAME):
            yield doc_id, fi // VAD_FRAME, int((a[fi:fi + VAD_FRAME] ** 2).sum())

    return _map_rows(payloads, ["doc_id", "payload"], AUDIO_FRAME_SCHEMA,
                     frames)


def audio_vad_segments(payloads: DataFrame) -> DataFrame:
    """Energy-gate voice-activity report per doc: frame count, voiced
    frame count, LONGEST consecutive voiced run (gaps-and-islands:
    island = frame_idx − cumulative voiced count, constant exactly
    across consecutive voiced frames), and exact voiced Σx².

    Scale shape: SINGLE pass over the decoded frame stream — decode
    runs once (a two-branch base⋈runs formulation would decode every
    payload twice), then one doc-keyed window and a two-level agg
    ((doc, island) → doc; all unvoiced frames of a doc collapse into
    one NULL-island group, so the first level stays bounded by the
    voiced-run count). No join anywhere.
    """
    from pyspark.sql import Window

    voiced = F.col("frame_energy") >= VAD_ENERGY_THRESH
    w = (Window.partitionBy("doc_id").orderBy("frame_idx")
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    fr = audio_frame_energies(payloads).withColumn(
        "island",
        F.when(voiced,
               F.col("frame_idx") - F.sum(voiced.cast("int")).over(w)),
    )
    per_island = fr.groupBy("doc_id", "island").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("frame_energy").alias("e_sum"),
    )
    is_run = F.col("island").isNotNull()
    return per_island.groupBy("doc_id").agg(
        F.sum("n").cast("int").alias("n_frames"),
        F.sum(F.when(is_run, F.col("n")).otherwise(F.lit(0)))
        .cast("int").alias("n_voiced"),
        F.coalesce(F.max(F.when(is_run, F.col("n"))), F.lit(0))
        .cast("int").alias("longest_run"),
        F.sum(F.when(is_run, F.col("e_sum")).otherwise(F.lit(0)))
        .alias("voiced_energy"),
    )


_AUDIO_VAD_SQL = f"""
WITH h AS (
  SELECT doc_id,
         CAST(concat('0x', substring(md5(text), 1, 8)) AS BIGINT) AS h32
  FROM documents
), meta AS (
  SELECT doc_id, h32,
         {AUDIO_MIN_SAMPLES} + h32 % {AUDIO_N_MOD} AS n
  FROM h
), s AS (
  SELECT doc_id, i // {VAD_FRAME} AS frame_idx,
         (h32 + {AUDIO_STRIDE} * i) % 4096 - 2048 AS x
  FROM meta, unnest(range(0, n)) AS t(i)
), fr AS (
  SELECT doc_id, frame_idx, SUM(x * x) AS frame_energy
  FROM s GROUP BY 1, 2
), base AS (
  SELECT doc_id,
         CAST(COUNT(*) AS INT) AS n_frames,
         CAST(SUM(CASE WHEN frame_energy >= {VAD_ENERGY_THRESH}
                       THEN 1 ELSE 0 END) AS INT) AS n_voiced,
         CAST(SUM(CASE WHEN frame_energy >= {VAD_ENERGY_THRESH}
                       THEN frame_energy ELSE 0 END) AS BIGINT)
           AS voiced_energy
  FROM fr GROUP BY 1
), voiced AS (
  SELECT doc_id, frame_idx,
         frame_idx - ROW_NUMBER() OVER (PARTITION BY doc_id
                                        ORDER BY frame_idx) AS island
  FROM fr WHERE frame_energy >= {VAD_ENERGY_THRESH}
), runs AS (
  SELECT doc_id, MAX(run_len) AS longest_run FROM (
    SELECT doc_id, island, COUNT(*) AS run_len
    FROM voiced GROUP BY 1, 2
  ) GROUP BY 1
)
SELECT b.doc_id, b.n_frames, b.n_voiced,
       CAST(COALESCE(r.longest_run, 0) AS INT) AS longest_run,
       b.voiced_energy
FROM base b LEFT JOIN runs r ON b.doc_id = r.doc_id
"""


def audio_downsample_stats(payloads: DataFrame) -> DataFrame:
    """Strided decimation (every AUDIO_DECIM-th sample — the audio
    analogue of video frame sampling) followed by the same exact-integer
    stats over the kept samples. Map-only inside Arrow batches."""

    def stats(doc_id: int, payload: bytes) -> Iterator[tuple]:
        rate, _, samples = decode_audio(bytes(payload))
        yield _signal_stats(doc_id, rate // AUDIO_DECIM,
                            samples[::AUDIO_DECIM])

    return _map_rows(payloads, ["doc_id", "payload"], AUDIO_STATS_SCHEMA,
                     stats)


_AUDIO_DOWNSAMPLE_SQL = f"""
WITH h AS (
  SELECT doc_id,
         CAST(concat('0x', substring(md5(text), 1, 8)) AS BIGINT) AS h32
  FROM documents
), meta AS (
  SELECT doc_id, h32,
         {AUDIO_MIN_SAMPLES} + h32 % {AUDIO_N_MOD} AS n
  FROM h
), s AS (
  SELECT doc_id,
         (n + {AUDIO_DECIM - 1}) // {AUDIO_DECIM} AS n_kept,
         (h32 + {AUDIO_STRIDE} * i) % 4096 - 2048 AS x
  FROM meta, unnest(range(0, n, {AUDIO_DECIM})) AS t(i)
)
SELECT doc_id,
       CAST(MAX(n_kept) AS INT) AS n_samples,
       CAST({AUDIO_RATE // AUDIO_DECIM} AS INT) AS sample_rate,
       CAST(MAX(abs(x)) AS INT) AS peak_abs,
       CAST(SUM(abs(x)) AS BIGINT) AS sum_abs,
       CAST(SUM(x * x) AS BIGINT) AS energy,
       CAST((1000 * SUM(abs(x))) // MAX(n_kept) AS BIGINT)
         AS mean_abs_milli
FROM s GROUP BY 1
"""


# The oracle regenerates the synthetic image arithmetic in SQL (dims
# and raster bytes are pure functions of md5(text)) and re-derives the
# pixel statistics per raster byte — so a decoder bug on the Spark side
# (wrong header parse, wrong channel stride, truncated raster) breaks
# the hash match even though the oracle never touches the binary.
_MULTIMODAL_SQL = f"""
WITH h AS (
  SELECT doc_id,
         CAST(concat('0x', substring(md5(text), 1, 8)) AS BIGINT) AS h32
  FROM documents
), dims AS (
  SELECT doc_id, h32,
         CAST(1 + h32 % {IMG_W_MOD} AS BIGINT) AS w,
         CAST(1 + h32 % {IMG_H_MOD} AS BIGINT) AS h
  FROM h
), px AS (
  SELECT doc_id, w, h,
         (h32 + {PIXEL_STRIDE} * i) % 256 AS b,
         i % 3 AS ch
  FROM dims, unnest(range(0, w * h * 3)) AS t(i)
), agg AS (
  SELECT doc_id, MAX(w) AS w, MAX(h) AS h,
         SUM(CASE WHEN ch = 0 THEN b ELSE 0 END) AS sum_r,
         SUM(CASE WHEN ch = 1 THEN b ELSE 0 END) AS sum_g,
         SUM(CASE WHEN ch = 2 THEN b ELSE 0 END) AS sum_b,
         MIN(b) AS min_byte, MAX(b) AS max_byte
  FROM px GROUP BY 1
)
SELECT doc_id,
       CAST(w AS INT) AS width,
       CAST(h AS INT) AS height,
       CAST(w * h AS BIGINT) AS n_pixels,
       CAST(sum_r AS BIGINT) AS sum_r,
       CAST(sum_g AS BIGINT) AS sum_g,
       CAST(sum_b AS BIGINT) AS sum_b,
       CAST(min_byte AS INT) AS min_byte,
       CAST(max_byte AS INT) AS max_byte,
       CAST((1000 * (sum_r + sum_g + sum_b)) // (3 * w * h) AS BIGINT)
         AS mean_luma_milli
FROM agg
"""


# JPEG oracle: regenerates the quantized coefficients from the
# closed-form fixture, then runs the DECODER's arithmetic in SQL —
# dequant (Annex K luminance, zigzag), the exact-integer IDCT as a
# 64-term integer dot product against the shared weight table, the
# +128 level shift, and the [0,255] clamp. The literal zz/wt tables
# below are generated from scale/jpeg.py's constants, so decoder and
# oracle share one source of truth. DuckDB's `//` truncates toward
# zero (unlike Python's floor), so the rounding divide adds a 2^41
# offset (a multiple of the 2^26 divisor, larger than any fixture
# |sum|) to keep the operand positive — truncation == floor there.


def _jpeg_oracle_tables() -> "tuple[str, str, int]":
    """The zz/wt VALUES literals plus the rounding-divide offset shared
    by the JPEG and AVI oracles — generated from scale/jpeg.py's
    constants so decoders and oracles share one source of truth."""
    zz_rows = ", ".join(
        f"({k}, {ZIGZAG[k] // 8}, {ZIGZAG[k] % 8}, "
        f"{QUANT_LUMA[ZIGZAG[k]]})"
        for k in range(64)
    )
    wt_rows = ", ".join(
        f"({u}, {x}, {IDCT_W[u][x]})" for u in range(8) for x in range(8)
    )
    return zz_rows, wt_rows, 1 << 41


def _jpeg_sql() -> str:
    zz_rows, wt_rows, offset = _jpeg_oracle_tables()
    return f"""
WITH h AS (
  SELECT doc_id,
         CAST(concat('0x', substring(md5(text), 1, 8)) AS BIGINT) AS h32
  FROM documents
), dims AS (
  SELECT doc_id, h32,
         CAST(1 + h32 % {IMG_W_MOD} AS BIGINT) AS w,
         CAST(1 + h32 % {IMG_H_MOD} AS BIGINT) AS h
  FROM h
), blocks AS (
  SELECT doc_id, h32, w, h, tby.by AS by, tbx.bx AS bx,
         tby.by * ((w + 7) // 8) + tbx.bx AS bi
  FROM dims,
       range(0, 2) AS tby(by),
       range(0, 2) AS tbx(bx)
  WHERE tby.by < (h + 7) // 8 AND tbx.bx < (w + 7) // 8
), zz AS (
  SELECT * FROM (VALUES {zz_rows}) AS v(k, vf, hf, q)
), wt AS (
  SELECT * FROM (VALUES {wt_rows}) AS v(u, x, wv)
), dq AS (
  SELECT b.doc_id, b.bi, zz.vf, zz.hf,
         (CASE WHEN zz.k = 0
               THEN (b.h32 + 37 * b.bi) % {JPEG_DC_MOD}
                    - {(JPEG_DC_MOD - 1) // 2}
               WHEN (b.h32 + 11 * (b.bi * 64 + zz.k)) % {JPEG_AC_GATE} = 0
               THEN (b.h32 + 13 * (b.bi * 64 + zz.k)) % {JPEG_AC_MOD}
                    - {(JPEG_AC_MOD - 1) // 2}
               ELSE 0 END) * zz.q AS d
  FROM blocks b, zz
), bsum AS (
  SELECT dq.doc_id, dq.bi, wx.x AS x, wy.x AS y,
         SUM(dq.d * wx.wv * wy.wv) AS s
  FROM dq
  JOIN wt wx ON wx.u = dq.hf
  JOIN wt wy ON wy.u = dq.vf
  WHERE dq.d <> 0
  GROUP BY 1, 2, 3, 4
), cells AS (
  SELECT b.doc_id, b.bi, b.w, b.h, tx.x AS x, ty.y AS y
  FROM blocks b, range(0, 8) AS tx(x), range(0, 8) AS ty(y)
  WHERE b.bx * 8 + tx.x < b.w AND b.by * 8 + ty.y < b.h
), pix AS (
  SELECT c.doc_id, c.w, c.h,
         least(greatest(
           128 + (COALESCE(bs.s, 0) + {IDCT_HALF} + {offset})
                 // {1 << IDCT_SHIFT} - {offset >> IDCT_SHIFT},
           0), 255) AS sample
  FROM cells c
  LEFT JOIN bsum bs
    ON bs.doc_id = c.doc_id AND bs.bi = c.bi
   AND bs.x = c.x AND bs.y = c.y
), agg AS (
  SELECT doc_id, MAX(w) AS w, MAX(h) AS h, SUM(sample) AS s,
         MIN(sample) AS mn, MAX(sample) AS mx
  FROM pix GROUP BY 1
)
SELECT doc_id,
       CAST(w AS INT) AS width,
       CAST(h AS INT) AS height,
       CAST(w * h AS BIGINT) AS n_pixels,
       CAST(s AS BIGINT) AS sum_r,
       CAST(s AS BIGINT) AS sum_g,
       CAST(s AS BIGINT) AS sum_b,
       CAST(mn AS INT) AS min_byte,
       CAST(mx AS INT) AS max_byte,
       CAST((1000 * 3 * s) // (3 * w * h) AS BIGINT) AS mean_luma_milli
FROM agg
"""


_JPEG_SQL = _jpeg_sql()


_RESIZE_SQL = f"""
WITH h AS (
  SELECT doc_id,
         CAST(concat('0x', substring(md5(text), 1, 8)) AS BIGINT) AS h32
  FROM documents
), dims AS (
  SELECT doc_id,
         CAST(1 + h32 % {IMG_W_MOD} AS BIGINT) AS w,
         CAST(1 + h32 % {IMG_H_MOD} AS BIGINT) AS h
  FROM h
)
SELECT doc_id,
       CAST(w * {TARGET_EDGE} // greatest(w, h) AS INT) AS out_width,
       CAST(h * {TARGET_EDGE} // greatest(w, h) AS INT) AS out_height,
       CAST({TARGET_EDGE} AS BIGINT) AS scale_num,
       greatest(w, h) AS scale_den
FROM dims
"""

_FRAMES_SQL = f"""
WITH h AS (
  SELECT doc_id, md5(text) AS content_hash,
         CAST(concat('0x', substring(md5(text), 1, 8)) AS BIGINT) AS h32
  FROM documents
), meta AS (
  SELECT doc_id, content_hash, CAST(1 + h32 % 16 AS INT) AS n_frames
  FROM h
)
SELECT doc_id,
       CAST(i AS INT) AS frame_idx,
       md5(concat(content_hash, '|', CAST(i AS VARCHAR))) AS frame_hash
FROM meta, unnest(range(0, n_frames, {FRAME_STRIDE})) AS t(i)
"""

_FRAME_DEDUP_SQL = f"""
WITH all_docs AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + {COPY_OFFSET} AS doc_id, text FROM documents
  WHERE doc_id % 5 = 0
), h AS (
  SELECT doc_id, md5(text) AS content_hash,
         CAST(concat('0x', substring(md5(text), 1, 8)) AS BIGINT) AS h32
  FROM all_docs
), meta AS (
  SELECT doc_id, content_hash, CAST(1 + h32 % 16 AS INT) AS n_frames
  FROM h
), fr AS (
  SELECT doc_id,
         md5(concat(content_hash, '|', CAST(i AS VARCHAR))) AS frame_hash
  FROM meta, unnest(range(0, n_frames, {FRAME_STRIDE})) AS t(i)
), gc AS (
  SELECT frame_hash, COUNT(*) AS global_count FROM fr GROUP BY 1
), per_video AS (
  SELECT doc_id,
         CAST(COUNT(*) AS INT) AS n_frames,
         CAST(SUM(CASE WHEN global_count > 1 THEN 1 ELSE 0 END) AS INT)
           AS n_shared_frames
  FROM fr JOIN gc USING (frame_hash)
  GROUP BY 1
)
SELECT doc_id, n_frames, n_shared_frames,
       n_shared_frames / n_frames AS shared_ratio
FROM per_video
"""


# ---------------------------------------------------------------------------
# Zero-crossing rate (Rabiner & Schafer 1978) — the classic cheap
# audio feature (speech/music/
# noise discrimination): count of consecutive-sample sign flips per
# clip, reported with an exact milli rate. Same contract as the other
# audio ops: the Spark side REALLY decodes (RIFF codec in Arrow-batched
# mapInPandas + a vectorized numpy signbit diff), the oracle recomputes
# the identical answer from the fixture waveform's closed form with a
# per-doc lag window over the regenerated samples.
# ---------------------------------------------------------------------------

AUDIO_ZCR_SCHEMA = StructType([
    StructField("doc_id", LongType()),
    StructField("n_samples", IntegerType()),
    StructField("n_crossings", IntegerType()),
    StructField("zcr_milli", IntegerType()),
])


def audio_zcr(payloads: DataFrame) -> DataFrame:
    """Per clip: sample count, sign-flip count ((x ≥ 0) changing
    between neighbors), and 1000·crossings div (n−1)."""

    def zcr(doc_id: int, payload: bytes) -> Iterator[tuple]:
        _, _, samples = decode_audio(bytes(payload))
        nonneg = np.asarray(samples, dtype=np.int64) >= 0
        n, n_cross = len(samples), int((nonneg[1:] != nonneg[:-1]).sum())
        yield doc_id, n, n_cross, (1000 * n_cross) // (n - 1) if n > 1 else 0

    return _map_rows(payloads, ["doc_id", "payload"], AUDIO_ZCR_SCHEMA, zcr)


_AUDIO_ZCR_SQL = f"""
WITH h AS (
  SELECT doc_id,
         CAST(concat('0x', substring(md5(text), 1, 8)) AS BIGINT) AS h32
  FROM documents
), meta AS (
  SELECT doc_id, h32,
         {AUDIO_MIN_SAMPLES} + h32 % {AUDIO_N_MOD} AS n
  FROM h
), s AS (
  SELECT doc_id, n, i,
         (h32 + {AUDIO_STRIDE} * i) % 4096 - 2048 AS x
  FROM meta, unnest(range(0, n)) AS t(i)
), flips AS (
  SELECT doc_id, n,
         CASE WHEN (x >= 0) != (lag(x) OVER (PARTITION BY doc_id
                                             ORDER BY i) >= 0)
              THEN 1 ELSE 0 END AS flip
  FROM s
)
SELECT doc_id,
       CAST(MAX(n) AS INT) AS n_samples,
       CAST(SUM(flip) AS INT) AS n_crossings,
       CAST(CASE WHEN MAX(n) > 1
                 THEN (1000 * SUM(flip)) // (MAX(n) - 1)
                 ELSE 0 END AS INT) AS zcr_milli
FROM flips GROUP BY 1
"""


# ---------------------------------------------------------------------------
# Real video container path: MJPEG AVI (scale/avi.py). Each document
# carries a genuine RIFF AVI whose '00dc' chunks are real baseline
# JPEGs from the coefficient-domain writer — container parse, per-frame
# Huffman/IDCT decode, and the per-video rollup all run inside one
# Arrow-batched mapInPandas pass. Frame coefficients reuse the JPEG
# fixture's closed form under a per-frame seed, so the DuckDB oracle
# extends the JPEG IDCT mirror with a frame axis and reproduces every
# decoded sample digit-for-digit, including the frame-to-frame motion
# statistic.
# ---------------------------------------------------------------------------

AVI_FPS = 12
AVI_FRAMES_MIN = 2
AVI_FRAMES_MOD = 3            # n_frames = AVI_FRAMES_MIN + h32 % MOD in [2, 4]
AVI_FRAME_SEED = 2654435761   # Knuth multiplicative constant, per-frame seed

VIDEO_STATS_SCHEMA = StructType([
    StructField("doc_id", LongType()),
    StructField("width", IntegerType()),
    StructField("height", IntegerType()),
    StructField("n_frames", IntegerType()),
    StructField("fps", IntegerType()),
    StructField("n_pixels", LongType()),
    StructField("sum_luma", LongType()),
    StructField("min_byte", IntegerType()),
    StructField("max_byte", IntegerType()),
    StructField("mean_luma_milli", LongType()),
    StructField("motion_abs", LongType()),
])


def _avi_frame_seed(h32: int, f: int) -> int:
    return (h32 + AVI_FRAME_SEED * (f + 1)) % (1 << 32)


def attach_video_payload_avi(docs: DataFrame) -> DataFrame:
    """documents → (doc_id, payload binary): a REAL MJPEG AVI per doc.

    Dims reuse the image-fixture geometry; 2–4 frames per video, each a
    genuine grayscale baseline JPEG whose quantized coefficients follow
    the JPEG fixture's closed form under the per-frame seed
    ``(h32 + AVI_FRAME_SEED * (f + 1)) mod 2^32`` — same dims every
    frame, as the container requires."""

    def to_avi(text: str) -> bytes:
        h32 = _h32(text)
        w, h = _fixture_dims(h32)
        frames = [_jpeg_gray(_avi_frame_seed(h32, f), w, h)
                  for f in range(AVI_FRAMES_MIN + h32 % AVI_FRAMES_MOD)]
        return encode_avi_mjpeg(w, h, frames, fps=AVI_FPS)

    return _encode_docs(docs, to_avi)


def video_pixel_stats(payloads: DataFrame) -> DataFrame:
    """Binary AVI payload → true per-video statistics via real decode.

    Container parse (strict RIFF walk), per-frame baseline-JPEG decode,
    then exact-integer rollups: total luma sum, byte min/max across all
    frames, mean luma in milli units, and ``motion_abs`` — the sum over
    consecutive frame pairs of |Σluma_f − Σluma_{f−1}|, the cheapest
    honest temporal-change proxy (exact under integer math, unlike a
    float MSE). One Arrow batch in, one out; nothing touches the
    driver.
    """

    def stats(doc_id: int, payload: bytes) -> Iterator[tuple]:
        w, h, fps, frames = decode_avi(bytes(payload))
        frame_sums: list[int] = []
        mn, mx = 255, 0
        for frame in frames:
            fw, fh, nch, raster = decode_image(frame)
            if (fw, fh, nch) != (w, h, 1):
                raise ValueError(
                    f"frame geometry {fw}x{fh}x{nch} disagrees "
                    f"with container {w}x{h}x1")
            a = np.frombuffer(raster, dtype=np.uint8)
            frame_sums.append(int(a.astype(np.int64).sum()))
            mn = min(mn, int(a.min()))
            mx = max(mx, int(a.max()))
        total = sum(frame_sums)
        n_px = w * h * len(frames)
        yield (doc_id, w, h, len(frames), fps, n_px, total, mn, mx,
               (1000 * total) // n_px,
               sum(abs(b - a) for a, b in zip(frame_sums, frame_sums[1:])))

    return _map_rows(payloads, ["doc_id", "payload"], VIDEO_STATS_SCHEMA,
                     stats)


def _avi_sql() -> str:
    """The JPEG IDCT oracle extended with a frame axis: regenerate each
    frame's coefficients from the per-frame seed, run the decoder's
    exact-integer arithmetic per (doc, frame), then roll frames up to
    the per-video stats including the LAG-window motion sum."""
    zz_rows, wt_rows, offset = _jpeg_oracle_tables()
    return f"""
WITH h AS (
  SELECT doc_id,
         CAST(concat('0x', substring(md5(text), 1, 8)) AS BIGINT) AS h32
  FROM documents
), dims AS (
  SELECT doc_id, h32,
         CAST(1 + h32 % {IMG_W_MOD} AS BIGINT) AS w,
         CAST(1 + h32 % {IMG_H_MOD} AS BIGINT) AS h,
         CAST({AVI_FRAMES_MIN} + h32 % {AVI_FRAMES_MOD} AS BIGINT) AS nf
  FROM h
), fr AS (
  SELECT doc_id, w, h, t.f AS f,
         (h32 + {AVI_FRAME_SEED} * (t.f + 1)) % 4294967296 AS fh
  FROM dims, unnest(range(0, nf)) AS t(f)
), blocks AS (
  SELECT fr.doc_id, fr.f, fr.fh, fr.w, fr.h, tby.by AS by, tbx.bx AS bx,
         tby.by * ((fr.w + 7) // 8) + tbx.bx AS bi
  FROM fr,
       range(0, 2) AS tby(by),
       range(0, 2) AS tbx(bx)
  WHERE tby.by < (fr.h + 7) // 8 AND tbx.bx < (fr.w + 7) // 8
), zz AS (
  SELECT * FROM (VALUES {zz_rows}) AS v(k, vf, hf, q)
), wt AS (
  SELECT * FROM (VALUES {wt_rows}) AS v(u, x, wv)
), dq AS (
  SELECT b.doc_id, b.f, b.bi, zz.vf, zz.hf,
         (CASE WHEN zz.k = 0
               THEN (b.fh + 37 * b.bi) % {JPEG_DC_MOD}
                    - {(JPEG_DC_MOD - 1) // 2}
               WHEN (b.fh + 11 * (b.bi * 64 + zz.k)) % {JPEG_AC_GATE} = 0
               THEN (b.fh + 13 * (b.bi * 64 + zz.k)) % {JPEG_AC_MOD}
                    - {(JPEG_AC_MOD - 1) // 2}
               ELSE 0 END) * zz.q AS d
  FROM blocks b, zz
), bsum AS (
  SELECT dq.doc_id, dq.f, dq.bi, wx.x AS x, wy.x AS y,
         SUM(dq.d * wx.wv * wy.wv) AS s
  FROM dq
  JOIN wt wx ON wx.u = dq.hf
  JOIN wt wy ON wy.u = dq.vf
  WHERE dq.d <> 0
  GROUP BY 1, 2, 3, 4, 5
), cells AS (
  SELECT b.doc_id, b.f, b.bi, b.w, b.h, tx.x AS x, ty.y AS y
  FROM blocks b, range(0, 8) AS tx(x), range(0, 8) AS ty(y)
  WHERE b.bx * 8 + tx.x < b.w AND b.by * 8 + ty.y < b.h
), pix AS (
  SELECT c.doc_id, c.f, c.w, c.h,
         least(greatest(
           128 + (COALESCE(bs.s, 0) + {IDCT_HALF} + {offset})
                 // {1 << IDCT_SHIFT} - {offset >> IDCT_SHIFT},
           0), 255) AS sample
  FROM cells c
  LEFT JOIN bsum bs
    ON bs.doc_id = c.doc_id AND bs.f = c.f AND bs.bi = c.bi
   AND bs.x = c.x AND bs.y = c.y
), fagg AS (
  SELECT doc_id, f, MAX(w) AS w, MAX(h) AS h, SUM(sample) AS s,
         MIN(sample) AS mn, MAX(sample) AS mx
  FROM pix GROUP BY 1, 2
), lagged AS (
  SELECT doc_id, w, h, s, mn, mx,
         lag(s) OVER (PARTITION BY doc_id ORDER BY f) AS prev_s
  FROM fagg
)
SELECT doc_id,
       CAST(MAX(w) AS INT) AS width,
       CAST(MAX(h) AS INT) AS height,
       CAST(COUNT(*) AS INT) AS n_frames,
       CAST({AVI_FPS} AS INT) AS fps,
       CAST(MAX(w) * MAX(h) * COUNT(*) AS BIGINT) AS n_pixels,
       CAST(SUM(s) AS BIGINT) AS sum_luma,
       CAST(MIN(mn) AS INT) AS min_byte,
       CAST(MAX(mx) AS INT) AS max_byte,
       CAST((1000 * SUM(s)) // (COUNT(*) * MAX(w) * MAX(h)) AS BIGINT)
         AS mean_luma_milli,
       CAST(COALESCE(SUM(ABS(s - prev_s)), 0) AS BIGINT) AS motion_abs
FROM lagged GROUP BY 1
"""


_AVI_SQL = _avi_sql()


MULTIMODAL_QUERIES: dict[str, Query] = {
    q.name: q
    for q in [
        Query("multimodal_features",
              _decoded(image_pixel_stats, attach_image_payload),
              _MULTIMODAL_SQL,
              "True pixel statistics from REAL decode: synthetic P6 PPM "
              "payloads parsed by the pure-Python netpbm codec inside "
              "Arrow-batched mapInPandas; exact-integer channel sums."),
        Query("multimodal_bmp_stats",
              _decoded(image_pixel_stats, attach_image_payload_bmp),
              _MULTIMODAL_SQL,
              "The same pixel statistics through the BMP codec: "
              "identical md5-derived pixels written as genuine "
              "uncompressed 24-bit BMP (bottom-up BGR, stride padding) "
              "— same oracle, so the gate pins the decoder itself."),
        Query("multimodal_png_stats",
              _decoded(image_pixel_stats, attach_image_payload_png),
              _MULTIMODAL_SQL,
              "The same pixel statistics through the PNG codec: "
              "identical md5-derived pixels written as genuine "
              "zlib-compressed non-interlaced PNGs with per-row "
              "filters cycling None/Sub/Up/Average/Paeth — same "
              "oracle, so the gate pins every unfilter branch."),
        Query("multimodal_gif_stats",
              _decoded(image_pixel_stats, attach_image_payload_gif),
              _MULTIMODAL_SQL,
              "The same pixel statistics through the GIF codec: "
              "identical md5-derived pixels written as genuine "
              "LZW-compressed single-frame GIFs (variable-width codes, "
              "CLEAR/EOI, palette mapping) — same oracle, so the gate "
              "pins the LZW decompressor itself."),
        Query("multimodal_jpeg_stats",
              _decoded(image_pixel_stats, attach_image_payload_jpeg),
              _JPEG_SQL,
              "Pixel statistics through the baseline JPEG codec: "
              "md5-derived QUANTIZED COEFFICIENTS (JPEG is lossy in "
              "pixels, exact in coefficients) Huffman-coded into "
              "genuine restart-marked grayscale bitstreams; the "
              "decoder's exact-integer IDCT is mirrored in SQL, so "
              "the gate pins Huffman decode, dequant, zigzag, IDCT "
              "and clamp digit-for-digit."),
        Query("multimodal_avi_stats",
              _decoded(video_pixel_stats, attach_video_payload_avi),
              _AVI_SQL,
              "Per-video statistics through a REAL video container: "
              "MJPEG AVIs (strict RIFF parse, scale/avi.py) whose "
              "frames are genuine baseline JPEGs decoded per frame "
              "inside one mapInPandas pass; exact-integer luma rollup "
              "+ frame-to-frame motion sum, oracled by the JPEG IDCT "
              "mirror extended with a frame axis."),
        Query("multimodal_resize", _resize_q, _RESIZE_SQL,
              "Aspect-preserving resize geometry over the real decoded "
              "dimensions (column expressions; integer geometry exact)."),
        Query("multimodal_frame_sample", _frames_q, _FRAMES_SQL,
              "Strided video-frame sampling fan-out inside Arrow batches "
              "(no shuffle)."),
        Query("multimodal_frame_dedup", _frame_dedup_q, _FRAME_DEDUP_SQL,
              "Cross-video frame-hash dedup: per-video fraction of "
              "sampled frames repeated anywhere in the corpus (chunk-"
              "dedup shape on the frame stream)."),
        Query("multimodal_audio_stats",
              _decoded(audio_stats, attach_audio_payload),
              _AUDIO_STATS_SQL,
              "True signal statistics from REAL decode: synthetic PCM16 "
              "WAVs parsed by the pure-Python RIFF codec inside Arrow-"
              "batched mapInPandas; exact-integer |x| and x² sums."),
        Query("multimodal_adpcm_stats",
              _decoded(audio_stats, attach_audio_payload_adpcm),
              _ADPCM_STATS_SQL,
              "The same signal statistics through the IMA-ADPCM codec "
              "(WAV format 17): md5-derived nibble streams in genuine "
              "block-structured ADPCM WAVs, decoded by the pure-Python "
              "predictor/step state machine; the oracle re-runs the "
              "decoder in a recursive CTE over the standard tables."),
        Query("multimodal_mulaw_stats",
              _decoded(audio_stats, attach_audio_payload_mulaw),
              _MULAW_STATS_SQL,
              "The same signal statistics through G.711 μ-law (WAV "
              "format 7): md5-derived companded bytes in genuine "
              "telephony WAVs, expanded by the standard integer "
              "formula; the oracle re-runs the expansion in SQL."),
        Query("multimodal_flac_stats",
              _decoded(audio_stats, attach_audio_payload_flac),
              _FLAC_STATS_SQL,
              "The same signal statistics through the FLAC codec "
              "(scale/flac.py): md5-derived STEREO waveforms written "
              "as genuine mid/side FLAC (fixed predictors, Rice "
              "residuals, CRC-8/16, STREAMINFO MD5) and decoded by "
              "the pure-stdlib decoder; lossless, so the oracle is "
              "the closed-form waveform itself."),
        Query("multimodal_audio_downsample",
              _decoded(audio_downsample_stats, attach_audio_payload),
              _AUDIO_DOWNSAMPLE_SQL,
              "Strided audio decimation (8 kHz → 1 kHz, the frame-"
              "sampling shape on the sample stream) with exact-integer "
              "stats over the kept samples."),
        Query("multimodal_audio_vad",
              _decoded(audio_vad_segments, attach_audio_payload),
              _AUDIO_VAD_SQL,
              "Energy-gate voice-activity segmentation: per-frame Σx² "
              "from the real decoder, voiced islands via the gaps-and-"
              "islands window, longest-run + exact voiced energy per "
              "doc."),
        Query("multimodal_audio_zcr",
              _decoded(audio_zcr, attach_audio_payload),
              _AUDIO_ZCR_SQL,
              "Zero-crossing rate per clip from the real decoder "
              "(numpy signbit diff in mapInPandas); oracle recomputes "
              "from the fixture waveform's closed form."),
        Query("multimodal_dhash_neardup", _dhash_q, _DHASH_SQL,
              "Perceptual image near-dup: 64-bit dHash over the real "
              "netpbm decoder, simhash pigeonhole blocking — pairs "
              "brightness-shifted re-encodes exact hashing misses."),
    ]
}
