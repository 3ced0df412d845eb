"""Multimodal column plumbing (beyond-reference): image/audio/video
as opaque ``binary`` columns with typed metadata, processed by
Arrow-batched ``mapInPandas`` pipelines.

The container has no image/audio codec LIBRARIES, so ``decode_image``
vendors pure-python/numpy decoders for three real formats — BMP
(24-bit, BI_RGB, bottom-up or top-down, 4-byte row padding), PPM
(P6, maxval 255) and PNG (round 9: 8-bit gray/RGB/RGBA
non-interlaced — chunk walk, stdlib-zlib inflate, all five scanline
unfilters; round 10: palette/PLTE at depths 1/2/4/8 with MSB-first
sub-byte index unpacking, 16-bit samples scaled to 8 via the high
byte, gray+alpha, and Adam7 interlace — per-pass unfilter + spec
§8.2 scatter — so the FULL legal IHDR matrix decodes) plus, since
round 10, JPEG (``operators/jpeg.py``: baseline SOF0 and progressive
SOF2 — marker walk, canonical Huffman, annex-G scan accumulation,
IDCT, 4:2:0/4:4:4, DRI/RST) — and raises NotImplementedError for
everything else (arithmetic-coded/12-bit/hierarchical JPEG,
WEBP: real codecs; plug in PIL.Image.open and
the plumbing is unchanged). The matching ``encode_bmp``/
``encode_png``/``encode_png_palette``/``encode_png16`` writers exist
so ingest tests and the registered end-to-end decode query can build
real container bytes (all PNG writers take per-row filter types and
an ``interlace`` flag so tests drive every unfilter path in every
format family, sequential and interlaced). Decode
correctness is pinned two ways: a golden hand-laid-out BMP byte
string in tests (breaks encode/decode circularity) and the
``multimodal_decode_stats`` driver query whose DuckDB oracle computes
the expected per-image statistics ARITHMETICALLY from the generator
parameters — a padding/stride/channel-order bug in the decoder shifts
the means and fails the hash.

Scale notes: blobs ride in parquet binary columns; mapInPandas
processes Arrow record batches (`spark.sql.execution.arrow
.maxRecordsPerBatch` bounds memory per task), and feature extraction
is embarrassingly partition-parallel — no shuffle at all.
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

BLOB_META_SCHEMA = "width int, height int, format string"

FEATURES_SCHEMA = (
    "doc_id long, blob_len int, blob_md5 string, header_hex string, "
    "width int, height int"
)


def make_blob_table(docs: DataFrame) -> DataFrame:
    """Synthesize an image-like blob table from documents: utf-8
    bytes as the payload plus a typed metadata struct (what a real
    ingest would parse from the container header)."""
    return docs.select(
        "doc_id",
        F.encode("text", "utf-8").alias("blob"),
        F.struct(
            (F.col("n_chars") % 64 + 1).cast("int").alias("width"),
            (F.col("n_chars") % 48 + 1).cast("int").alias("height"),
            F.lit("fake/raw").alias("format"),
        ).alias("meta"),
    )


def encode_bmp(width: int, height: int, rgb) -> bytes:
    """Minimal 24-bit uncompressed BMP writer (BITMAPINFOHEADER,
    BI_RGB, bottom-up, rows padded to 4 bytes — the classic layout).
    ``rgb`` is a (height, width, 3) uint8 array in top-down RGB."""
    import numpy as np

    px = np.asarray(rgb, dtype=np.uint8).reshape(height, width, 3)
    stride = (width * 3 + 3) // 4 * 4
    body = np.zeros((height, stride), dtype=np.uint8)
    # bottom-up storage, BGR channel order (both are the BMP default)
    body[:, : width * 3] = px[::-1, :, ::-1].reshape(height, width * 3)
    data = body.tobytes()
    size = 54 + len(data)
    header = (
        b"BM"
        + size.to_bytes(4, "little")
        + b"\x00\x00\x00\x00"
        + (54).to_bytes(4, "little")          # pixel data offset
        + (40).to_bytes(4, "little")          # BITMAPINFOHEADER size
        + width.to_bytes(4, "little", signed=True)
        + height.to_bytes(4, "little", signed=True)  # >0 => bottom-up
        + (1).to_bytes(2, "little")           # planes
        + (24).to_bytes(2, "little")          # bpp
        + (0).to_bytes(4, "little")           # BI_RGB (uncompressed)
        + len(data).to_bytes(4, "little")
        + (2835).to_bytes(4, "little") * 2    # 72 dpi
        + (0).to_bytes(4, "little") * 2
    )
    return header + data


def _png_chunk(tag: bytes, body: bytes) -> bytes:
    import struct
    import zlib

    return (
        struct.pack(">I", len(body))
        + tag
        + body
        + struct.pack(">I", zlib.crc32(tag + body) & 0xFFFFFFFF)
    )


def _filter_scanlines(rows, bpp: int, filters) -> bytes:
    """Apply PNG scanline filters to ``rows`` — an (h, stride) uint8
    array — producing the raw pre-zlib stream (one filter-type byte
    + filtered bytes per scanline). ``bpp`` is the filter distance
    in bytes: bytes per complete pixel, min 1 (the spec's rule for
    sub-byte palette depths). Spec: https://www.w3.org/TR/png-3/ §9.
    Shared by the RGB8 / palette / 16-bit writers so every format's
    golden tests can exercise every unfilter path."""
    import numpy as np

    rows = np.asarray(rows, dtype=np.uint8)
    h, stride = rows.shape
    raw = bytearray()
    prev = np.zeros(stride, dtype=np.int32)
    for y in range(h):
        cur = rows[y].astype(np.int32)
        ft = filters[y]
        if ft == 0:
            filt = cur
        elif ft == 1:  # Sub
            a = np.concatenate([np.zeros(bpp, np.int32), cur[:-bpp]])[:stride]
            filt = (cur - a) & 0xFF
        elif ft == 2:  # Up
            filt = (cur - prev) & 0xFF
        elif ft == 3:  # Average
            a = np.concatenate([np.zeros(bpp, np.int32), cur[:-bpp]])[:stride]
            filt = (cur - ((a + prev) >> 1)) & 0xFF
        elif ft == 4:  # Paeth
            a = np.concatenate([np.zeros(bpp, np.int32), cur[:-bpp]])[:stride]
            c = np.concatenate([np.zeros(bpp, np.int32), prev[:-bpp]])[:stride]
            p = a + prev - c
            pa, pb, pc = np.abs(p - a), np.abs(p - prev), np.abs(p - c)
            pred = np.where(
                (pa <= pb) & (pa <= pc), a, np.where(pb <= pc, prev, c)
            )
            filt = (cur - pred) & 0xFF
        else:
            raise ValueError(f"bad PNG filter type {ft}")
        raw.append(ft)
        raw.extend(filt.astype(np.uint8).tobytes())
        prev = cur
    return bytes(raw)


def png_scanline_count(width: int, height: int, interlace: bool = False) -> int:
    """Number of scanlines a PNG of this geometry emits — ``height``
    sequentially, or the sum of non-empty Adam7 pass heights when
    interlaced (what a per-scanline ``row_filters`` list must cover,
    in pass-major stream order)."""
    if not interlace:
        return height
    total = 0
    for x0, y0, dx, dy in _ADAM7:
        pw = (width - x0 + dx - 1) // dx if width > x0 else 0
        ph = (height - y0 + dy - 1) // dy if height > y0 else 0
        if pw and ph:
            total += ph
    return total


def _png_raw_stream(samples, pack_rows, bpp: int, filters, interlace: bool) -> bytes:
    """Build the pre-zlib filtered stream from per-pixel ``samples``
    ((h, w) or (h, w, ch)): sequentially, or as the concatenation of
    the seven independently-filtered Adam7 reduced images (spec
    §8.2; empty passes emit nothing). ``pack_rows`` turns a
    sub-image into its (ph, stride) scanline bytes; ``filters`` is
    one filter type per emitted scanline in stream order."""
    if not interlace:
        return _filter_scanlines(pack_rows(samples), bpp, filters)
    raw = bytearray()
    li = 0
    for x0, y0, dx, dy in _ADAM7:
        sub = samples[y0::dy, x0::dx]
        ph, pw = sub.shape[0], sub.shape[1]
        if ph == 0 or pw == 0:
            continue
        raw += _filter_scanlines(pack_rows(sub), bpp, filters[li : li + ph])
        li += ph
    return bytes(raw)


def encode_png(width: int, height: int, rgb, row_filters=None, interlace: bool = False) -> bytes:
    """Minimal PNG writer (8-bit RGB, color type 2), sequential or
    Adam7-interlaced. ``row_filters`` optionally assigns a PNG
    filter type (0-4) per emitted scanline (pass-major order when
    interlaced — ``png_scanline_count`` gives the length) so tests
    can exercise every unfilter path in ``decode_image`` with real
    container bytes; default is filter 0 everywhere.
    Spec: https://www.w3.org/TR/png-3/ §9."""
    import struct
    import zlib

    import numpy as np

    px = np.asarray(rgb, dtype=np.uint8).reshape(height, width, 3)
    n = png_scanline_count(width, height, interlace)
    filters = [0] * n if row_filters is None else list(row_filters)
    raw = _png_raw_stream(
        px,
        lambda sub: np.ascontiguousarray(sub).reshape(sub.shape[0], sub.shape[1] * 3),
        3,
        filters,
        interlace,
    )
    ihdr = struct.pack(">IIBBBBB", width, height, 8, 2, 0, 0, int(interlace))
    return (
        b"\x89PNG\r\n\x1a\n"
        + _png_chunk(b"IHDR", ihdr)
        + _png_chunk(b"IDAT", zlib.compress(raw))
        + _png_chunk(b"IEND", b"")
    )


def _pack_index_rows(idx, depth: int):
    """Pack an (h, w) palette-index sub-image into its (h, stride)
    scanline bytes: identity at depth 8; MSB-first sub-byte packing
    with rows padded to a whole byte below (spec §7.2)."""
    import numpy as np

    h, w = idx.shape
    if depth == 8:
        return np.ascontiguousarray(idx)
    shifts = np.arange(depth - 1, -1, -1, dtype=np.uint8)
    bits = ((idx[:, :, None] >> shifts) & 1).reshape(h, w * depth)
    pad = (-bits.shape[1]) % 8
    if pad:
        bits = np.concatenate(
            [bits, np.zeros((h, pad), dtype=bits.dtype)], axis=1
        )
    return np.packbits(bits.astype(np.uint8), axis=1)


def encode_png_palette(
    width: int,
    height: int,
    palette,
    indices,
    depth: int = 8,
    row_filters=None,
    interlace: bool = False,
) -> bytes:
    """PNG writer for color type 3 (indexed): ``palette`` is an
    (N, 3) uint8 RGB table (PLTE chunk), ``indices`` an (h, w) index
    array, ``depth`` in {1, 2, 4, 8} — sub-byte depths pack indices
    MSB-first within each scanline byte, rows padded to a whole byte
    (spec §7.2; when Adam7-interlaced, the padding applies per
    reduced-image scanline). Filter distance is 1 byte for every
    palette depth."""
    import struct
    import zlib

    import numpy as np

    pal = np.asarray(palette, dtype=np.uint8).reshape(-1, 3)
    idx = np.asarray(indices, dtype=np.uint8).reshape(height, width)
    if depth not in (1, 2, 4, 8):
        raise ValueError(f"palette depth {depth} not in 1/2/4/8")
    if int(idx.max(initial=0)) >= min(len(pal), 1 << depth):
        raise ValueError("palette index out of range for depth/palette")
    n = png_scanline_count(width, height, interlace)
    filters = [0] * n if row_filters is None else list(row_filters)
    raw = _png_raw_stream(
        idx, lambda sub: _pack_index_rows(sub, depth), 1, filters, interlace
    )
    ihdr = struct.pack(">IIBBBBB", width, height, depth, 3, 0, 0, int(interlace))
    return (
        b"\x89PNG\r\n\x1a\n"
        + _png_chunk(b"IHDR", ihdr)
        + _png_chunk(b"PLTE", pal.tobytes())
        + _png_chunk(b"IDAT", zlib.compress(raw))
        + _png_chunk(b"IEND", b"")
    )


def encode_png16(
    width: int,
    height: int,
    samples,
    color: int = 2,
    row_filters=None,
    interlace: bool = False,
) -> bytes:
    """PNG writer for 16-bit samples (big-endian per spec §7.1),
    color type 0 (gray), 2 (RGB), 4 (gray+alpha) or 6 (RGBA),
    sequential or Adam7-interlaced. ``samples`` is an
    (h, w, channels) — or flattenable — uint16 array. Filter
    distance is channels*2 bytes."""
    import struct
    import zlib

    import numpy as np

    channels = {0: 1, 2: 3, 4: 2, 6: 4}[color]
    px = np.asarray(samples, dtype=np.uint16).reshape(height, width, channels)

    def pack(sub):
        ph, pw = sub.shape[0], sub.shape[1]
        return (
            np.ascontiguousarray(sub.astype(">u2"))
            .view(np.uint8)
            .reshape(ph, pw * channels * 2)
        )

    n = png_scanline_count(width, height, interlace)
    filters = [0] * n if row_filters is None else list(row_filters)
    raw = _png_raw_stream(px, pack, channels * 2, filters, interlace)
    ihdr = struct.pack(">IIBBBBB", width, height, 16, color, 0, 0, int(interlace))
    return (
        b"\x89PNG\r\n\x1a\n"
        + _png_chunk(b"IHDR", ihdr)
        + _png_chunk(b"IDAT", zlib.compress(raw))
        + _png_chunk(b"IEND", b"")
    )


# Adam7 pass geometry (spec §8.2 / libpng): x_start, y_start,
# x_step, y_step for each of the 7 reduced images, in stream order.
_ADAM7 = (
    (0, 0, 8, 8),
    (4, 0, 8, 8),
    (0, 4, 4, 8),
    (2, 0, 4, 4),
    (0, 2, 2, 4),
    (1, 0, 2, 2),
    (0, 1, 1, 2),
)


def _png_stride(w: int, depth: int, color: int, ch: int) -> int:
    """Scanline byte stride for a row of ``w`` pixels (sub-byte
    palette rows pad to a whole byte, spec §7.2)."""
    if color == 3:
        return (w * depth + 7) // 8
    return w * ch * (depth // 8)


def _png_unfilter(raw, offset: int, h: int, stride: int, bpp: int):
    """Unfilter ``h`` scanlines of ``stride`` bytes starting at
    ``offset`` in the raw (inflated) stream; returns the (h, stride)
    uint8 array. Filters None/Sub/Up are vectorized (Sub is a
    mod-256 prefix sum per byte lane); Average/Paeth keep the spec's
    sequential scan — PNG rows are short and this is the cold path.
    ``bpp`` is the filter distance: bytes per complete pixel, min 1.
    The filter state resets at the call boundary, which is exactly
    the spec's rule for each Adam7 reduced image."""
    import numpy as np

    out = np.zeros((h, stride), dtype=np.uint8)
    prev = np.zeros(stride, dtype=np.int32)
    for y in range(h):
        base = offset + y * (stride + 1)
        ft = raw[base]
        line = np.frombuffer(
            raw, dtype=np.uint8, count=stride, offset=base + 1
        ).astype(np.int32)
        if ft == 0:
            cur = line
        elif ft == 1:  # Sub: mod-256 prefix sum per byte lane
            cur = np.cumsum(line.reshape(-1, bpp), axis=0).reshape(stride) & 0xFF
        elif ft == 2:  # Up
            cur = (line + prev) & 0xFF
        elif ft in (3, 4):  # Average / Paeth: sequential per spec
            cur = np.zeros(stride, dtype=np.int32)
            for x in range(stride):
                a = int(cur[x - bpp]) if x >= bpp else 0
                up = int(prev[x])
                if ft == 3:
                    pred = (a + up) >> 1
                else:
                    c = int(prev[x - bpp]) if x >= bpp else 0
                    p = a + up - c
                    pa, pb, pc = abs(p - a), abs(p - up), abs(p - c)
                    pred = a if pa <= pb and pa <= pc else (up if pb <= pc else c)
                cur[x] = (int(line[x]) + pred) & 0xFF
        else:
            raise ValueError(f"bad PNG filter type {ft} on row {y}")
        out[y] = cur.astype(np.uint8)
        prev = cur
    return out


def _png_rows_to_samples(out, w: int, h: int, depth: int, color: int, ch: int):
    """Convert unfiltered scanline bytes (h, stride) to per-pixel
    sample bytes: palette images yield an (h, w) index array
    (sub-byte indices unpacked MSB-first per spec §7.2); everything
    else yields (h, w, ch) uint8, with 16-bit samples scaled to 8
    via the high byte (the spec-sanctioned approximation of
    v * 255 / 65535)."""
    import numpy as np

    if color == 3:
        if depth == 8:
            return out[:, :w]
        bits = np.unpackbits(out, axis=1)[:, : w * depth]
        weights = (1 << np.arange(depth - 1, -1, -1)).astype(np.int32)
        return (bits.reshape(h, w, depth) * weights).sum(axis=2)
    if depth == 16:
        return out.reshape(h, w, ch, 2)[:, :, :, 0]
    return out.reshape(h, w, ch)


def _png_decode(b: bytes):
    """Pure-python/numpy PNG decode: chunk walk, zlib inflate, and
    full per-scanline unfilter (all five filter types). Supports the
    whole legal IHDR matrix — color types 0 (grayscale, replicated
    to RGB), 2 (RGB), 4 (gray+alpha) and 6 (RGBA, alpha dropped) at
    bit depth 8 or 16 (16-bit scales to 8 via the high byte), color
    type 3 (palette/PLTE) at depths 1/2/4/8 (sub-byte indices
    unpacked MSB-first per spec §7.2), each either sequential or
    Adam7-interlaced (round 10): the seven reduced images are
    unfiltered independently (filter state resets per pass, pass
    scanlines pad to whole bytes) and scattered into the canvas by
    the spec §8.2 (x_start, y_start, x_step, y_step) grid; empty
    passes contribute zero scanlines."""
    import struct
    import zlib

    import numpy as np

    if len(b) < 45 or b[12:16] != b"IHDR":
        raise ValueError("truncated or malformed PNG")
    w, h, depth, color, _comp, _filt, interlace = struct.unpack(
        ">IIBBBBB", b[16:29]
    )
    valid_depths = {0: (8, 16), 2: (8, 16), 3: (1, 2, 4, 8), 4: (8, 16), 6: (8, 16)}
    if interlace not in (0, 1) or color not in valid_depths or depth not in valid_depths[color]:
        raise NotImplementedError(
            f"PNG depth={depth} color_type={color} interlace={interlace}: "
            "gray/gray+alpha/RGB/RGBA at 8/16-bit and palette at 1/2/4/8-bit, "
            "sequential or Adam7, supported here"
        )
    ch = {0: 1, 2: 3, 3: 1, 4: 2, 6: 4}[color]
    idat = bytearray()
    palette = None
    pos = 8
    while pos + 8 <= len(b):
        (length,) = struct.unpack(">I", b[pos : pos + 4])
        tag = b[pos + 4 : pos + 8]
        if tag == b"IDAT":
            idat += b[pos + 8 : pos + 8 + length]
        if tag == b"PLTE":
            body = b[pos + 8 : pos + 8 + length]
            if length % 3 != 0:
                raise ValueError("PLTE length not a multiple of 3")
            palette = np.frombuffer(body, dtype=np.uint8).reshape(-1, 3)
        if tag == b"IEND":
            break
        pos += 12 + length
    raw = zlib.decompress(bytes(idat))
    bpp = 1 if color == 3 else ch * (depth // 8)
    if interlace == 0:
        stride = _png_stride(w, depth, color, ch)
        if len(raw) != h * (stride + 1):
            raise ValueError("PNG scanline data length mismatch")
        samples = _png_rows_to_samples(
            _png_unfilter(raw, 0, h, stride, bpp), w, h, depth, color, ch
        )
    else:
        canvas_shape = (h, w) if color == 3 else (h, w, ch)
        samples = np.zeros(canvas_shape, dtype=np.int32 if color == 3 else np.uint8)
        offset = 0
        for x0, y0, dx, dy, in _ADAM7:
            pw = (w - x0 + dx - 1) // dx if w > x0 else 0
            ph = (h - y0 + dy - 1) // dy if h > y0 else 0
            if pw == 0 or ph == 0:
                continue  # empty pass: zero scanlines in the stream
            stride = _png_stride(pw, depth, color, ch)
            if offset + ph * (stride + 1) > len(raw):
                raise ValueError("PNG interlaced data length mismatch")
            rows = _png_unfilter(raw, offset, ph, stride, bpp)
            offset += ph * (stride + 1)
            samples[y0::dy, x0::dx] = _png_rows_to_samples(
                rows, pw, ph, depth, color, ch
            )
        if offset != len(raw):
            raise ValueError("PNG interlaced data length mismatch")
    if color == 3:
        if palette is None:
            raise ValueError("palette PNG missing its PLTE chunk")
        idx = samples
        if int(idx.max(initial=0)) >= len(palette):
            raise ValueError("palette index out of range")
        return np.ascontiguousarray(palette[idx])
    px = samples
    if ch <= 2:  # gray / gray+alpha: replicate luma, drop alpha
        return np.ascontiguousarray(np.repeat(px[:, :, :1], 3, axis=2))
    return np.ascontiguousarray(px[:, :, :3])  # RGBA -> drop alpha


def decode_image(blob: bytes):
    """Decode a BMP (24-bit BI_RGB), PPM (P6) or PNG (gray/
    gray+alpha/RGB/RGBA at 8/16-bit + palette at 1/2/4/8-bit,
    sequential or Adam7-interlaced) container
    into a (height, width, 3) uint8 RGB numpy array — a REAL
    pure-python decode (header parse, stride/padding handling,
    channel-order and scanline-direction normalization; for PNG:
    chunk walk, zlib inflate, the five scanline unfilters, Adam7
    per-pass unfilter + scatter, PLTE lookup and 16->8 high-byte
    scaling). JPEG (baseline SOF0 and progressive SOF2) delegates to
    ``operators/jpeg.py``; other formats raise NotImplementedError:
    WEBP/AVIF and arithmetic-coded/12-bit/hierarchical JPEG need
    codec libraries this container lacks."""
    import numpy as np

    b = bytes(blob)
    if b[:8] == b"\x89PNG\r\n\x1a\n":
        return _png_decode(b)
    if b[:2] == b"\xff\xd8":
        from global_superstore_data_warehouse_spark.operators.jpeg import _jpeg_decode

        return _jpeg_decode(b)
    if b[:2] == b"BM":
        data_off = int.from_bytes(b[10:14], "little")
        w = int.from_bytes(b[18:22], "little", signed=True)
        h = int.from_bytes(b[22:26], "little", signed=True)
        bpp = int.from_bytes(b[28:30], "little")
        compression = int.from_bytes(b[30:34], "little")
        if bpp != 24 or compression != 0:
            raise NotImplementedError(
                f"only 24-bit uncompressed BMP supported (bpp={bpp}, "
                f"compression={compression})"
            )
        top_down = h < 0
        h = abs(h)
        stride = (w * 3 + 3) // 4 * 4
        rows = np.frombuffer(
            b, dtype=np.uint8, offset=data_off, count=stride * h
        ).reshape(h, stride)
        px = rows[:, : w * 3].reshape(h, w, 3)[:, :, ::-1]  # BGR -> RGB
        if not top_down:
            px = px[::-1]
        return np.ascontiguousarray(px)
    if b[:2] == b"P6":
        # header: "P6" <ws> width <ws> height <ws> maxval <single ws>,
        # with '#' comment lines allowed between tokens
        pos, tokens = 2, []
        while len(tokens) < 3:
            while pos < len(b) and b[pos : pos + 1].isspace():
                pos += 1
            if b[pos : pos + 1] == b"#":
                while pos < len(b) and b[pos] != 0x0A:
                    pos += 1
                continue
            start = pos
            while pos < len(b) and not b[pos : pos + 1].isspace():
                pos += 1
            tokens.append(int(b[start:pos]))
        pos += 1  # exactly one whitespace byte after maxval
        w, h, maxval = tokens
        if maxval != 255:
            raise NotImplementedError(f"P6 maxval {maxval} != 255")
        return (
            np.frombuffer(b, dtype=np.uint8, offset=pos, count=w * h * 3)
            .reshape(h, w, 3)
            .copy()
        )
    raise NotImplementedError(
        "only BMP (24-bit), PPM (P6), PNG (full IHDR matrix incl. Adam7) "
        "and JPEG (baseline + progressive) decode in this environment; "
        "WEBP/AVIF/arithmetic-JPEG need codec libraries — plug in PIL here"
    )


def encode_wav(sample_rate: int, samples) -> bytes:
    """Minimal WAV writer: RIFF/WAVE container, PCM (format 1), mono,
    16-bit little-endian — the classic canonical layout. ``samples``
    is any int16-coercible sequence."""
    import numpy as np

    pcm = np.asarray(samples, dtype=np.int16).tobytes()
    fmt = (
        (1).to_bytes(2, "little")  # PCM
        + (1).to_bytes(2, "little")  # mono
        + int(sample_rate).to_bytes(4, "little")
        + int(sample_rate * 2).to_bytes(4, "little")  # byte rate
        + (2).to_bytes(2, "little")  # block align
        + (16).to_bytes(2, "little")  # bits/sample
    )
    body = (
        b"WAVE"
        + b"fmt "
        + len(fmt).to_bytes(4, "little")
        + fmt
        + b"data"
        + len(pcm).to_bytes(4, "little")
        + pcm
    )
    return b"RIFF" + len(body).to_bytes(4, "little") + body


def decode_wav(blob: bytes):
    """Decode a WAV container into (sample_rate, int16 numpy array) —
    a REAL pure-python decode: RIFF validation plus a proper chunk
    WALK (fmt/data may be separated by LIST/fact/cue chunks, chunks
    are word-aligned). Round 10 widened the classic family: PCM at
    8 (unsigned) / 16 / 24 / 32 bits, IEEE float32 (format 3), G.711
    A-law (6) and µ-law (7) — everything normalizes to int16 (high
    bits for wide PCM, clipped scaling for float, the standard G.711
    expansion tables for the companded formats), and multichannel
    audio downmixes to mono by the rounded channel mean. Compressed
    formats beyond these (ADPCM, MP3-in-WAV, ...) raise
    NotImplementedError — plug in soundfile/librosa here and the
    mapInPandas plumbing is unchanged."""
    import numpy as np

    b = bytes(blob)
    if b[:4] != b"RIFF" or b[8:12] != b"WAVE":
        raise NotImplementedError("not a RIFF/WAVE container")
    pos, rate, n_channels, bits, audio_format = 12, None, None, None, None
    data_off, data_len = None, None
    while pos + 8 <= len(b):
        cid = b[pos : pos + 4]
        clen = int.from_bytes(b[pos + 4 : pos + 8], "little")
        if cid == b"fmt ":
            audio_format = int.from_bytes(b[pos + 8 : pos + 10], "little")
            n_channels = int.from_bytes(b[pos + 10 : pos + 12], "little")
            rate = int.from_bytes(b[pos + 12 : pos + 16], "little")
            bits = int.from_bytes(b[pos + 22 : pos + 24], "little")
        elif cid == b"data":
            data_off, data_len = pos + 8, clen
        pos += 8 + clen + (clen & 1)  # chunks are word-aligned
    if rate is None or data_off is None:
        raise NotImplementedError("missing fmt or data chunk")
    if not n_channels or n_channels < 1:
        raise ValueError("WAV fmt chunk declares zero channels")
    data = b[data_off : data_off + data_len]
    if audio_format == 1 and bits == 16:
        samples = np.frombuffer(data, dtype="<i2").astype(np.int32)
    elif audio_format == 1 and bits == 8:
        # 8-bit WAV PCM is UNSIGNED, midpoint 128
        u = np.frombuffer(data, dtype=np.uint8).astype(np.int32)
        samples = (u - 128) << 8
    elif audio_format == 1 and bits == 24:
        raw = np.frombuffer(data, dtype=np.uint8)
        raw = raw[: len(raw) // 3 * 3].reshape(-1, 3).astype(np.int32)
        v = raw[:, 0] | (raw[:, 1] << 8) | (raw[:, 2] << 16)
        v = np.where(v >= 1 << 23, v - (1 << 24), v)  # sign extend
        samples = v >> 8
    elif audio_format == 1 and bits == 32:
        samples = np.frombuffer(data, dtype="<i4").astype(np.int64) >> 16
    elif audio_format == 3 and bits == 32:
        f = np.frombuffer(data, dtype="<f4").astype(np.float64)
        samples = np.clip(np.round(f * 32767.0), -32768, 32767).astype(np.int32)
    elif audio_format in (6, 7) and bits == 8:
        code = np.frombuffer(data, dtype=np.uint8).astype(np.int32)
        if audio_format == 7:  # µ-law (G.711): complement, then expand
            u = (~code) & 0xFF
            sign = (u & 0x80) != 0
            exp = (u >> 4) & 7
            mant = u & 0x0F
            # ((mant<<3)+0x84)<<exp − 0x84 is the G.711 expansion with
            # the bias pre-scaled ×4, i.e. already 16-bit (max 32124)
            mag = (((mant << 3) + 0x84) << exp) - 0x84
            samples = np.where(sign, -mag, mag)
        else:  # A-law (G.711): even-bit inversion, then expand
            a = code ^ 0x55
            sign = (a & 0x80) != 0
            exp = (a >> 4) & 7
            mant = a & 0x0F
            # (mant<<4)+8 / ((mant<<4)+0x108)<<(exp-1) is the G.711
            # expansion at 16-bit scale (max 32256)
            mag = np.where(
                exp == 0,
                (mant << 4) + 8,
                ((mant << 4) + 0x108) << np.maximum(exp - 1, 0),
            )
            samples = np.where(sign, mag, -mag)  # sign bit 1 = positive
    else:
        raise NotImplementedError(
            f"WAV format={audio_format} bits={bits} unsupported (PCM "
            "8/16/24/32, float32, A-law, µ-law decode here; ADPCM/MP3 "
            "need codec libraries)"
        )
    if n_channels > 1:
        samples = samples[: len(samples) // n_channels * n_channels]
        samples = np.round(
            samples.reshape(-1, n_channels).mean(axis=1)
        ).astype(np.int64)
    return rate, np.clip(samples, -32768, 32767).astype(np.int16)


def extract_blob_features(blob_table: DataFrame) -> DataFrame:
    """mapInPandas feature extraction: one Arrow round-trip, no
    shuffle; output schema is fixed and typed.

    The batch function is a closure with local imports so cloudpickle
    ships it by value — executor Python workers need no access to
    this package on their own sys.path."""

    def feature_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import hashlib as _hashlib

        import pandas as _pd

        for pdf in batches:
            blobs = pdf["blob"]
            yield _pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "blob_len": blobs.map(len).astype("int32"),
                    "blob_md5": blobs.map(
                        lambda b: _hashlib.md5(bytes(b)).hexdigest()
                    ),
                    "header_hex": blobs.map(lambda b: bytes(b)[:8].hex()),
                    "width": pdf["meta"].map(lambda m: m["width"]).astype("int32"),
                    "height": pdf["meta"].map(lambda m: m["height"]).astype("int32"),
                }
            )

    return blob_table.mapInPandas(feature_batches, FEATURES_SCHEMA)


RESIZE_SCHEMA = (
    "doc_id long, orig_width int, orig_height int, "
    "new_width int, new_height int, scale double"
)


def resize_images(blob_table: DataFrame, max_w: int = 32, max_h: int = 32) -> DataFrame:
    """Aspect-preserving resize plan via mapInPandas. The pixel
    resample itself is the stubbed decode step (no codecs in this
    container) — the real, tested parts are the Arrow batch flow and
    the target-geometry computation a real resizer would use."""

    def resize_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import pandas as _pd

        for pdf in batches:
            w = pdf["meta"].map(lambda m: m["width"]).astype("int32")
            h = pdf["meta"].map(lambda m: m["height"]).astype("int32")
            scale = (max_w / w).combine(max_h / h, min).clip(upper=1.0)
            yield _pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "orig_width": w,
                    "orig_height": h,
                    "new_width": (w * scale).astype(int).clip(lower=1).astype("int32"),
                    "new_height": (h * scale).astype(int).clip(lower=1).astype("int32"),
                    "scale": scale.round(6),
                }
            )

    return blob_table.mapInPandas(resize_batches, RESIZE_SCHEMA)


FRAMES_SCHEMA = "doc_id long, frame_index int, frame_len int, frame_head string"


def sample_frames(
    blob_table: DataFrame, frame_size: int = 32, stride: int = 2
) -> DataFrame:
    """Frame sampling for video-like blobs: treat the payload as
    concatenated fixed-size frames, emit every ``stride``-th frame's
    index, byte length, and leading-bytes fingerprint. One input row
    fans out to many output rows — exactly the mapInPandas shape a
    real frame-decoder would use (and why this is not a scalar UDF).
    No shuffle; parallel over input partitions."""

    def frame_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import pandas as _pd

        for pdf in batches:
            out: dict[str, list] = {
                "doc_id": [], "frame_index": [], "frame_len": [], "frame_head": []
            }
            for doc_id, blob in zip(pdf["doc_id"], pdf["blob"]):
                b = bytes(blob)
                n_frames = (len(b) + frame_size - 1) // frame_size
                for i in range(0, n_frames, stride):
                    frame = b[i * frame_size : (i + 1) * frame_size]
                    out["doc_id"].append(doc_id)
                    out["frame_index"].append(i)
                    out["frame_len"].append(len(frame))
                    out["frame_head"].append(frame[:4].hex())
            yield _pd.DataFrame(out)

    return blob_table.mapInPandas(frame_batches, FRAMES_SCHEMA)
