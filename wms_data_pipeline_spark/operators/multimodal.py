"""Multimodal column plumbing — image/audio/video as opaque ``binary``.

Design: a multimodal table carries ``content: binary`` plus typed metadata
(``mime_type``, ``byte_len``, per-modality structs). Heavy per-item work
(decode, resize, frame-sample, feature-extract) runs as Arrow-batched
``mapInPandas`` stages so the Python cost is amortized per batch, never per
row, and each partition streams — no driver materialization.

Codec-FREE formats are decoded for real: ``decode_image_real`` parses
binary netpbm (P6 RGB / P5 gray) headers and rasters with no image
library, and ``resize_images`` / ``image_features`` run genuine numpy
pixel work on the decoded rasters. Formats that need a codec (JPEG/PNG/
video) still raise NotImplementedError at the decode step —
Pillow/torchaudio/pyav would slot into the same contract — while
``decoder="fake"`` keeps a deterministic byte-derived twin for arbitrary
blobs. The Spark-side plumbing — schema, batch iteration, partition
flow — is identical for all of them and is real and tested.

Scale notes: binary columns make parquet row groups huge; keep
``spark.sql.files.maxPartitionBytes`` moderate and store blobs in their own
column chunk (parquet does). Repartition by a size-aware key before heavy
decode stages so one task doesn't get all the 4K videos.
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import (
    BinaryType,
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
)

IMAGE_META_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("byte_len", LongType()),
        StructField("format", StringType()),
        StructField("width", LongType()),
        StructField("height", LongType()),
        StructField("sha256", StringType()),
    ]
)


def with_binary_content(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Test adapter: treat a text column's UTF-8 bytes as the opaque blob
    (the container ships no real media). Real ingestion reads
    ``spark.read.format("binaryFile")`` → (path, modificationTime, length,
    content)."""
    return df.withColumn("content", F.col(text_col).cast("binary")).withColumn(
        "byte_len", F.octet_length(F.col(text_col)).cast("long")
    )


def encode_ppm(width: int, height: int, pixels: bytes) -> bytes:
    """Binary PPM (P6) encoder: 8-bit RGB, ``3*width*height`` pixel bytes.
    Codec-free — the netpbm header is ASCII and the raster is raw bytes."""
    if len(pixels) != 3 * width * height:
        raise ValueError(
            f"P6 {width}x{height} needs {3 * width * height} pixel bytes, "
            f"got {len(pixels)}"
        )
    return b"P6\n%d %d\n255\n" % (width, height) + pixels


def encode_bmp(width: int, height: int, pixels: bytes) -> bytes:
    """24-bit uncompressed BMP encoder from a LOGICAL raster (RGB,
    top-down, row-major, ``3*width*height`` bytes) — codec-free like
    netpbm, but with the three layout quirks real BMP files carry: rows
    stored BOTTOM-UP, channels in BGR order, and every row padded to a
    4-byte boundary. The decoder must undo all three to recover the
    logical raster, which is exactly what the oracle checks."""
    if len(pixels) != 3 * width * height:
        raise ValueError(
            f"BMP {width}x{height} needs {3 * width * height} pixel bytes, "
            f"got {len(pixels)}"
        )
    import struct

    stride = (3 * width + 3) // 4 * 4
    raster = bytearray()
    for y in range(height - 1, -1, -1):  # bottom-up
        row = bytearray()
        for x in range(width):
            j = 3 * (y * width + x)
            row += bytes((pixels[j + 2], pixels[j + 1], pixels[j]))  # BGR
        row += b"\x00" * (stride - 3 * width)
        raster += row
    off = 14 + 40
    size = off + stride * height
    header = struct.pack("<2sIHHI", b"BM", size, 0, 0, off) + struct.pack(
        "<IiiHHIIiiII", 40, width, height, 1, 24, 0, stride * height, 2835, 2835, 0, 0
    )
    return bytes(header) + bytes(raster)


def _lzw_compress_gif(indices: bytes, min_code_size: int = 8) -> bytes:
    """GIF-variant LZW compression (the real codec, public spec): variable
    code width starting at ``min_code_size+1`` bits, CLEAR/EOI codes,
    dictionary growth to 4096 with a CLEAR-reset, LSB-first bit packing.
    This is the encoder half that makes ``encode_gif`` produce genuine
    compressed GIF data the decoder must actually decompress."""
    clear = 1 << min_code_size
    eoi = clear + 1
    table: dict[bytes, int] = {bytes([i]): i for i in range(clear)}
    next_code = eoi + 1
    code_size = min_code_size + 1
    out = bytearray()
    acc = 0
    nbits = 0

    def emit(code: int) -> None:
        nonlocal acc, nbits
        acc |= code << nbits
        nbits += code_size
        while nbits >= 8:
            out.append(acc & 0xFF)
            acc >>= 8
            nbits -= 8

    emit(clear)
    seq = b""
    for b in indices:
        cand = seq + bytes([b])
        if cand in table:
            seq = cand
            continue
        emit(table[seq])
        if next_code < 4096:
            table[cand] = next_code
            next_code += 1
        # width alignment with the decoder, which appends its entry one
        # code LATER than we do: our bump at next_code == 2^cs + 1 lands
        # on exactly the code for which the decoder's table just reached
        # 2^cs (derivation in _lzw_decompress_gif's width rule)
        if next_code - 1 == (1 << code_size) and code_size < 12:
            code_size += 1
        if next_code == 4096:
            emit(clear)
            table = {bytes([i]): i for i in range(clear)}
            next_code = eoi + 1
            code_size = min_code_size + 1
        seq = bytes([b])
    if seq:
        emit(table[seq])
    # EOI is the one code emitted WITHOUT a preceding table add, so the
    # one-behind pairing above breaks here: after processing our final
    # data code the decoder appends its last entry and, if its table
    # lands exactly on 2^cs, widens BEFORE reading EOI — mirror that or
    # a boundary-sized stream raises a spurious 'truncated' error
    # (decoder table at EOI time == our next_code)
    if seq and next_code == (1 << code_size) and code_size < 12:
        code_size += 1
    emit(eoi)
    if nbits:
        out.append(acc & 0xFF)
    return bytes(out)


def _lzw_decompress_gif(data: bytes, min_code_size: int = 8) -> bytes:
    """GIF-variant LZW decompression — the decoder half of the real codec:
    LSB-first variable-width codes, CLEAR resets, the KwKwK special case
    (a code one past the table refers to prefix+prefix[0])."""
    clear = 1 << min_code_size
    eoi = clear + 1
    out = bytearray()
    table: list[bytes] = [bytes([i]) for i in range(clear)] + [b"", b""]
    code_size = min_code_size + 1
    acc = 0
    nbits = 0
    prev: bytes | None = None
    pos = 0
    while True:
        while nbits < code_size:
            if pos >= len(data):
                raise ValueError("truncated GIF LZW stream (no EOI)")
            acc |= data[pos] << nbits
            nbits += 8
            pos += 1
        code = acc & ((1 << code_size) - 1)
        acc >>= code_size
        nbits -= code_size
        if code == clear:
            table = [bytes([i]) for i in range(clear)] + [b"", b""]
            code_size = min_code_size + 1
            prev = None
            continue
        if code == eoi:
            return bytes(out)
        if prev is None:
            if code >= len(table):
                raise ValueError(f"bad first LZW code {code}")
            entry = table[code]
        elif code < len(table):
            entry = table[code]
            # 12-bit ceiling: a conforming encoder CLEARs at 4096, but a
            # foreign "deferred clear" stream keeps emitting existing codes
            # with a full table — stop growing it (codes stay <= 4095) so
            # adversarial input can't inflate memory quadratically (ADVICE r7)
            if len(table) < 4096:
                table.append(prev + entry[:1])
        elif code == len(table) and len(table) < 4096:
            entry = prev + prev[:1]  # KwKwK
            table.append(entry)
        else:
            raise ValueError(f"LZW code {code} beyond table size {len(table)}")
        out += entry
        prev = entry
        if len(table) == (1 << code_size) and code_size < 12:
            code_size += 1


def _gif_interlace_order(height: int) -> list[int]:
    """GIF89a appendix E interlace row order: pass 1 = rows 0,8,16…,
    pass 2 = 4,12…, pass 3 = 2,6,10…, pass 4 = odd rows. Returns the
    logical row index for each STORED row, in storage order."""
    order = []
    for start, step in ((0, 8), (4, 8), (2, 4), (1, 2)):
        order.extend(range(start, height, step))
    return order


def encode_gif(
    width: int, height: int, indices: bytes, palette: bytes,
    interlace: bool = False,
) -> bytes:
    """GIF87a encoder with REAL LZW compression — unlike netpbm/BMP/WAV
    (layout-only formats) the raster here is genuinely compressed, so
    decoding exercises an actual codec with zero image libraries.
    ``indices`` are 8-bit palette indices (row-major, top-down);
    ``palette`` is the 256-entry RGB global color table (768 bytes).
    ``interlace`` stores rows in the four-pass GIF interlace order (the
    progressive-rendering layout of real web GIFs) — the decoder must
    undo it."""
    import struct

    if not (0 < width <= 0xFFFF and 0 < height <= 0xFFFF):
        raise ValueError(
            f"GIF dimensions are u16 fields: {width}x{height} out of range"
        )
    if len(indices) != width * height:
        raise ValueError(
            f"GIF {width}x{height} needs {width * height} index bytes, "
            f"got {len(indices)}"
        )
    if len(palette) != 768:
        raise ValueError(f"global color table must be 768 bytes, got {len(palette)}")
    out = bytearray(b"GIF87a")
    # logical screen descriptor: global table, 8 bits/channel, 256 entries
    out += struct.pack("<HHBBB", width, height, 0xF7, 0, 0)
    out += palette
    out += b"," + struct.pack(
        "<HHHHB", 0, 0, width, height, 0x40 if interlace else 0
    )
    out.append(8)  # LZW minimum code size
    if interlace:
        indices = b"".join(
            indices[r * width : (r + 1) * width]
            for r in _gif_interlace_order(height)
        )
    comp = _lzw_compress_gif(indices, 8)
    for i in range(0, len(comp), 255):
        chunk = comp[i : i + 255]
        out.append(len(chunk))
        out += chunk
    out += b"\x00;"
    return bytes(out)


def encode_gif_animation(
    width: int, height: int, frames: "list[bytes]", palette: bytes,
    delay_cs: int = 10,
) -> bytes:
    """GIF89a ANIMATION encoder: N full-frame rasters, each behind its
    own graphic-control extension (delay in centiseconds, disposal 1 =
    leave in place) plus the NETSCAPE2.0 loop extension — the layout
    real animated GIFs ship, with the same genuine per-frame LZW
    compression as ``encode_gif``."""
    import struct

    if not frames:
        raise ValueError("animation needs at least one frame")
    if not (0 < width <= 0xFFFF and 0 < height <= 0xFFFF):
        raise ValueError(
            f"GIF dimensions are u16 fields: {width}x{height} out of range"
        )
    if len(palette) != 768:
        raise ValueError(f"global color table must be 768 bytes, got {len(palette)}")
    out = bytearray(b"GIF89a")
    out += struct.pack("<HHBBB", width, height, 0xF7, 0, 0)
    out += palette
    # NETSCAPE2.0 application extension: loop forever
    out += b"\x21\xff\x0bNETSCAPE2.0\x03\x01\x00\x00\x00"
    for idx_bytes in frames:
        if len(idx_bytes) != width * height:
            raise ValueError(
                f"GIF frame needs {width * height} index bytes, "
                f"got {len(idx_bytes)}"
            )
        # graphic control extension: disposal=1, delay, no transparency
        out += b"\x21\xf9\x04" + struct.pack("<BHB", 0x04, delay_cs, 0) + b"\x00"
        out += b"," + struct.pack("<HHHHB", 0, 0, width, height, 0)
        out.append(8)
        comp = _lzw_compress_gif(idx_bytes, 8)
        for i in range(0, len(comp), 255):
            chunk = comp[i : i + 255]
            out.append(len(chunk))
            out += chunk
        out += b"\x00"
    out += b";"
    return bytes(out)


def encode_gif_animation_frames(
    width: int, height: int, specs: "list[dict]", palette: bytes,
    delay_cs: int = 10,
) -> bytes:
    """GIF89a animation encoder with FULL per-frame control — the
    counterpart ``encode_gif_animation`` (full-screen frames, disposal 1,
    no transparency) cannot express: each spec dict carries
    ``indices`` (fw*fh palette-index bytes), optional ``left``/``top``
    offsets, ``width``/``height`` (default: the logical screen),
    ``disposal`` (0/1/2/3, default 1) and ``transparent`` (palette index
    or None). This is what real animated GIFs ship — partial-rect
    frames with transparency holes over a persistent canvas — and what
    ``gif_frames(composed=True)`` must render correctly."""
    import struct

    if not specs:
        raise ValueError("animation needs at least one frame")
    if not (0 < width <= 0xFFFF and 0 < height <= 0xFFFF):
        raise ValueError(
            f"GIF dimensions are u16 fields: {width}x{height} out of range"
        )
    if len(palette) != 768:
        raise ValueError(f"global color table must be 768 bytes, got {len(palette)}")
    out = bytearray(b"GIF89a")
    out += struct.pack("<HHBBB", width, height, 0xF7, 0, 0)
    out += palette
    out += b"\x21\xff\x0bNETSCAPE2.0\x03\x01\x00\x00\x00"
    for spec in specs:
        fl, ft = int(spec.get("left", 0)), int(spec.get("top", 0))
        fw = int(spec.get("width", width))
        fh = int(spec.get("height", height))
        disposal = int(spec.get("disposal", 1))
        trans = spec.get("transparent")
        idx_bytes = spec["indices"]
        if fl + fw > width or ft + fh > height:
            raise ValueError(
                f"frame rect ({fl},{ft})+{fw}x{fh} exceeds the "
                f"{width}x{height} logical screen"
            )
        if len(idx_bytes) != fw * fh:
            raise ValueError(
                f"GIF frame needs {fw * fh} index bytes, got {len(idx_bytes)}"
            )
        if not 0 <= disposal <= 3:
            raise ValueError(f"GIF disposal method out of range: {disposal}")
        packed = (disposal << 2) | (1 if trans is not None else 0)
        out += b"\x21\xf9\x04" + struct.pack(
            "<BHB", packed, delay_cs, trans or 0
        ) + b"\x00"
        out += b"," + struct.pack("<HHHHB", fl, ft, fw, fh, 0)
        out.append(8)
        comp = _lzw_compress_gif(idx_bytes, 8)
        for i in range(0, len(comp), 255):
            chunk = comp[i : i + 255]
            out.append(len(chunk))
            out += chunk
        out += b"\x00"
    out += b";"
    return bytes(out)


def gif_frames(content: bytes, composed: bool = False) -> "list[dict]":
    """Decode EVERY frame of a (possibly animated) GIF: the same
    header/LCT/LZW/interlace machinery as the single-image decode, but
    the walker collects all image descriptors instead of stopping at the
    first.

    ``composed=False`` (default): each frame returns its OWN stored
    raster (with left/top offsets reported) as ``indices`` + ``palette``
    — per-stored-frame statistics, GCE disposal/transparency validated
    but not applied.

    ``composed=True`` (r12): frames composite onto the logical-screen
    canvas the way a viewer renders them — each frame's opaque pixels
    (index != the GCE transparent index) draw at (left, top); after a
    frame is emitted its disposal method applies: 0/1 leave the canvas
    in place, 2 restores the frame's rectangle to the background (RGB
    zeros — browsers render the GIF background as transparent-over-
    black, and a deterministic constant is what an oracle can
    reproduce), 3 restores the canvas to its pre-frame state (one saved
    copy — the spec's restore-to-previous). Each emitted frame is the
    FULL canvas as ``rgb`` bytes (``width``/``height`` are the logical
    screen). Reserved disposal values 4-7 raise loudly — the quarantine
    contract, same as every unsupported codec variant in this module.

    Raises ValueError on truncation/corruption either way."""
    import struct

    if len(content) < 13 or content[:6] not in (b"GIF87a", b"GIF89a"):
        raise ValueError("bad GIF signature")
    sw, sh, flags, _bg, _ar = struct.unpack_from("<HHBBB", content, 6)
    pos = 13
    gct = b""
    if flags & 0x80:
        gct_len = 3 * (2 << (flags & 0x07))
        gct = content[pos : pos + gct_len]
        if len(gct) < gct_len:
            raise ValueError("truncated GIF global color table")
        pos += gct_len
    canvas = None
    if composed:
        import numpy as np

        canvas = np.zeros((sh, sw, 3), dtype=np.uint8)
    disposal = 0
    transparent: "int | None" = None
    frames = []
    while pos < len(content):
        b0 = content[pos]
        pos += 1
        if b0 == 0x3B:  # trailer
            break
        if b0 == 0x21:  # extension: parse GCE state, skip sub-blocks
            label = content[pos] if pos < len(content) else 0
            pos += 1
            if label == 0xF9 and pos + 5 <= len(content) and content[pos] == 4:
                packed = content[pos + 1]
                disposal = (packed >> 2) & 0x07
                transparent = content[pos + 4] if packed & 0x01 else None
            while pos < len(content) and content[pos]:
                pos += content[pos] + 1
            pos += 1
            continue
        if b0 != 0x2C:
            raise ValueError(f"unexpected GIF block 0x{b0:02x}")
        if pos + 9 > len(content):
            raise ValueError("truncated GIF image descriptor")
        left, top, width, height, iflags = struct.unpack_from(
            "<HHHHB", content, pos
        )
        pos += 9
        palette = gct
        if iflags & 0x80:
            lct_len = 3 * (2 << (iflags & 0x07))
            palette = content[pos : pos + lct_len]
            if len(palette) < lct_len:
                raise ValueError("truncated GIF local color table")
            pos += lct_len
        if pos >= len(content):
            raise ValueError("truncated GIF (missing LZW min code size)")
        min_code = content[pos]
        pos += 1
        data = bytearray()
        while pos < len(content) and content[pos]:
            n = content[pos]
            data += content[pos + 1 : pos + 1 + n]
            pos += n + 1
        pos += 1  # block terminator
        indices = _lzw_decompress_gif(bytes(data), min_code)
        if iflags & 0x40:
            if len(indices) < width * height:
                raise ValueError(
                    "truncated GIF raster: interlaced stream decoded "
                    f"to {len(indices)} indices, {width}x{height} "
                    f"needs {width * height}"
                )
            rows = [b""] * height
            for stored, logical in enumerate(_gif_interlace_order(height)):
                rows[logical] = indices[stored * width : (stored + 1) * width]
            indices = b"".join(rows)
        if len(indices) < width * height:
            raise ValueError(
                f"GIF frame decoded to {len(indices)} indices, "
                f"{width}x{height} needs {width * height}"
            )
        pal = palette + b"\x00" * max(0, 768 - len(palette))
        if not composed:
            frames.append(
                {
                    "left": left,
                    "top": top,
                    "width": width,
                    "height": height,
                    "indices": indices[: width * height],
                    "palette": pal,
                }
            )
        else:
            import numpy as np

            if disposal > 3:
                raise ValueError(
                    f"unsupported GIF disposal method {disposal} "
                    "(values 4-7 are reserved by the GIF89a spec)"
                )
            if left + width > sw or top + height > sh:
                raise ValueError(
                    f"GIF frame rect ({left},{top})+{width}x{height} "
                    f"exceeds the {sw}x{sh} logical screen"
                )
            idx = np.frombuffer(
                indices[: width * height], dtype=np.uint8
            ).reshape(height, width)
            pal_arr = np.frombuffer(pal[:768], dtype=np.uint8).reshape(256, 3)
            # disposal 3 (restore-to-previous): the canvas reverts to its
            # state BEFORE this frame drew — one saved copy, not a stack
            # (the spec restores to the pre-frame state, which is what the
            # prior iteration's disposal already produced)
            saved = canvas.copy() if disposal == 3 else None
            region = canvas[top : top + height, left : left + width]
            if transparent is None:
                region[:] = pal_arr[idx]
            else:
                mask = idx != transparent
                region[mask] = pal_arr[idx][mask]
            frames.append(
                {
                    "left": 0,
                    "top": 0,
                    "width": sw,
                    "height": sh,
                    "rgb": canvas.tobytes(),
                }
            )
            if disposal == 2:
                canvas[top : top + height, left : left + width] = 0
            elif disposal == 3:
                canvas = saved
            disposal = 0  # GCE applies to one image only (GIF89a spec)
            transparent = None
    if not frames:
        raise ValueError("GIF contains no image descriptor")
    return frames


def _paeth(a: int, b: int, c: int) -> int:
    """PNG Paeth predictor (RFC 2083): pick the neighbor (left, up,
    up-left) closest to a + b - c, ties resolved left > up > up-left."""
    p = a + b - c
    pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
    if pa <= pb and pa <= pc:
        return a
    if pb <= pc:
        return b
    return c


#: Adam7 interlace pass geometry: (col_start, row_start, col_step,
#: row_step) per pass, PNG spec §8.2. Each pass is an independent
#: sub-image with its own scanline filter chain.
_ADAM7 = (
    (0, 0, 8, 8),
    (4, 0, 8, 8),
    (0, 4, 4, 8),
    (2, 0, 4, 4),
    (0, 2, 2, 4),
    (1, 0, 2, 2),
    (0, 1, 1, 2),
)


def _png_filter_rows(rows, bpp: int, filter_of, start: int) -> bytearray:
    """Apply PNG scanline filters to equal-stride ``rows`` (filter type
    chosen by ``filter_of(start + k)`` — the global scanline index, so an
    interlaced image keeps cycling filters across passes). The prior row
    starts at zeros — per spec, each Adam7 pass filters independently."""
    out = bytearray()
    if not rows:
        return out
    stride = len(rows[0])
    prior = bytes(stride)
    for k, line in enumerate(rows):
        ft = filter_of(start + k)
        out.append(ft)
        if ft == 0:
            out += line
        elif ft == 1:  # Sub
            out += bytes(
                (line[x] - (line[x - bpp] if x >= bpp else 0)) & 0xFF
                for x in range(stride)
            )
        elif ft == 2:  # Up
            out += bytes((line[x] - prior[x]) & 0xFF for x in range(stride))
        elif ft == 3:  # Average
            out += bytes(
                (line[x] - ((line[x - bpp] if x >= bpp else 0) + prior[x]) // 2) & 0xFF
                for x in range(stride)
            )
        elif ft == 4:  # Paeth
            out += bytes(
                (
                    line[x]
                    - _paeth(
                        line[x - bpp] if x >= bpp else 0,
                        prior[x],
                        prior[x - bpp] if x >= bpp else 0,
                    )
                )
                & 0xFF
                for x in range(stride)
            )
        else:
            raise ValueError(f"unknown PNG filter {ft}")
        prior = bytes(line)
    return out


def _png_unfilter(
    lines, width_px: int, height: int, bpp: int, stride: "int | None" = None
) -> bytearray:
    """Undo the PNG scanline filter chain over one (sub-)image: ``lines``
    is exactly ``(stride + 1) * height`` bytes of filter-byte-prefixed
    scanlines; the prior row starts at zeros. ``stride`` defaults to
    ``bpp * width_px``; sub-8-bit depths pass the packed byte stride
    (ceil(width*depth/8)) with ``bpp=1`` (spec: filters act on bytes,
    and the per-pixel offset is one byte for packed depths)."""
    if stride is None:
        stride = bpp * width_px
    if len(lines) != (stride + 1) * height:
        raise ValueError(
            f"PNG scanline data is {len(lines)} bytes, "
            f"{width_px}x{height} needs {(stride + 1) * height}"
        )
    raster = bytearray()
    prior = bytes(stride)
    for y in range(height):
        ft = lines[y * (stride + 1)]
        line = bytearray(lines[y * (stride + 1) + 1 : (y + 1) * (stride + 1)])
        if ft == 1:
            for x in range(stride):
                line[x] = (line[x] + (line[x - bpp] if x >= bpp else 0)) & 0xFF
        elif ft == 2:
            for x in range(stride):
                line[x] = (line[x] + prior[x]) & 0xFF
        elif ft == 3:
            for x in range(stride):
                line[x] = (
                    line[x] + ((line[x - bpp] if x >= bpp else 0) + prior[x]) // 2
                ) & 0xFF
        elif ft == 4:
            for x in range(stride):
                line[x] = (
                    line[x]
                    + _paeth(
                        line[x - bpp] if x >= bpp else 0,
                        prior[x],
                        prior[x - bpp] if x >= bpp else 0,
                    )
                ) & 0xFF
        elif ft != 0:
            raise ValueError(f"unknown PNG filter {ft} on row {y}")
        raster += line
        prior = bytes(line)
    return raster


def encode_png(
    width: int, height: int, pixels: bytes, filter_of=None,
    colortype: int = 2, palette: bytes | None = None,
    interlace: bool = False, depth: int = 8,
) -> bytes:
    """PNG encoder with REAL DEFLATE compression via stdlib zlib — the
    second codec-bearing format after GIF/LZW, and a mainstream one:
    signature, IHDR/IDAT/IEND chunks with genuine CRC32s, per-scanline
    filters (``filter_of(y)`` chooses 0-4; default cycles y % 5 so
    Sub/Up/Average/Paeth are all exercised), zlib-compressed filtered
    scanlines. ``colortype``: 2 = 8-bit truecolor RGB (default,
    ``pixels`` is 3*w*h RGB bytes), 0 = 8-bit grayscale (w*h bytes),
    3 = 8-bit palette-indexed (w*h index bytes + a ``palette`` of RGB
    triplets emitted as a PLTE chunk), 4 = gray+alpha (2*w*h), 6 =
    RGBA (4*w*h). The decoder must parse chunks, verify CRCs, inflate,
    UNDO the filter chain byte-sequentially, map palette indices
    through PLTE, and strip interleaved alpha (the feature contract is
    color statistics, not compositing). ``interlace=True`` stores the
    seven Adam7 passes, each independently filtered (spec §8.2) — the
    progressive-rendering layout web PNGs commonly ship."""
    import struct
    import zlib

    if colortype not in (0, 2, 3, 4, 6):
        raise ValueError(f"encode_png: unsupported colortype {colortype}")
    if depth not in (1, 2, 4, 8, 16):
        raise ValueError(f"encode_png: unsupported bit depth {depth}")
    if depth == 16 and colortype == 3:
        raise ValueError("16-bit palette PNG is invalid per spec")
    if depth < 8 and colortype not in (0, 3):
        raise ValueError(
            f"PNG depth {depth} only valid for grayscale/palette"
        )
    if depth < 8:
        # packed depths: ``pixels`` is one SAMPLE per byte (< 2^depth);
        # rows pack MSB-first below
        if len(pixels) != width * height:
            raise ValueError(
                f"PNG {width}x{height} needs {width * height} samples, "
                f"got {len(pixels)}"
            )
        if any(p >= (1 << depth) for p in pixels):
            raise ValueError(f"sample out of range for depth {depth}")
        bpp = 1  # filter byte offset for packed depths
    else:
        # filters act on BYTES: at 16-bit each sample is 2 big-endian bytes
        bpp = {0: 1, 2: 3, 3: 1, 4: 2, 6: 4}[colortype] * (depth // 8)
        if len(pixels) != bpp * width * height:
            raise ValueError(
                f"PNG {width}x{height} needs {bpp * width * height} pixel "
                f"bytes, got {len(pixels)}"
            )
    if colortype == 3:
        if not palette or len(palette) % 3 or len(palette) > 768:
            raise ValueError(
                "palette PNG needs an RGB-triplet palette of <= 256 entries"
            )
        n_entries = len(palette) // 3
        if any(p >= n_entries for p in pixels):
            raise ValueError("palette PNG pixel index out of palette range")
    elif palette is not None:
        raise ValueError("palette only valid with colortype=3")
    if filter_of is None:
        filter_of = lambda y: y % 5  # noqa: E731
    raw = memoryview(pixels)
    sample_w = 1 if depth < 8 else bpp

    def _pack(samples: bytes) -> bytes:
        if depth >= 8:
            return bytes(samples)
        per = 8 // depth
        out = bytearray((len(samples) * depth + 7) // 8)
        for i, v in enumerate(samples):
            out[i // per] |= v << (8 - depth * (i % per + 1))
        return bytes(out)

    if not interlace:
        rows = [
            _pack(bytes(raw[y * sample_w * width : (y + 1) * sample_w * width]))
            for y in range(height)
        ]
        out_lines = _png_filter_rows(rows, bpp, filter_of, 0)
    else:
        # Adam7: seven independently filtered sub-images in pass order;
        # the filter index keeps counting across passes so the cycling
        # default still exercises all five filters
        out_lines = bytearray()
        emitted = 0
        for c0, r0, dc, dr in _ADAM7:
            wp = (width - c0 + dc - 1) // dc if width > c0 else 0
            hp = (height - r0 + dr - 1) // dr if height > r0 else 0
            if wp <= 0 or hp <= 0:
                continue
            rows = []
            for i in range(hp):
                ry = r0 + i * dr
                rows.append(
                    _pack(
                        b"".join(
                            bytes(
                                raw[
                                    (ry * width + c0 + j * dc) * sample_w
                                    : (ry * width + c0 + j * dc) * sample_w
                                    + sample_w
                                ]
                            )
                            for j in range(wp)
                        )
                    )
                )
            out_lines += _png_filter_rows(rows, bpp, filter_of, emitted)
            emitted += hp

    def chunk(ctype: bytes, data: bytes) -> bytes:
        return (
            struct.pack(">I", len(data))
            + ctype
            + data
            + struct.pack(">I", zlib.crc32(ctype + data) & 0xFFFFFFFF)
        )

    ihdr = struct.pack(
        ">IIBBBBB", width, height, depth, colortype, 0, 0,
        1 if interlace else 0,
    )
    idat = zlib.compress(bytes(out_lines), 6)
    plte = chunk(b"PLTE", bytes(palette)) if colortype == 3 else b""
    return (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", ihdr)
        + plte
        + chunk(b"IDAT", idat)
        + chunk(b"IEND", b"")
    )


def _decode_png(content: bytes) -> dict:
    """PNG parse + inflate + filter undo (stdlib zlib, no image library):
    chunk walk with CRC32 verification, IHDR validation (8-bit
    truecolor, grayscale, palette-indexed, gray+alpha, RGBA; Adam7
    interlace supported — seven independently filtered passes unfiltered
    with zeroed priors and scattered back, r11), concatenated-IDAT zlib
    inflate, the byte-sequential unfilter pass
    (None/Sub/Up/Average/Paeth), and for palette images the PLTE
    index→RGB expansion. FULL spec depth coverage (r11): 16-bit decodes
    through the same byte-wise filter chain (2-byte samples) and
    reduces to the high byte of each big-endian sample; packed 1/2/4-bit
    grayscale and palette rows unfilter at their ceil(w*depth/8) byte
    stride (filter offset 1 byte, per spec), unpack MSB-first, and
    grayscale samples scale to 8-bit (x255/85/17). tRNS transparency is
    validated then dropped (the same documented contract as the
    interleaved-alpha strip — the feature surface is color statistics).
    Raises ValueError on truncation/CRC/filter/palette/tRNS/
    depth-colortype-combination corruption — the quarantine contract."""
    import struct
    import zlib

    if len(content) < 8 or content[:8] != b"\x89PNG\r\n\x1a\n":
        raise ValueError("bad PNG signature")
    pos = 8
    width = height = None
    colortype = 2
    interlaced = False
    png_depth = 8
    plte = None
    idat = bytearray()
    while pos < len(content):
        if pos + 8 > len(content):
            raise ValueError("truncated PNG chunk header")
        clen = struct.unpack_from(">I", content, pos)[0]
        ctype = content[pos + 4 : pos + 8]
        data = content[pos + 8 : pos + 8 + clen]
        if len(data) < clen or pos + 12 + clen > len(content):
            raise ValueError(f"truncated PNG chunk {ctype!r}")
        crc = struct.unpack_from(">I", content, pos + 8 + clen)[0]
        if zlib.crc32(ctype + data) & 0xFFFFFFFF != crc:
            raise ValueError(f"PNG CRC mismatch in {ctype!r}")
        pos += 12 + clen
        if ctype == b"IHDR":
            width, height, depth, ctype_i, comp, filt, interlace = struct.unpack(
                ">IIBBBBB", data
            )
            # legal (colortype, depth) pairs per PNG spec Table 11.1
            legal = {
                0: (1, 2, 4, 8, 16),
                2: (8, 16),
                3: (1, 2, 4, 8),
                4: (8, 16),
                6: (8, 16),
            }
            if ctype_i not in legal:
                raise NotImplementedError(
                    f"unsupported PNG colortype {ctype_i}"
                )
            if depth not in legal[ctype_i]:
                raise ValueError(
                    f"PNG depth {depth} invalid for colortype {ctype_i} "
                    "per spec"
                )
            if interlace not in (0, 1):
                raise ValueError(f"bad PNG interlace method {interlace}")
            interlaced = bool(interlace)
            png_depth = depth
            colortype = ctype_i
        elif ctype == b"PLTE":
            if len(data) % 3 or not data or len(data) > 768:
                raise ValueError(f"bad PLTE length {len(data)}")
            plte = data
        elif ctype == b"tRNS":
            # transparency is DROPPED, same documented contract as the
            # interleaved alpha strip for colortypes 4/6 (the feature
            # surface is color statistics, not compositing) — but the
            # chunk is still validated per spec so corruption quarantines
            if colortype == 3:
                if plte is None or len(data) > len(plte) // 3:
                    raise ValueError(
                        "tRNS for palette PNG must follow PLTE and have "
                        "at most one alpha byte per palette entry"
                    )
            elif colortype == 0:
                if len(data) != 2:
                    raise ValueError("tRNS for grayscale PNG must be 2 bytes")
            elif colortype == 2:
                if len(data) != 6:
                    raise ValueError("tRNS for RGB PNG must be 6 bytes")
            else:
                raise ValueError(
                    f"tRNS invalid for PNG colortype {colortype} "
                    "(alpha is already a channel)"
                )
        elif ctype == b"IDAT":
            idat += data
        elif ctype == b"IEND":
            break
    if width is None:
        raise ValueError("PNG contains no IHDR")
    if colortype == 3 and plte is None:
        raise ValueError("palette PNG contains no PLTE chunk")
    try:
        lines = zlib.decompress(bytes(idat))
    except zlib.error as e:
        raise ValueError(f"corrupt PNG IDAT stream: {e}") from e
    packed = png_depth < 8
    # filter "bpp" is the per-pixel BYTE offset (spec: filters act on
    # bytes; 2 bytes per sample at depth 16, ONE byte for packed depths)
    bpp = (
        1
        if packed
        else {0: 1, 2: 3, 3: 1, 4: 2, 6: 4}[colortype]
        * (2 if png_depth == 16 else 1)
    )

    def _row_stride(px: int) -> int:
        return (px * png_depth + 7) // 8 if packed else bpp * px

    def _unpack(rowbytes, n: int) -> bytearray:
        # MSB-first bit unpacking of one packed scanline to n samples
        out = bytearray(n)
        per = 8 // png_depth
        mask = (1 << png_depth) - 1
        for i in range(n):
            out[i] = (
                rowbytes[i // per] >> (8 - png_depth * (i % per + 1))
            ) & mask
        return out

    sample_w = 1 if packed else bpp  # bytes per pixel in the raster
    if not interlaced:
        stride = _row_stride(width)
        rows = _png_unfilter(lines, width, height, bpp, stride)
        if packed:
            raster = bytearray()
            for y in range(height):
                raster += _unpack(rows[y * stride : (y + 1) * stride], width)
        else:
            raster = rows
    else:
        # Adam7: seven independently filtered sub-images, each unfiltered
        # with its own zeroed prior row, then scattered to (r0 + i*dr,
        # c0 + j*dc) — the same four-pass GIF machinery generalized
        raster = bytearray(sample_w * width * height)
        consumed = 0
        for c0, r0, dc, dr in _ADAM7:
            wp = (width - c0 + dc - 1) // dc if width > c0 else 0
            hp = (height - r0 + dr - 1) // dr if height > r0 else 0
            if wp <= 0 or hp <= 0:
                continue
            stride_p = _row_stride(wp)
            need = (stride_p + 1) * hp
            if consumed + need > len(lines):
                raise ValueError(
                    "truncated interlaced PNG: pass data ends "
                    f"{consumed + need - len(lines)} bytes short"
                )
            sub = _png_unfilter(
                lines[consumed : consumed + need], wp, hp, bpp, stride_p
            )
            consumed += need
            for i in range(hp):
                row = (
                    _unpack(sub[i * stride_p : (i + 1) * stride_p], wp)
                    if packed
                    else sub[i * stride_p : (i + 1) * stride_p]
                )
                row_base = ((r0 + i * dr) * width + c0) * sample_w
                for j in range(wp):
                    dst = row_base + j * dc * sample_w
                    raster[dst : dst + sample_w] = row[
                        j * sample_w : (j + 1) * sample_w
                    ]
        if consumed != len(lines):
            raise ValueError(
                f"interlaced PNG has {len(lines) - consumed} trailing "
                "scanline bytes"
            )
    if png_depth == 16:
        # 16 -> 8 bit: keep each big-endian sample's HIGH byte (the
        # standard depth reduction; the feature surface is 8-bit stats)
        raster = raster[::2]
        bpp //= 2
    elif packed and colortype == 0:
        # scale packed grayscale to full 8-bit range (255/85/17 per spec
        # sample scaling; exact integers)
        factor = {1: 255, 2: 85, 4: 17}[png_depth]
        raster = bytearray(v * factor for v in raster)
    if colortype == 3:
        # PLTE index -> RGB expansion; an index past the palette is file
        # corruption, not a variant — quarantine it
        n_entries = len(plte) // 3
        rgb = bytearray(3 * width * height)
        for i, idx in enumerate(raster):
            if idx >= n_entries:
                raise ValueError(
                    f"PNG palette index {idx} out of range ({n_entries} entries)"
                )
            rgb[3 * i : 3 * i + 3] = plte[3 * idx : 3 * idx + 3]
        raster = rgb
    elif colortype in (4, 6):
        # strip the interleaved alpha channel: the feature contract is
        # color statistics, not compositing (documented drop, not silent)
        keep = bpp - 1
        raster = bytes(
            b
            for i in range(0, len(raster), bpp)
            for b in raster[i : i + keep]
        )
    channels = 1 if colortype in (0, 4) else 3
    return {
        "format": "image/png",
        "width": width,
        "height": height,
        "maxval": 255,
        "pixel_bytes": channels * width * height,
        "channels": channels,
        "raster_offset": -1,
        "raster": bytes(raster),
    }


def decode_image_real(content: bytes) -> dict:
    """REAL image decode for the codec-free formats: binary PPM (``P6``,
    RGB), PGM (``P5``, grayscale), and 24-bit uncompressed BMP (``BM``) —
    header parse + raster length validation, no image library required.
    Formats needing a codec (JPEG/PNG/…) still raise; Pillow would slot
    into the same contract (``Image.open(io.BytesIO(content))``).

    Returns ``{format, width, height, maxval, pixel_bytes, channels,
    raster_offset}`` (+ ``bottom_up``/``stride`` for BMP's layout);
    raises ``ValueError`` on a malformed or truncated file."""
    magic = content[:2]
    if magic == b"\xff\xd8":
        return _decode_jpeg(content)
    if content[:8] == b"\x89PNG\r\n\x1a\n":
        return _decode_png(content)
    if content[:6] in (b"GIF87a", b"GIF89a"):
        import struct

        if len(content) < 13:
            raise ValueError("truncated GIF header")
        sw, sh, flags, _bg, _ar = struct.unpack_from("<HHBBB", content, 6)
        pos = 13
        palette = b""
        if flags & 0x80:
            gct_len = 3 * (2 << (flags & 0x07))
            palette = content[pos : pos + gct_len]
            if len(palette) < gct_len:
                raise ValueError("truncated GIF global color table")
            pos += gct_len
        width = height = None
        indices = b""
        while pos < len(content):
            b0 = content[pos]
            pos += 1
            if b0 == 0x3B:  # trailer
                break
            if b0 == 0x21:  # extension: skip label + sub-blocks
                pos += 1
                while pos < len(content) and content[pos]:
                    pos += content[pos] + 1
                pos += 1
                continue
            if b0 != 0x2C:
                raise ValueError(f"unexpected GIF block 0x{b0:02x}")
            if pos + 9 > len(content):
                raise ValueError("truncated GIF image descriptor")
            left, top, width, height, iflags = struct.unpack_from("<HHHHB", content, pos)
            pos += 9
            interlaced = bool(iflags & 0x40)
            if iflags & 0x80:  # local color table overrides
                lct_len = 3 * (2 << (iflags & 0x07))
                palette = content[pos : pos + lct_len]
                if len(palette) < lct_len:
                    raise ValueError("truncated GIF local color table")
                pos += lct_len
            if pos >= len(content):
                raise ValueError("truncated GIF (missing LZW min code size)")
            min_code = content[pos]
            pos += 1
            data = bytearray()
            while pos < len(content) and content[pos]:
                n = content[pos]
                data += content[pos + 1 : pos + 1 + n]
                pos += n + 1
            pos += 1  # block terminator
            indices = _lzw_decompress_gif(bytes(data), min_code)
            if interlaced:
                if len(indices) < width * height:
                    # raise HERE, not at the generic post-loop length
                    # check: a short interlaced stream must never reach
                    # the deinterlace scatter row-scrambled (quarantine
                    # contract — fail at the decode step that knows why)
                    raise ValueError(
                        "truncated GIF raster: interlaced stream decoded "
                        f"to {len(indices)} indices, {width}x{height} "
                        f"needs {width * height}"
                    )
                # stored rows are in four-pass order; scatter them back
                # to logical top-down order
                rows = [b""] * height
                for stored, logical in enumerate(
                    _gif_interlace_order(height)
                ):
                    rows[logical] = indices[
                        stored * width : (stored + 1) * width
                    ]
                indices = b"".join(rows)
            break
        if width is None:
            raise ValueError("GIF contains no image descriptor")
        if len(indices) < width * height:
            raise ValueError(
                f"GIF LZW stream decoded to {len(indices)} indices, "
                f"{width}x{height} needs {width * height}"
            )
        if len(palette) < 768:
            palette = palette + b"\x00" * (768 - len(palette))
        return {
            "format": "image/gif",
            "width": width,
            "height": height,
            "maxval": 255,
            "pixel_bytes": 3 * width * height,
            "channels": 3,
            "raster_offset": -1,  # raster is DECOMPRESSED, not sliced
            "indices": indices[: width * height],
            "palette": palette,
        }
    if magic == b"BM":
        import struct

        if len(content) < 54:
            raise ValueError("truncated BMP header")
        off = struct.unpack_from("<I", content, 10)[0]
        hdr_size, width, height = struct.unpack_from("<Iii", content, 14)
        bits = struct.unpack_from("<H", content, 28)[0]
        compression = struct.unpack_from("<I", content, 30)[0]
        if hdr_size < 40:
            raise ValueError(f"unsupported BMP header size {hdr_size}")
        if bits != 24 or compression != 0:
            raise NotImplementedError(
                f"only 24-bit uncompressed BMP supported (bits={bits}, "
                f"compression={compression})"
            )
        bottom_up = height > 0
        height = abs(height)
        if width <= 0 or height == 0:
            raise ValueError(f"bad BMP dimensions {width}x{height}")
        stride = (3 * width + 3) // 4 * 4
        if len(content) < off + stride * height:
            raise ValueError(
                f"truncated BMP raster: {width}x{height} needs "
                f"{stride * height} bytes at offset {off}, file is {len(content)}"
            )
        return {
            "format": "image/bmp",
            "width": width,
            "height": height,
            "maxval": 255,
            "pixel_bytes": 3 * width * height,
            "channels": 3,
            "raster_offset": off,
            "bottom_up": bottom_up,
            "stride": stride,
        }
    if magic not in (b"P6", b"P5"):
        raise NotImplementedError(
            f"unsupported image magic {magic!r}: decode covers netpbm "
            f"P6/P5, 24-bit BMP, GIF87a/89a, 8-bit truecolor PNG, and "
            f"baseline grayscale JPEG in this environment"
        )
    # netpbm header: magic, width, height, maxval as whitespace-separated
    # tokens; '#' starts a comment running to end-of-line
    pos, tokens = 2, []
    while len(tokens) < 3:
        if pos >= len(content):
            raise ValueError("truncated netpbm header")
        c = content[pos : pos + 1]
        if c == b"#":
            nl = content.find(b"\n", pos)
            pos = len(content) if nl < 0 else nl + 1
        elif c.isspace():
            pos += 1
        else:
            end = pos
            while end < len(content) and not content[end : end + 1].isspace():
                end += 1
            tokens.append(content[pos:end])
            pos = end
    pos += 1  # single whitespace after maxval, then the raster
    try:
        width, height, maxval = (int(t) for t in tokens)
    except ValueError as e:
        raise ValueError(f"bad netpbm header tokens {tokens!r}") from e
    if not (0 < maxval < 256):
        raise ValueError(f"unsupported maxval {maxval} (only 8-bit supported)")
    channels = 3 if magic == b"P6" else 1
    need = channels * width * height
    raster = content[pos:]
    if len(raster) < need:
        raise ValueError(
            f"truncated raster: {magic.decode()} {width}x{height} needs "
            f"{need} bytes, got {len(raster)}"
        )
    return {
        "format": "image/x-portable-pixmap" if magic == b"P6" else "image/x-portable-graymap",
        "width": width,
        "height": height,
        "maxval": maxval,
        "pixel_bytes": need,
        "channels": channels,
        "raster_offset": pos,
    }


def real_image_meta(doc_id: int, content: bytes) -> dict:
    """IMAGE_META_SCHEMA row via the REAL netpbm decoder."""
    import hashlib

    meta = decode_image_real(content)
    return {
        "doc_id": doc_id,
        "byte_len": len(content),
        "format": meta["format"],
        "width": meta["width"],
        "height": meta["height"],
        "sha256": hashlib.sha256(content).hexdigest(),
    }


def fake_image_meta(doc_id: int, content: bytes) -> dict:
    """Deterministic fake decode: metadata derived purely from the bytes, so
    tests and oracles can reproduce it (width = len % 640 + 1, etc.)."""
    import hashlib

    n = len(content)
    return {
        "doc_id": doc_id,
        "byte_len": n,
        "format": "fake/raw",
        "width": n % 640 + 1,
        "height": (n * 7) % 480 + 1,
        "sha256": hashlib.sha256(content).hexdigest(),
    }


def with_ppm_content(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Test adapter: a REAL binary PPM (P6) blob per row, deterministically
    derived from the id (width = id % 16 + 1, height = id % 8 + 1, pixel
    bytes = (id + i) * 31 mod 256) — so the decoded metadata is
    arithmetic on the id and therefore ORACLE-EXPRESSIBLE while the bytes
    going through the decode stage are a genuine image file."""

    @pandas_udf("binary")
    def _blob(ids: pd.Series) -> pd.Series:
        out = []
        for i in ids:
            i = int(i)
            w, h = i % 16 + 1, i % 8 + 1
            pixels = bytes(((i + j) * 31) % 256 for j in range(3 * w * h))
            out.append(encode_ppm(w, h, pixels))
        return pd.Series(out)

    return df.withColumn("content", _blob(F.col(id_col)))


def with_bmp_content(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Test adapter: a REAL 24-bit BMP blob per row, deterministically
    derived from the id (width = id % 8 + 2, height = id % 4 + 2, logical
    RGB raster byte j = ((id + j) * 37) % 256) — decoded metadata and
    channel statistics are arithmetic on the id and therefore
    ORACLE-EXPRESSIBLE, while the bytes carry the genuine BMP layout
    (bottom-up, BGR, 4-byte row padding) the decoder must undo."""

    @pandas_udf("binary")
    def _blob(ids: pd.Series) -> pd.Series:
        # pure function of id % 256 (byte formula period 256; 8 and 4
        # divide 256, so w/h ride along) — memoized per batch so the
        # Python encoder runs once per distinct image, not per row
        # (r14, guide §4.5; bytes identical by construction)
        cache: dict = {}
        out = []
        for i in ids:
            i = int(i)
            key = i % 256
            blob = cache.get(key)
            if blob is None:
                w, h = i % 8 + 2, i % 4 + 2
                pixels = bytes(((i + j) * 37) % 256 for j in range(3 * w * h))
                blob = cache[key] = encode_bmp(w, h, pixels)
            out.append(blob)
        return pd.Series(out)

    return df.withColumn("content", _blob(F.col(id_col)))


def with_png_content(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Test adapter: a REAL PNG blob per row, deterministically derived
    from the id (width = id % 8 + 2, height = id % 4 + 2, RGB raster byte
    j = ((id + 2 * j) * 29) % 256, scanline filter (id + y) % 5 so every
    filter type appears across the corpus) — channel statistics are
    arithmetic on the id and therefore ORACLE-EXPRESSIBLE, while the
    bytes carry genuine DEFLATE compression + the full filter chain the
    decoder must undo. The LAYOUT varies by id % 3 — plain 8-bit, Adam7
    interlaced, 16-bit Adam7 (high byte = the formula value, low byte a
    second deterministic stream the reduction must discard) — so the
    driver-verified hash covers the interlace scatter and the depth
    reduction on two thirds of the corpus while the decoded statistics
    (and the oracle) stay IDENTICAL by the roundtrip contract."""

    @pandas_udf("binary")
    def _blob(ids: pd.Series) -> pd.Series:
        out = []
        for i in ids:
            i = int(i)
            w, h = i % 8 + 2, i % 4 + 2
            hi = [((i + 2 * j) * 29) % 256 for j in range(3 * w * h)]
            variant = i % 3
            if variant == 2:
                pixels = b"".join(
                    bytes([v, ((i + 5 * j) * 31) % 256])
                    for j, v in enumerate(hi)
                )
                depth = 16
            else:
                pixels = bytes(hi)
                depth = 8
            out.append(
                encode_png(
                    w, h, pixels,
                    filter_of=lambda y, i=i: (i + y) % 5,
                    interlace=variant > 0,
                    depth=depth,
                )
            )
        return pd.Series(out)

    return df.withColumn("content", _blob(F.col(id_col)))


def with_gif_content(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Test adapter: a REAL GIF87a blob per row, deterministically derived
    from the id (width = id % 8 + 2, height = id % 4 + 2, palette index at
    raster position p = ((id + p) * 41) % 251, palette entry i =
    (i, (2i) % 256, (3i) % 256)) — channel statistics are arithmetic on
    the id and therefore ORACLE-EXPRESSIBLE, while the bytes carry a
    genuine LZW-COMPRESSED raster the decoder must actually decompress
    (the first codec-bearing format here; netpbm/BMP/WAV are layout-only)."""
    palette = bytes(
        b for i in range(256) for b in (i, (2 * i) % 256, (3 * i) % 256)
    )

    @pandas_udf("binary")
    def _blob(ids: pd.Series) -> pd.Series:
        # pure function of (id % 251, id % 8) — index formula period 251
        # (prime), w/h read id mod 8 / mod 4 (4 divides 8); see
        # with_bmp_content for the memo rationale
        cache: dict = {}
        out = []
        for i in ids:
            i = int(i)
            key = (i % 251, i % 8)
            blob = cache.get(key)
            if blob is None:
                w, h = i % 8 + 2, i % 4 + 2
                idx = bytes(((i + p) * 41) % 251 for p in range(w * h))
                blob = cache[key] = encode_gif(w, h, idx, palette)
            out.append(blob)
        return pd.Series(out)

    return df.withColumn("content", _blob(F.col(id_col)))


def decode_images(
    df: DataFrame,
    id_col: str = "doc_id",
    content_col: str = "content",
    decoder: str = "fake",
) -> DataFrame:
    """Arrow-batched decode stage: mapInPandas over (id, content) →
    IMAGE_META_SCHEMA. ``decoder="fake"`` derives deterministic metadata
    from the bytes (any blob, oracle-reproducible); ``decoder="real"``
    runs the codec-free netpbm decoder (``decode_image_real``) — real
    header parse + raster validation — and raises on non-netpbm bytes.
    Either way the plumbing (batch shape, schema, partition streaming) is
    the production path a Pillow-backed decoder would ride unchanged."""
    if decoder not in ("fake", "real"):
        raise ValueError(f"unknown decoder {decoder!r}")
    meta_fn = fake_image_meta if decoder == "fake" else real_image_meta

    def _decode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = [
                meta_fn(int(i), bytes(c) if c is not None else b"")
                for i, c in zip(pdf[id_col], pdf[content_col])
            ]
            yield pd.DataFrame(out)

    narrow = df.select(id_col, content_col)
    # decode is CPU-bound per item: fan a small input out across cores
    par = df.sparkSession.sparkContext.defaultParallelism
    if narrow.rdd.getNumPartitions() < par:
        narrow = narrow.repartition(par)
    return narrow.mapInPandas(_decode, IMAGE_META_SCHEMA)


def netpbm_array(content: bytes):
    """Decode a codec-free image blob (netpbm P6/P5 or 24-bit BMP) to an
    (height, width, channels) uint8 numpy array in LOGICAL layout (RGB,
    top-down) — real pixel access, no codec library. For BMP this undoes
    the physical layout: strips per-row padding, flips the bottom-up row
    order, and swaps BGR→RGB."""
    import numpy as np

    meta = decode_image_real(content)
    off = meta["raster_offset"]
    h, w, ch = meta["height"], meta["width"], meta["channels"]
    if meta["format"] in ("image/png", "image/jpeg"):
        # raster is already DECODED to logical layout (PNG: inflated +
        # unfiltered + palette-expanded; JPEG: Huffman + IDCT + color
        # transform); channels says whether it is gray or RGB
        arr = np.frombuffer(meta["raster"], dtype=np.uint8)
        return arr.reshape(h, w, ch), meta
    if meta["format"] == "image/gif":
        # palette-mapped: LZW-decompressed indices -> RGB via the color table
        pal = np.frombuffer(meta["palette"], dtype=np.uint8).reshape(256, 3)
        idx = np.frombuffer(meta["indices"], dtype=np.uint8)
        return pal[idx].reshape(h, w, 3), meta
    if meta["format"] == "image/bmp":
        stride = meta["stride"]
        rows = np.frombuffer(
            content[off : off + stride * h], dtype=np.uint8
        ).reshape(h, stride)[:, : 3 * w]
        arr = rows.reshape(h, w, 3)
        if meta["bottom_up"]:
            arr = arr[::-1]
        arr = arr[:, :, ::-1]  # BGR -> RGB
        return np.ascontiguousarray(arr), meta
    need = meta["pixel_bytes"]
    arr = np.frombuffer(content[off : off + need], dtype=np.uint8)
    return arr.reshape(h, w, ch), meta


RESIZE_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("width", LongType()),
        StructField("height", LongType()),
        StructField("out_w", LongType()),
        StructField("out_h", LongType()),
        StructField("checksum", LongType()),
    ]
)


def resize_images(
    df: DataFrame,
    out_w: int,
    out_h: int,
    id_col: str = "doc_id",
    content_col: str = "content",
) -> DataFrame:
    """REAL nearest-neighbor resize of netpbm images in the Arrow decode
    stage: source index = ``(dst * src_extent) // dst_extent`` (integer
    floor — the standard NN mapping, exactly reproducible in SQL for an
    arithmetic test raster). Emits original + target dims and the resized
    raster's byte checksum; at scale the resized bytes themselves would be
    re-encoded and written back as a binary column — same stage, same
    batch shape, heavier payload."""
    import numpy as np

    def _resize(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = []
            for i, c in zip(pdf[id_col], pdf[content_col]):
                img, meta = netpbm_array(bytes(c))
                h, w = img.shape[0], img.shape[1]
                rows = (np.arange(out_h) * h) // out_h
                cols = (np.arange(out_w) * w) // out_w
                resized = img[rows][:, cols]
                out.append(
                    {
                        "doc_id": int(i),
                        "width": w,
                        "height": h,
                        "out_w": out_w,
                        "out_h": out_h,
                        "checksum": int(resized.sum(dtype=np.int64)),
                    }
                )
            yield pd.DataFrame(out)

    narrow = df.select(id_col, content_col)
    par = df.sparkSession.sparkContext.defaultParallelism
    if narrow.rdd.getNumPartitions() < par:
        narrow = narrow.repartition(par)
    return narrow.mapInPandas(_resize, RESIZE_SCHEMA)


FEATURES_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("width", LongType()),
        StructField("height", LongType()),
        StructField("sum_r", LongType()),
        StructField("sum_g", LongType()),
        StructField("sum_b", LongType()),
    ]
)


def image_features(
    df: DataFrame, id_col: str = "doc_id", content_col: str = "content"
) -> DataFrame:
    """REAL per-channel feature extraction (mean intensity) over decoded
    netpbm rasters — the embedding-ish reduce a vision pipeline runs after
    decode. Grayscale images report the same value on all three channels.

    The Python stage emits EXACT integer channel sums; the mean =
    ``round(sum / (w*h), 6)`` division happens JVM-side (``F.round``,
    decimal HALF_UP — the same rule SQL engines use). Rounding inside the
    UDF would use Python's banker's rounding, which disagrees with SQL at
    exact .5 ulps — e.g. any 16×8 raster, where n=128 makes x/128 land on
    a 7-decimal-digit 5."""
    import numpy as np

    def _features(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = []
            for i, c in zip(pdf[id_col], pdf[content_col]):
                img, meta = netpbm_array(bytes(c))
                h, w, ch = img.shape
                sums = [int(s) for s in img.sum(axis=(0, 1), dtype=np.int64)]
                if ch == 1:
                    sums = sums * 3
                out.append(
                    {
                        "doc_id": int(i),
                        "width": w,
                        "height": h,
                        "sum_r": sums[0],
                        "sum_g": sums[1],
                        "sum_b": sums[2],
                    }
                )
            yield pd.DataFrame(out)

    narrow = df.select(id_col, content_col)
    par = df.sparkSession.sparkContext.defaultParallelism
    if narrow.rdd.getNumPartitions() < par:
        narrow = narrow.repartition(par)
    feats = narrow.mapInPandas(_features, FEATURES_SCHEMA)
    n = F.col("width") * F.col("height")
    return feats.select(
        "doc_id",
        "width",
        "height",
        F.round(F.col("sum_r") / n, 6).alias("mean_r"),
        F.round(F.col("sum_g") / n, 6).alias("mean_g"),
        F.round(F.col("sum_b") / n, 6).alias("mean_b"),
    )


def frame_sample_stub(df: DataFrame, every_n: int = 30) -> DataFrame:
    """Video frame-sampling contract: one output row per sampled frame.
    Stubbed as a pure-metadata expansion (frame index sequence from
    byte_len) to exercise the explode-shaped plumbing."""
    n_frames = (F.col("byte_len") / F.lit(1000) + 1).cast("long")
    return df.withColumn(
        "frame_idx",
        F.explode(F.sequence(F.lit(0), F.greatest(n_frames - 1, F.lit(0)), F.lit(every_n))),
    )


# --------------------------------------------------------------------- audio


def encode_wav_pcm16(sample_rate: int, samples: "list[int] | bytes") -> bytes:
    """Canonical RIFF/WAVE encoder for mono 16-bit PCM — codec-free like
    netpbm: the header is fixed-layout little-endian structs and the data
    chunk is raw samples."""
    import struct

    if not isinstance(samples, (bytes, bytearray)):
        data = struct.pack(f"<{len(samples)}h", *samples)
    else:
        data = bytes(samples)
    channels, bits = 1, 16
    block_align = channels * bits // 8
    return (
        b"RIFF"
        + struct.pack("<I", 36 + len(data))
        + b"WAVE"
        + b"fmt "
        + struct.pack(
            "<IHHIIHH", 16, 1, channels, sample_rate,
            sample_rate * block_align, block_align, bits,
        )
        + b"data"
        + struct.pack("<I", len(data))
        + data
    )


def encode_wav(
    sample_rate: int, data: bytes, bits: int = 16,
    audio_format: int = 1, channels: int = 1,
) -> bytes:
    """General RIFF/WAVE encoder: raw sample ``data`` with the given
    ``bits``/``audio_format``/``channels`` declared in the fmt chunk —
    used to author 8-bit PCM and G.711 µ-law fixtures the decoder must
    handle (format 7 is the telephony companding every call-center data
    lake carries)."""
    import struct

    block_align = max(1, channels * bits // 8)
    return (
        b"RIFF"
        + struct.pack("<I", 36 + len(data))
        + b"WAVE"
        + b"fmt "
        + struct.pack(
            "<IHHIIHH", 16, audio_format, channels, sample_rate,
            sample_rate * block_align, block_align, bits,
        )
        + b"data"
        + struct.pack("<I", len(data))
        + data
    )


def mulaw_encode(samples) -> bytes:
    """G.711 µ-law companding of int16 samples (ITU-T G.711, the standard
    lossy 2:1 telephony format — public method): bias 0x84, 8 segments,
    4-bit mantissa, ones-complement output."""
    out = bytearray()
    for s in samples:
        s = int(s)
        sign = 0x80 if s < 0 else 0
        mag = min((-s if s < 0 else s) + 0x84, 0x7FFF)
        exp = mag.bit_length() - 8  # segment: top set bit above the bias
        mant = (mag >> (exp + 3)) & 0x0F
        out.append(~(sign | (exp << 4) | mant) & 0xFF)
    return bytes(out)


def alaw_encode(samples) -> bytes:
    """G.711 A-law companding of int16 samples (ITU-T G.711's other half
    — the European/international telephony standard, public method):
    13-bit input (top 13 of the int16), 8 segments, 4-bit mantissa,
    even-bit inversion (XOR 0x55) instead of µ-law's ones-complement;
    sign bit SET for non-negative."""
    out = bytearray()
    for s in samples:
        s = int(s) >> 3  # 13-bit magnitude domain
        if s >= 0:
            mask = 0xD5  # sign bit + even-bit toggle
        else:
            mask = 0x55
            s = -s - 1
        if s < 0x20:
            aval = s >> 1  # segments 0-1 share the linear step
        else:
            exp = s.bit_length() - 5  # segment 1..7 (s <= 0xFFF)
            exp = min(exp, 7)
            aval = (exp << 4) | ((s >> exp) & 0x0F)
        out.append(aval ^ mask)
    return bytes(out)


def decode_audio_real(content: bytes) -> dict:
    """REAL audio decode for the codec-free WAV container: RIFF header
    walk (fmt + data chunks, arbitrary chunk order, odd-size padding per
    spec), format and bit-depth validation — no audio library. Accepts
    16-bit and 8-bit (unsigned) PCM and 8-bit G.711 µ-law (format 7);
    compressed formats (MP3/AAC/…) raise; a torchaudio/pyav decoder
    would slot into the same contract.

    Returns ``{format, channels, sample_rate, bits, audio_format,
    n_samples, data_offset}``; raises ``ValueError`` on
    malformed/truncated files. Formats: 1 = PCM (16/8-bit), 6 = G.711
    A-law, 7 = G.711 µ-law — both halves of the telephony companding
    standard."""
    import struct

    if content[:4] != b"RIFF" or content[8:12] != b"WAVE":
        raise NotImplementedError(
            "unsupported audio container: only codec-free RIFF/WAVE PCM "
            "decode is available in this environment"
        )
    pos, fmt, data_off, data_len = 12, None, None, None
    while pos + 8 <= len(content):
        cid = content[pos : pos + 4]
        (size,) = struct.unpack("<I", content[pos + 4 : pos + 8])
        body = pos + 8
        if cid == b"fmt ":
            if size < 16 or body + 16 > len(content):
                raise ValueError("truncated fmt chunk")
            fmt = struct.unpack("<HHIIHH", content[body : body + 16])
        elif cid == b"data":
            data_off, data_len = body, size
        pos = body + size + (size & 1)  # chunks are word-aligned
    if fmt is None or data_off is None:
        raise ValueError("missing fmt or data chunk")
    audio_format, channels, sample_rate, _byte_rate, _block, bits = fmt
    if (audio_format, bits) not in ((1, 16), (1, 8), (6, 8), (7, 8)):
        raise ValueError(
            f"unsupported WAV encoding (format={audio_format}, bits={bits}): "
            "16/8-bit PCM and 8-bit G.711 a-law/mu-law only"
        )
    if data_off + data_len > len(content):
        raise ValueError("truncated data chunk")
    return {
        "format": "audio/wav",
        "channels": channels,
        "sample_rate": sample_rate,
        "bits": bits,
        "audio_format": audio_format,
        "n_samples": data_len // (channels * bits // 8),
        "data_offset": data_off,
    }


#: µ-law / A-law byte -> int16 expansion tables (G.711 inverses), built
#: once: the decoder's hot path is a table lookup over the sample array,
#: not per-sample arithmetic.
_MULAW_TABLE = None
_ALAW_TABLE = None


def _alaw_table():
    global _ALAW_TABLE
    if _ALAW_TABLE is None:
        import numpy as np

        t = np.empty(256, dtype=np.int16)
        for b in range(256):
            a = b ^ 0x55
            mag = (a & 0x0F) << 4
            seg = (a & 0x70) >> 4
            if seg == 0:
                mag += 8
            elif seg == 1:
                mag += 0x108
            else:
                mag = (mag + 0x108) << (seg - 1)
            t[b] = mag if (a & 0x80) else -mag
        _ALAW_TABLE = t
    return _ALAW_TABLE


def _mulaw_table():
    global _MULAW_TABLE
    if _MULAW_TABLE is None:
        import numpy as np

        t = np.empty(256, dtype=np.int16)
        for b in range(256):
            u = ~b & 0xFF
            sign, exp, mant = u & 0x80, (u >> 4) & 7, u & 0x0F
            mag = (((mant << 3) + 0x84) << exp) - 0x84
            t[b] = -mag if sign else mag
        _MULAW_TABLE = t
    return _MULAW_TABLE


def wav_samples(content: bytes):
    """Decode a WAV blob to an int16 numpy sample array (mono or
    interleaved) — real sample access for feature extraction. 8-bit PCM
    (unsigned, zero at 128) is widened to int16 as ``(b - 128) << 8``;
    µ-law and A-law expand through their G.711 inverse tables — every
    supported encoding lands in the SAME int16 space so downstream
    stats are encoding-agnostic."""
    import numpy as np

    meta = decode_audio_real(content)
    off = meta["data_offset"]
    nb = meta["bits"] // 8
    n = meta["n_samples"] * meta["channels"]
    raw = content[off : off + nb * n]
    if meta["audio_format"] == 7:
        arr = _mulaw_table()[np.frombuffer(raw, dtype=np.uint8)]
    elif meta["audio_format"] == 6:
        arr = _alaw_table()[np.frombuffer(raw, dtype=np.uint8)]
    elif meta["bits"] == 8:
        arr = (
            (np.frombuffer(raw, dtype=np.uint8).astype(np.int16) - 128) << 8
        )
    else:
        arr = np.frombuffer(raw, dtype="<i2")
    return arr, meta


def with_wav_content(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Test adapter: a REAL mono 16-bit PCM WAV per row, deterministically
    derived from the id (n = id % 800 + 10 samples at 8 kHz, sample[j] =
    ((id + j) * 37) % 65536 - 32768) — decoded metadata and sample
    statistics are arithmetic on the id and therefore ORACLE-EXPRESSIBLE
    while the bytes are a genuine WAV file."""
    import numpy as np

    @pandas_udf("binary")
    def _blob(ids: pd.Series) -> pd.Series:
        out = []
        for i in ids:
            i = int(i)
            n = i % 800 + 10
            samples = ((i + np.arange(n, dtype=np.int64)) * 37) % 65536 - 32768
            out.append(encode_wav_pcm16(8000, samples.astype("<i2").tobytes()))
        return pd.Series(out)

    return df.withColumn("content", _blob(F.col(id_col)))


AUDIO_META_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("format", StringType()),
        StructField("channels", LongType()),
        StructField("sample_rate", LongType()),
        StructField("n_samples", LongType()),
        StructField("sum_abs", LongType()),
        StructField("sum_sq", LongType()),
    ]
)


def audio_features(
    df: DataFrame, id_col: str = "doc_id", content_col: str = "content"
) -> DataFrame:
    """REAL audio decode + feature extraction in one Arrow stage: WAV
    header walk, int16 sample decode, exact integer |x| and x² sums, then
    the RMS = ``round(sqrt(sum_sq/n), 6)`` division JVM-side (sqrt is
    IEEE-correctly-rounded, so the value is engine-independent; the same
    HALF_UP rationale as image_features)."""
    import numpy as np

    def _features(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = []
            for i, c in zip(pdf[id_col], pdf[content_col]):
                arr, meta = wav_samples(bytes(c))
                a = arr.astype(np.int64)
                out.append(
                    {
                        "doc_id": int(i),
                        "format": meta["format"],
                        "channels": meta["channels"],
                        "sample_rate": meta["sample_rate"],
                        "n_samples": meta["n_samples"],
                        "sum_abs": int(np.abs(a).sum()),
                        "sum_sq": int((a * a).sum()),
                    }
                )
            yield pd.DataFrame(out)

    narrow = df.select(id_col, content_col)
    par = df.sparkSession.sparkContext.defaultParallelism
    if narrow.rdd.getNumPartitions() < par:
        narrow = narrow.repartition(par)
    feats = narrow.mapInPandas(_features, AUDIO_META_SCHEMA)
    return feats.select(
        "doc_id",
        "format",
        "channels",
        "sample_rate",
        "n_samples",
        "sum_abs",
        F.round(F.sqrt(F.col("sum_sq") / F.col("n_samples")), 6).alias("rms"),
    )


# ---------------------------------------------------------------- JPEG codec
# Baseline sequential DCT JPEG (ITU-T T.81), grayscale, standard Annex K
# luminance Huffman tables — a REAL transform codec (bit-level Huffman
# entropy coding, zigzag run-length, 8x8 DCT) built on numpy + struct only.
# Completes the codec ladder: netpbm/BMP/WAV (layout), GIF (LZW), PNG
# (DEFLATE via zlib), JPEG (DCT + Huffman, fully hand-rolled).

_JPEG_ZIGZAG = (
    0, 1, 8, 16, 9, 2, 3, 10, 17, 24, 32, 25, 18, 11, 4, 5,
    12, 19, 26, 33, 40, 48, 41, 34, 27, 20, 13, 6, 7, 14, 21, 28,
    35, 42, 49, 56, 57, 50, 43, 36, 29, 22, 15, 23, 30, 37, 44, 51,
    58, 59, 52, 45, 38, 31, 39, 46, 53, 60, 61, 54, 47, 55, 62, 63,
)
#: Annex K.3 luminance DC: code-length counts for lengths 1..16 + symbols.
_JPEG_DC_BITS = (0, 1, 5, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0, 0, 0)
_JPEG_DC_VALS = tuple(range(12))
#: Annex K.5 luminance AC.
_JPEG_AC_BITS = (0, 2, 1, 3, 3, 2, 4, 3, 5, 5, 4, 4, 0, 0, 1, 125)
_JPEG_AC_VALS = (
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
    0xF3, 0xF4, 0xF5, 0xF6, 0xF7, 0xF8, 0xF9, 0xFA,
)


def _jpeg_huff_codes(bits, vals):
    """Canonical Huffman code assignment (T.81 C.2): symbol -> (len, code)."""
    codes, code, k = {}, 0, 0
    for ln in range(1, 17):
        for _ in range(bits[ln - 1]):
            codes[vals[k]] = (ln, code)
            code += 1
            k += 1
        code <<= 1
    return codes


def _dct_matrix():
    """Orthonormal 8x8 DCT-II basis C (C @ C.T = I): forward S = C B C^T,
    inverse B = C^T S C — identical to T.81's normalization."""
    import numpy as np

    x = np.arange(8)
    C = 0.5 * np.cos((2 * x[None, :] + 1) * x[:, None] * np.pi / 16)
    C[0] *= 1.0 / np.sqrt(2.0)
    return C


def encode_jpeg(
    width: int, height: int, gray: bytes, qtable=None
) -> bytes:
    """Baseline sequential JPEG encoder (grayscale, 8-bit): level shift,
    8x8 orthonormal DCT, quantization (default all-ones table — the
    near-lossless setting the exact-oracle test corpus relies on),
    zigzag, differential-DC + run-length-AC Huffman coding with the
    standard Annex K luminance tables, 0xFF byte stuffing. Edge blocks
    pad by edge replication; the SOF0 header carries the TRUE size."""
    import struct

    import numpy as np

    if len(gray) != width * height:
        raise ValueError(
            f"JPEG {width}x{height} needs {width * height} gray bytes, "
            f"got {len(gray)}"
        )
    q = (
        np.ones((8, 8), dtype=np.int64)
        if qtable is None
        else np.asarray(qtable, dtype=np.int64).reshape(8, 8)
    )
    if (q < 1).any() or (q > 255).any():
        raise ValueError("JPEG quant table entries must be in 1..255")
    img = np.frombuffer(gray, np.uint8).reshape(height, width).astype(np.float64)
    H, W = -(-height // 8) * 8, -(-width // 8) * 8
    img = np.pad(img, ((0, H - height), (0, W - width)), mode="edge") - 128.0
    C = _dct_matrix()
    dc_codes = _jpeg_huff_codes(_JPEG_DC_BITS, _JPEG_DC_VALS)
    ac_codes = _jpeg_huff_codes(_JPEG_AC_BITS, _JPEG_AC_VALS)

    scan = bytearray()
    bitbuf, bitcnt = 0, 0

    def put(val: int, n: int) -> None:
        nonlocal bitbuf, bitcnt
        bitbuf = (bitbuf << n) | (val & ((1 << n) - 1))
        bitcnt += n
        while bitcnt >= 8:
            b = (bitbuf >> (bitcnt - 8)) & 0xFF
            scan.append(b)
            if b == 0xFF:
                scan.append(0x00)  # byte stuffing
            bitcnt -= 8
        bitbuf &= (1 << bitcnt) - 1

    def put_magnitude(v: int) -> int:
        """Emit the magnitude bits of v, return its category (size)."""
        s = abs(v).bit_length()
        if s:
            put(v if v >= 0 else v + (1 << s) - 1, s)
        return s

    prev_dc = 0
    for by in range(H // 8):
        for bx in range(W // 8):
            block = img[8 * by : 8 * by + 8, 8 * bx : 8 * bx + 8]
            coef = np.round((C @ block @ C.T) / q).astype(np.int64)
            zz = coef.reshape(-1)[list(_JPEG_ZIGZAG)]
            diff = int(zz[0]) - prev_dc
            prev_dc = int(zz[0])
            ln, code = dc_codes[abs(diff).bit_length()]
            put(code, ln)
            put_magnitude(diff)
            run = 0
            nz = np.flatnonzero(zz[1:])
            last = nz[-1] + 1 if len(nz) else 0
            for k in range(1, last + 1):
                v = int(zz[k])
                if v == 0:
                    run += 1
                    continue
                while run > 15:
                    ln, code = ac_codes[0xF0]  # ZRL
                    put(code, ln)
                    run -= 16
                ln, code = ac_codes[(run << 4) | abs(v).bit_length()]
                put(code, ln)
                put_magnitude(v)
                run = 0
            if last < 63:
                ln, code = ac_codes[0x00]  # EOB
                put(code, ln)
    if bitcnt:
        put(0xFF, 8 - bitcnt)  # pad with 1s

    zz_q = q.reshape(-1)[list(_JPEG_ZIGZAG)]
    out = bytearray(b"\xff\xd8")  # SOI
    out += b"\xff\xdb" + struct.pack(">HB", 67, 0x00) + bytes(
        int(v) for v in zz_q
    )  # DQT, 8-bit, id 0, zigzag order
    out += b"\xff\xc0" + struct.pack(
        ">HBHHBBBB", 11, 8, height, width, 1, 1, 0x11, 0
    )  # SOF0: 1 component, 1x1 sampling, qtable 0
    out += (
        b"\xff\xc4"
        + struct.pack(">HB", 2 + 1 + 16 + len(_JPEG_DC_VALS), 0x00)
        + bytes(_JPEG_DC_BITS)
        + bytes(_JPEG_DC_VALS)
    )
    out += (
        b"\xff\xc4"
        + struct.pack(">HB", 2 + 1 + 16 + len(_JPEG_AC_VALS), 0x10)
        + bytes(_JPEG_AC_BITS)
        + bytes(_JPEG_AC_VALS)
    )
    out += b"\xff\xda" + struct.pack(">HBBBBBB", 8, 1, 1, 0x00, 0, 63, 0)  # SOS
    out += scan
    out += b"\xff\xd9"  # EOI
    return bytes(out)


def encode_jpeg_color(
    width: int,
    height: int,
    rgb: bytes,
    qtable_y=None,
    qtable_c=None,
    subsampling: tuple[int, int] = (2, 2),
    restart_interval: int = 0,
) -> bytes:
    """Baseline sequential JPEG encoder, 3-component YCbCr with chroma
    subsampling — the form real-world JPEGs actually take: JFIF RGB ->
    YCbCr transform, box-filter chroma downsample by the (h, v) luma
    sampling factors ((2, 2) = 4:2:0, (2, 1) = 4:2:2, (1, 2) = 4:4:0,
    (1, 1) = 4:4:4), interleaved per-MCU block emission in SOF order
    with per-component DC predictors, 8x8 orthonormal DCT, quantization
    (separate luma/chroma tables, default all-ones for the exact-oracle
    test corpus), zigzag, Huffman coding with the Annex K luminance
    tables declared for all components (spec-legal — tables are
    whatever DHT declares), 0xFF stuffing. ``restart_interval`` > 0
    emits a DRI segment and byte-aligned RST0-7 markers every that many
    MCUs with DC predictors reset — the error-resilience feature most
    camera/scanner JPEGs carry. Gray pixels (R=G=B) map to Cb=Cr=128
    exactly and survive the constant-block path bit-exactly — the
    property the oracle-paired color query relies on."""
    import struct

    import numpy as np

    yh, yv = subsampling
    if yh not in (1, 2) or yv not in (1, 2):
        raise ValueError(f"unsupported subsampling {subsampling}")
    if len(rgb) != 3 * width * height:
        raise ValueError(
            f"JPEG {width}x{height} needs {3 * width * height} RGB bytes, "
            f"got {len(rgb)}"
        )

    def _q(t):
        q = (
            np.ones((8, 8), dtype=np.int64)
            if t is None
            else np.asarray(t, dtype=np.int64).reshape(8, 8)
        )
        if (q < 1).any() or (q > 255).any():
            raise ValueError("JPEG quant table entries must be in 1..255")
        return q

    qy, qc = _q(qtable_y), _q(qtable_c)
    px = (
        np.frombuffer(rgb, np.uint8)
        .reshape(height, width, 3)
        .astype(np.float64)
    )
    r, g, b = px[..., 0], px[..., 1], px[..., 2]
    luma = np.round(0.299 * r + 0.587 * g + 0.114 * b)
    cb = np.round(128.0 - 0.168736 * r - 0.331264 * g + 0.5 * b)
    cr = np.round(128.0 + 0.5 * r - 0.418688 * g - 0.081312 * b)
    # pad to the MCU multiple by edge replication, then box-average the
    # chroma planes down by the luma sampling factors
    H = -(-height // (8 * yv)) * 8 * yv
    W = -(-width // (8 * yh)) * 8 * yh
    pad = ((0, H - height), (0, W - width))
    luma = np.pad(luma, pad, mode="edge") - 128.0
    cb = np.pad(cb, pad, mode="edge")
    cr = np.pad(cr, pad, mode="edge")
    if (yh, yv) != (1, 1):
        cb = np.round(
            cb.reshape(H // yv, yv, W // yh, yh).mean(axis=(1, 3))
        )
        cr = np.round(
            cr.reshape(H // yv, yv, W // yh, yh).mean(axis=(1, 3))
        )
    cb -= 128.0
    cr -= 128.0

    C = _dct_matrix()
    dc_codes = _jpeg_huff_codes(_JPEG_DC_BITS, _JPEG_DC_VALS)
    ac_codes = _jpeg_huff_codes(_JPEG_AC_BITS, _JPEG_AC_VALS)
    scan = bytearray()
    bitbuf, bitcnt = 0, 0

    def put(val: int, n: int) -> None:
        nonlocal bitbuf, bitcnt
        bitbuf = (bitbuf << n) | (val & ((1 << n) - 1))
        bitcnt += n
        while bitcnt >= 8:
            byte = (bitbuf >> (bitcnt - 8)) & 0xFF
            scan.append(byte)
            if byte == 0xFF:
                scan.append(0x00)
            bitcnt -= 8
        bitbuf &= (1 << bitcnt) - 1

    def put_magnitude(v: int) -> int:
        s = abs(v).bit_length()
        if s:
            put(v if v >= 0 else v + (1 << s) - 1, s)
        return s

    def encode_block(block, q, pred):
        coef = np.round((C @ block @ C.T) / q).astype(np.int64)
        zz = coef.reshape(-1)[list(_JPEG_ZIGZAG)]
        diff = int(zz[0]) - pred
        ln, code = dc_codes[abs(diff).bit_length()]
        put(code, ln)
        put_magnitude(diff)
        run = 0
        nz = np.flatnonzero(zz[1:])
        last = nz[-1] + 1 if len(nz) else 0
        for k in range(1, last + 1):
            v = int(zz[k])
            if v == 0:
                run += 1
                continue
            while run > 15:
                ln, code = ac_codes[0xF0]
                put(code, ln)
                run -= 16
            ln, code = ac_codes[(run << 4) | abs(v).bit_length()]
            put(code, ln)
            put_magnitude(v)
            run = 0
        if last < 63:
            ln, code = ac_codes[0x00]
            put(code, ln)
        return int(zz[0])

    preds = [0, 0, 0]
    n_mcu = (H // (8 * yv)) * (W // (8 * yh))
    mcu = 0
    for my in range(H // (8 * yv)):
        for mx in range(W // (8 * yh)):
            for vv in range(yv):
                for hh in range(yh):
                    y0, x0 = (my * yv + vv) * 8, (mx * yh + hh) * 8
                    preds[0] = encode_block(
                        luma[y0 : y0 + 8, x0 : x0 + 8], qy, preds[0]
                    )
            for ci, plane in ((1, cb), (2, cr)):
                preds[ci] = encode_block(
                    plane[my * 8 : my * 8 + 8, mx * 8 : mx * 8 + 8],
                    qc,
                    preds[ci],
                )
            mcu += 1
            if (
                restart_interval
                and mcu % restart_interval == 0
                and mcu < n_mcu
            ):
                if bitcnt:
                    put(0xFF, 8 - bitcnt)  # byte-align, 1-padded
                scan += bytes(
                    (0xFF, 0xD0 + (mcu // restart_interval - 1) % 8)
                )
                preds = [0, 0, 0]
    if bitcnt:
        put(0xFF, 8 - bitcnt)

    out = bytearray(b"\xff\xd8")
    for tq, q in ((0, qy), (1, qc)):
        zz_q = q.reshape(-1)[list(_JPEG_ZIGZAG)]
        out += b"\xff\xdb" + struct.pack(">HB", 67, tq) + bytes(
            int(v) for v in zz_q
        )
    out += b"\xff\xc0" + struct.pack(
        ">HBHHB", 8 + 3 * 3, 8, height, width, 3
    ) + bytes((1, (yh << 4) | yv, 0, 2, 0x11, 1, 3, 0x11, 1))
    out += (
        b"\xff\xc4"
        + struct.pack(">HB", 2 + 1 + 16 + len(_JPEG_DC_VALS), 0x00)
        + bytes(_JPEG_DC_BITS)
        + bytes(_JPEG_DC_VALS)
    )
    out += (
        b"\xff\xc4"
        + struct.pack(">HB", 2 + 1 + 16 + len(_JPEG_AC_VALS), 0x10)
        + bytes(_JPEG_AC_BITS)
        + bytes(_JPEG_AC_VALS)
    )
    if restart_interval:
        out += b"\xff\xdd" + struct.pack(">HH", 4, restart_interval)
    out += b"\xff\xda" + struct.pack(
        ">HB", 6 + 2 * 3, 3
    ) + bytes((1, 0x00, 2, 0x00, 3, 0x00)) + bytes((0, 63, 0))
    out += scan
    out += b"\xff\xd9"
    return bytes(out)


def _decode_jpeg(content: bytes) -> dict:
    """Baseline JPEG decoder — the real codec half: marker parse, DQT/DHT
    table builds, bit-level canonical-Huffman entropy decode with 0xFF00
    unstuffing, differential-DC extend, zigzag undo, dequantize, 8x8 IDCT,
    level shift, edge-pad crop. Grayscale AND interleaved 3-component
    YCbCr baseline, including chroma subsampling (4:4:4/4:2:2/4:4:0/
    4:2:0 — per-MCU component blocks in SOF order, per-component DC
    predictors, replication chroma upsample, JFIF YCbCr->RGB transform),
    DRI/RSTn restart intervals, and PROGRESSIVE (SOF2 — spectral
    selection + successive approximation, see
    ``_decode_jpeg_progressive``). Remaining coding processes (lossless,
    arithmetic, hierarchical) raise NotImplementedError loudly (the
    reference's decode contract — SURVEY §2.3 multimodal row).
    Bit-serial Huffman is inherently sequential per image; parallelism
    comes from the Arrow batch axis (many images per task), same as the
    GIF/PNG codecs here."""
    import struct

    import numpy as np

    if content[:2] != b"\xff\xd8":
        raise ValueError("bad JPEG signature (no SOI)")
    pos = 2
    qtables: dict[int, np.ndarray] = {}
    hufftabs: dict[tuple[int, int], dict] = {}
    width = height = None
    components: list | None = None
    rst_interval = 0
    progressive = False
    scan_start = None
    while pos < len(content):
        if content[pos] != 0xFF:
            raise ValueError(f"expected marker at {pos}, got 0x{content[pos]:02x}")
        if pos + 2 > len(content):
            raise ValueError("truncated JPEG marker")
        marker = content[pos + 1]
        pos += 2
        if marker == 0xD9:
            raise ValueError("JPEG EOI before any scan data")
        if pos + 2 > len(content):
            raise ValueError("truncated JPEG segment length")
        seglen = struct.unpack_from(">H", content, pos)[0]
        seg = content[pos + 2 : pos + seglen]
        if len(seg) != seglen - 2:
            raise ValueError("truncated JPEG segment")
        pos += seglen
        if marker == 0xDB:  # DQT (possibly several tables)
            i = 0
            while i < len(seg):
                pq, tq = seg[i] >> 4, seg[i] & 15
                if pq != 0:
                    raise NotImplementedError("16-bit JPEG quant tables")
                zz = np.frombuffer(seg[i + 1 : i + 65], np.uint8).astype(np.int64)
                t = np.empty(64, np.int64)
                t[list(_JPEG_ZIGZAG)] = zz
                qtables[tq] = t.reshape(8, 8)
                i += 65
        elif marker in (0xC0, 0xC1, 0xC2):  # SOF0/1 baseline, SOF2 progressive
            progressive = marker == 0xC2
            prec, height, width, ncomp = struct.unpack_from(">BHHB", seg, 0)
            if prec != 8:
                raise NotImplementedError(f"{prec}-bit JPEG precision")
            if ncomp not in (1, 3):
                raise NotImplementedError(
                    f"{ncomp}-component JPEG (grayscale or YCbCr here)"
                )
            components = []  # (cid, h, v, tq) in SOF order
            for k in range(ncomp):
                cid, sampling, tq = seg[6 + 3 * k : 9 + 3 * k]
                components.append((cid, sampling >> 4, sampling & 15, tq))
            if ncomp == 1:
                if (components[0][1], components[0][2]) != (1, 1):
                    raise NotImplementedError("subsampled grayscale JPEG")
            else:
                yh, yv = components[0][1], components[0][2]
                if yh not in (1, 2) or yv not in (1, 2) or any(
                    (c[1], c[2]) != (1, 1) for c in components[1:]
                ):
                    # 4:4:4 / 4:2:2 / 4:4:0 / 4:2:0 (chroma always 1x1)
                    # are the forms real encoders emit
                    raise NotImplementedError(
                        "unsupported JPEG sampling "
                        + str([(c[1], c[2]) for c in components])
                    )
        elif marker in (0xC3, 0xC5, 0xC6, 0xC7, 0xC9, 0xCA, 0xCB,
                        0xCD, 0xCE, 0xCF):
            raise NotImplementedError(
                f"unsupported JPEG coding process (SOF marker 0x{marker:02x})"
            )
        elif marker == 0xC4:  # DHT (possibly several tables)
            i = 0
            while i < len(seg):
                tc, th = seg[i] >> 4, seg[i] & 15
                bits = tuple(seg[i + 1 : i + 17])
                n = sum(bits)
                vals = tuple(seg[i + 17 : i + 17 + n])
                inv = {
                    (ln, code): v
                    for v, (ln, code) in _jpeg_huff_codes(bits, vals).items()
                }
                hufftabs[(tc, th)] = inv
                i += 17 + n
        elif marker == 0xDD:  # DRI: restart every Ri MCUs
            rst_interval = struct.unpack_from(">H", seg, 0)[0]
        elif marker == 0xDA:  # SOS — entropy data follows
            if progressive:
                if rst_interval:
                    raise NotImplementedError(
                        "progressive JPEG with restart intervals"
                    )
                return _decode_jpeg_progressive(
                    content, seg, pos, components, qtables, hufftabs,
                    width, height,
                )
            ns = seg[0]
            scan_tabs = {}  # cid -> (dc table id, ac table id)
            for k in range(ns):
                scan_tabs[seg[1 + 2 * k]] = (
                    seg[2 + 2 * k] >> 4,
                    seg[2 + 2 * k] & 15,
                )
            scan_start = pos
            break
        elif 0xE0 <= marker <= 0xEF or marker == 0xFE:
            continue  # APPn / COM: skip
        else:
            raise ValueError(f"unexpected JPEG marker 0x{marker:02x}")
    if scan_start is None or width is None:
        raise ValueError("JPEG contains no SOS/SOF segment")
    if ns != len(components):
        raise NotImplementedError("non-interleaved (multi-scan) JPEG")
    plan = []  # (h, v, qtable, dc_tab, ac_tab) per SOF component
    for cid, h_s, v_s, tq in components:
        if cid not in scan_tabs:
            raise ValueError(f"JPEG scan omits component {cid}")
        if tq not in qtables:
            raise ValueError(f"JPEG quant table {tq} not defined")
        dc_id, ac_id = scan_tabs[cid]
        for key in ((0, dc_id), (1, ac_id)):
            if key not in hufftabs:
                raise ValueError(f"JPEG Huffman table {key} not defined")
        plan.append(
            (h_s, v_s, qtables[tq], hufftabs[(0, dc_id)], hufftabs[(1, ac_id)])
        )

    # unstuff the entropy-coded data up to EOI, splitting into restart
    # segments at RSTn markers (each is byte-aligned; the marker cycle
    # n = segment index mod 8 is verified — T.81 E.1.2)
    segments = [bytearray()]
    i = scan_start
    while i < len(content):
        b = content[i]
        if b == 0xFF:
            nxt = content[i + 1] if i + 1 < len(content) else None
            if nxt == 0x00:
                segments[-1].append(0xFF)
                i += 2
                continue
            if nxt == 0xD9:
                break
            if nxt is not None and 0xD0 <= nxt <= 0xD7:
                if not rst_interval:
                    raise ValueError("JPEG RST marker without a DRI segment")
                if nxt - 0xD0 != (len(segments) - 1) % 8:
                    raise ValueError(
                        f"JPEG restart marker out of sequence (0xff{nxt:02x})"
                    )
                segments.append(bytearray())
                i += 2
                continue
            raise ValueError(f"unexpected marker 0xff{nxt:02x} in JPEG scan")
        segments[-1].append(b)
        i += 1
    else:
        raise ValueError("truncated JPEG scan (no EOI)")

    seg_idx = 0
    data = segments[0]
    bitpos = 0
    nbits_total = 8 * len(data)

    def read_bit() -> int:
        nonlocal bitpos
        if bitpos >= nbits_total:
            raise ValueError("truncated JPEG entropy stream")
        b = (data[bitpos >> 3] >> (7 - (bitpos & 7))) & 1
        bitpos += 1
        return b

    def next_restart_segment() -> None:
        """Advance to the next RST-delimited entropy segment (byte-aligned
        by construction) — the caller resets the DC predictors."""
        nonlocal seg_idx, data, bitpos, nbits_total
        seg_idx += 1
        if seg_idx >= len(segments):
            raise ValueError("JPEG scan ran out of restart segments")
        data = segments[seg_idx]
        bitpos = 0
        nbits_total = 8 * len(data)

    def read_bits(n: int) -> int:
        v = 0
        for _ in range(n):
            v = (v << 1) | read_bit()
        return v

    def decode_sym(tab) -> int:
        ln, code = 0, 0
        while ln < 16:
            code = (code << 1) | read_bit()
            ln += 1
            v = tab.get((ln, code))
            if v is not None:
                return v
        raise ValueError("invalid JPEG Huffman code")

    def extend(v: int, s: int) -> int:
        return v - (1 << s) + 1 if s and v < (1 << (s - 1)) else v

    C = _dct_matrix()

    def decode_block(dc_tab, ac_tab, q, pred):
        """One 8x8 block: DC-diff + AC run-length Huffman decode, zigzag
        undo, dequantize, IDCT. Returns (spatial block, new DC pred);
        the +128 level shift is the caller's."""
        zz = np.zeros(64, np.int64)
        s = decode_sym(dc_tab)
        pred += extend(read_bits(s), s) if s else 0
        zz[0] = pred
        k = 1
        while k < 64:
            sym = decode_sym(ac_tab)
            if sym == 0x00:  # EOB
                break
            if sym == 0xF0:  # ZRL
                k += 16
                continue
            k += sym >> 4
            size = sym & 15
            if k > 63 or size == 0:
                raise ValueError("corrupt JPEG AC run-length")
            zz[k] = extend(read_bits(size), size)
            k += 1
        coef = np.empty(64, np.int64)
        coef[list(_JPEG_ZIGZAG)] = zz
        return C.T @ (coef.reshape(8, 8) * q).astype(np.float64) @ C, pred

    if len(plan) == 1:  # grayscale: block raster order (MCU = one block)
        h_s, v_s, q, dc_tab, ac_tab = plan[0]
        H, W = -(-height // 8) * 8, -(-width // 8) * 8
        n_mcu = (H // 8) * (W // 8)
        raster = np.empty((H, W), np.uint8)
        pred = 0
        mcu = 0
        for by in range(H // 8):
            for bx in range(W // 8):
                block, pred = decode_block(dc_tab, ac_tab, q, pred)
                raster[8 * by : 8 * by + 8, 8 * bx : 8 * bx + 8] = np.clip(
                    np.round(block + 128.0), 0, 255
                ).astype(np.uint8)
                mcu += 1
                if rst_interval and mcu % rst_interval == 0 and mcu < n_mcu:
                    next_restart_segment()
                    pred = 0
        return {
            "format": "image/jpeg",
            "width": width,
            "height": height,
            "maxval": 255,
            "pixel_bytes": width * height,
            "channels": 1,
            "raster_offset": -1,  # raster is DECODED, not sliced
            "raster": raster[:height, :width].tobytes(),
        }

    # interleaved YCbCr: per-MCU component blocks in SOF order (T.81
    # A.2.3), per-component DC predictors, chroma upsampled to the luma
    # grid by pixel replication (the JFIF box-filter inverse), then the
    # JFIF YCbCr -> RGB transform with per-channel rounding and clamp
    hmax = max(p[0] for p in plan)
    vmax = max(p[1] for p in plan)
    mcux = -(-width // (8 * hmax))
    mcuy = -(-height // (8 * vmax))
    planes = [
        np.zeros((mcuy * v_s * 8, mcux * h_s * 8), np.float64)
        for h_s, v_s, _q, _d, _a in plan
    ]
    preds = [0] * len(plan)
    mcu = 0
    for my in range(mcuy):
        for mx in range(mcux):
            for ci, (h_s, v_s, q, dct, act) in enumerate(plan):
                for vv in range(v_s):
                    for hh in range(h_s):
                        block, preds[ci] = decode_block(dct, act, q, preds[ci])
                        y0 = (my * v_s + vv) * 8
                        x0 = (mx * h_s + hh) * 8
                        planes[ci][y0 : y0 + 8, x0 : x0 + 8] = block
            mcu += 1
            if rst_interval and mcu % rst_interval == 0 and mcu < mcux * mcuy:
                next_restart_segment()
                preds = [0] * len(plan)
    return _jpeg_color_output(planes, [(p[0], p[1]) for p in plan],
                              width, height, hmax, vmax)


def _jpeg_color_output(planes, samplings, width, height, hmax, vmax) -> dict:
    """Shared YCbCr -> RGB output stage (baseline and progressive paths):
    chroma replication upsample to the luma grid, JFIF inverse transform
    with per-channel rounding and clamp, crop to the true size."""
    import numpy as np

    luma = planes[0][:height, :width] + 128.0
    chroma = []
    for ci in (1, 2):
        h_s, v_s = samplings[ci]
        p = np.repeat(
            np.repeat(planes[ci], vmax // v_s, axis=0), hmax // h_s, axis=1
        )
        chroma.append(p[:height, :width])  # centered at 0 (level shift folds
        # into the color transform: Cb-128 IS the plane value)
    cb, cr = chroma
    r = np.clip(np.round(luma + 1.402 * cr), 0, 255)
    g = np.clip(np.round(luma - 0.344136 * cb - 0.714136 * cr), 0, 255)
    b = np.clip(np.round(luma + 1.772 * cb), 0, 255)
    raster = np.stack([r, g, b], axis=-1).astype(np.uint8)
    return {
        "format": "image/jpeg",
        "width": width,
        "height": height,
        "maxval": 255,
        "pixel_bytes": 3 * width * height,
        "channels": 3,
        "raster_offset": -1,
        "raster": raster.tobytes(),
    }


def encode_jpeg_progressive(
    width: int,
    height: int,
    pixels: bytes,
    channels: int = 3,
    qtable_y=None,
    qtable_c=None,
    subsampling: tuple[int, int] = (1, 1),
    split: int = 6,
) -> bytes:
    """Progressive JPEG encoder (T.81 Annex G, public spec) exercising
    BOTH progression axes the way real encoders do: successive
    approximation (every scan pair runs at Al=1 then refines the low
    bit at Al=0 — DC refinements are raw bits, AC refinements carry
    newly-significant ±1 placements plus correction bits buffered into
    pending EOB runs) and spectral selection (the AC band splits at
    ``split``). Same quantized coefficients as the baseline encoders,
    only the entropy layout differs — so the decoded image must equal
    the decoded BASELINE encoding bit-for-bit, which is the roundtrip
    property the tests pin. ``channels``: 1 = grayscale, 3 = RGB
    (JFIF YCbCr + box-filter chroma subsample, like
    ``encode_jpeg_color``)."""
    import struct

    import numpy as np

    if channels not in (1, 3):
        raise ValueError(f"encode_jpeg_progressive: channels must be 1 or 3")
    yh, yv = subsampling
    if yh not in (1, 2) or yv not in (1, 2):
        raise ValueError(f"unsupported subsampling {subsampling}")
    if channels == 1 and (yh, yv) != (1, 1):
        raise ValueError("grayscale cannot be subsampled")
    if len(pixels) != channels * width * height:
        raise ValueError(
            f"JPEG {width}x{height} needs {channels * width * height} bytes, "
            f"got {len(pixels)}"
        )
    if not 1 <= split <= 63:
        raise ValueError("split must be in 1..63")

    def _q(t):
        q = (
            np.ones((8, 8), dtype=np.int64)
            if t is None
            else np.asarray(t, dtype=np.int64).reshape(8, 8)
        )
        if (q < 1).any() or (q > 255).any():
            raise ValueError("JPEG quant table entries must be in 1..255")
        return q

    qy, qc = _q(qtable_y), _q(qtable_c)
    H = -(-height // (8 * yv)) * 8 * yv
    W = -(-width // (8 * yh)) * 8 * yh
    pad = ((0, H - height), (0, W - width))
    if channels == 1:
        luma = np.pad(
            np.frombuffer(pixels, np.uint8)
            .reshape(height, width)
            .astype(np.float64),
            pad,
            mode="edge",
        ) - 128.0
        comp_planes = [(luma, qy, 1, 1)]
    else:
        px = (
            np.frombuffer(pixels, np.uint8)
            .reshape(height, width, 3)
            .astype(np.float64)
        )
        r, g, b = px[..., 0], px[..., 1], px[..., 2]
        luma = np.round(0.299 * r + 0.587 * g + 0.114 * b)
        cb = np.round(128.0 - 0.168736 * r - 0.331264 * g + 0.5 * b)
        cr = np.round(128.0 + 0.5 * r - 0.418688 * g - 0.081312 * b)
        luma = np.pad(luma, pad, mode="edge") - 128.0
        cb = np.pad(cb, pad, mode="edge")
        cr = np.pad(cr, pad, mode="edge")
        if (yh, yv) != (1, 1):
            cb = np.round(cb.reshape(H // yv, yv, W // yh, yh).mean(axis=(1, 3)))
            cr = np.round(cr.reshape(H // yv, yv, W // yh, yh).mean(axis=(1, 3)))
        comp_planes = [
            (luma, qy, yh, yv),
            (cb - 128.0, qc, 1, 1),
            (cr - 128.0, qc, 1, 1),
        ]
    hmax, vmax = (yh, yv) if channels == 3 else (1, 1)
    mcux, mcuy = W // (8 * hmax), H // (8 * vmax)

    # quantized ZIGZAG coefficient grids per component (the same values
    # the baseline encoders would emit)
    C = _dct_matrix()
    zig = list(_JPEG_ZIGZAG)
    comps = []  # (coeff grid (gh, gw, 64), gh, gw, bh, bw, h, v)
    for plane, q, h_s, v_s in comp_planes:
        gh, gw = mcuy * v_s, mcux * h_s
        ch = -(-height * v_s // vmax)
        cw = -(-width * h_s // hmax)
        bh, bw = -(-ch // 8), -(-cw // 8)
        cf = np.zeros((gh, gw, 64), np.int64)
        for by in range(gh):
            for bx in range(gw):
                block = plane[8 * by : 8 * by + 8, 8 * bx : 8 * bx + 8]
                coef = np.round((C @ block @ C.T) / q).astype(np.int64)
                cf[by, bx] = coef.reshape(-1)[zig]
        comps.append((cf, gh, gw, bh, bw, h_s, v_s))

    dc_codes = _jpeg_huff_codes(_JPEG_DC_BITS, _JPEG_DC_VALS)
    # progressive AC scans need the EOBn symbols (0x10..0xE0, SSSS=0)
    # that the BASELINE Annex K table deliberately omits — declare our
    # own table: every symbol at 8 bits (176/256 Kraft — legal, simple;
    # compression is not what these fixtures are for)
    prog_ac_vals = _JPEG_AC_VALS + tuple(r << 4 for r in range(1, 15))
    prog_ac_bits = (0,) * 7 + (len(prog_ac_vals),) + (0,) * 8
    ac_codes = _jpeg_huff_codes(prog_ac_bits, prog_ac_vals)
    scans = bytearray()

    def run_scan(scomp_ids, ss, se, ah, al, body) -> None:
        """Emit one SOS header + an entropy body built by ``body(put,
        put_sym)``; closes with a 1-padded byte flush."""
        nonlocal scans
        buf = bytearray()
        state = {"bits": 0, "n": 0}

        def put(val: int, n: int) -> None:
            state["bits"] = (state["bits"] << n) | (val & ((1 << n) - 1))
            state["n"] += n
            while state["n"] >= 8:
                byte = (state["bits"] >> (state["n"] - 8)) & 0xFF
                buf.append(byte)
                if byte == 0xFF:
                    buf.append(0x00)
                state["n"] -= 8
            state["bits"] &= (1 << state["n"]) - 1

        def put_sym(codes, sym: int) -> None:
            ln, code = codes[sym]
            put(code, ln)

        body(put, put_sym)
        if state["n"]:
            put(0xFF, 8 - state["n"])
        hdr = bytes([len(scomp_ids)]) + b"".join(
            bytes((cid, 0x00)) for cid in scomp_ids
        ) + bytes((ss, se, (ah << 4) | al))
        scans += b"\xff\xda" + struct.pack(">H", 2 + len(hdr)) + hdr + buf

    AL = 1  # one successive-approximation level

    # ---- DC first scan (interleaved across all components), Al=1
    def dc_first(put, put_sym):
        preds = [0] * len(comps)
        def one(si, by, bx):
            v = int(comps[si][0][by, bx, 0]) >> AL  # arithmetic shift (T.81)
            diff = v - preds[si]
            preds[si] = v
            s = abs(diff).bit_length()
            put_sym(dc_codes, s)
            if s:
                put(diff if diff >= 0 else diff + (1 << s) - 1, s)
        for my in range(mcuy):
            for mx in range(mcux):
                for si, (_cf, _gh, _gw, _bh, _bw, h_s, v_s) in enumerate(comps):
                    for vv in range(v_s):
                        for hh in range(h_s):
                            one(si, my * v_s + vv, mx * h_s + hh)

    run_scan(list(range(1, len(comps) + 1)), 0, 0, 0, AL, dc_first)

    # ---- DC refinement: one raw bit per block, same interleave
    def dc_refine(put, put_sym):
        for my in range(mcuy):
            for mx in range(mcux):
                for si, (cf, _gh, _gw, _bh, _bw, h_s, v_s) in enumerate(comps):
                    for vv in range(v_s):
                        for hh in range(h_s):
                            put(int(cf[my * v_s + vv, mx * h_s + hh, 0]) & 1, 1)

    run_scan(list(range(1, len(comps) + 1)), 0, 0, 1, 0, dc_refine)

    # ---- AC scans per component: two spectral bands, first then refine
    def ac_first(cf, bh, bw, ss, se):
        def body(put, put_sym):
            eobrun = 0
            eobrun_bits = []

            def flush_eob():
                nonlocal eobrun
                if eobrun:
                    r = eobrun.bit_length() - 1
                    put_sym(ac_codes, r << 4)
                    if r:
                        put(eobrun - (1 << r), r)
                    eobrun = 0

            for by in range(bh):
                for bx in range(bw):
                    blk = cf[by, bx]
                    t = [
                        (1 if blk[k] > 0 else -1) * (abs(int(blk[k])) >> AL)
                        for k in range(ss, se + 1)
                    ]
                    last = max(
                        (i for i, v in enumerate(t) if v), default=-1
                    )
                    if last < 0:
                        eobrun += 1
                        if eobrun == 0x7FFF:
                            flush_eob()
                        continue
                    flush_eob()
                    r = 0
                    for v in t[: last + 1]:
                        if v == 0:
                            r += 1
                            continue
                        while r > 15:
                            put_sym(ac_codes, 0xF0)
                            r -= 16
                        s = abs(v).bit_length()
                        put_sym(ac_codes, (r << 4) | s)
                        put(v if v >= 0 else v + (1 << s) - 1, s)
                        r = 0
                    if last < se - ss:
                        eobrun += 1
                        if eobrun == 0x7FFF:
                            flush_eob()
            flush_eob()

        return body

    def ac_refine(cf, bh, bw, ss, se):
        """Mirror the decoder traversal EXACTLY (T.81 G.1.2.3): the run
        count burns zero-history slots only, correction bits for
        nonzero-history slots interleave in traversal order — including
        inside ZRL spans — and a block's tail corrections ride the
        pending EOB run, flushed with the EOBn symbol."""

        def body(put, put_sym):
            eobrun = 0
            be_bits: list[int] = []

            def flush_eob():
                nonlocal eobrun
                if eobrun:
                    r = eobrun.bit_length() - 1
                    put_sym(ac_codes, r << 4)
                    if r:
                        put(eobrun - (1 << r), r)
                    for bit in be_bits:
                        put(bit, 1)
                    be_bits.clear()
                    eobrun = 0

            band = se - ss + 1
            for by in range(bh):
                for bx in range(bw):
                    blk = cf[by, bx]
                    # significant-so-far = nonzero at the PREVIOUS scan's
                    # precision (Ah = AL): |c| >> AL != 0
                    hist = [
                        abs(int(blk[ss + i])) >> AL != 0
                        for i in range(band)
                    ]
                    corr = [
                        (abs(int(blk[ss + i])) >> 0) & 1 for i in range(band)
                    ]
                    newpos = [
                        i
                        for i in range(band)
                        if not hist[i] and blk[ss + i] != 0
                    ]
                    i = 0
                    for np_i in newpos:
                        zeros = sum(
                            1 for j in range(i, np_i) if not hist[j]
                        )
                        while zeros > 15:
                            flush_eob()
                            put_sym(ac_codes, 0xF0)
                            consumed = 0
                            while consumed < 16:
                                if hist[i]:
                                    put(corr[i], 1)
                                else:
                                    consumed += 1
                                i += 1
                            zeros -= 16
                        flush_eob()
                        put_sym(ac_codes, (zeros << 4) | 1)
                        put(1 if blk[ss + np_i] > 0 else 0, 1)
                        while i < np_i:
                            if hist[i]:
                                put(corr[i], 1)
                            i += 1
                        i = np_i + 1
                    if i < band:  # tail remains: block joins the EOB run
                        eobrun += 1
                        be_bits.extend(
                            corr[j] for j in range(i, band) if hist[j]
                        )
                        if eobrun == 0x7FFF:
                            flush_eob()
            flush_eob()

        return body

    for si, (cf, _gh, _gw, bh, bw, _h, _v) in enumerate(comps):
        cid = si + 1
        for lo, hi in ((1, split), (split + 1, 63)):
            if lo > 63:
                continue
            run_scan([cid], lo, hi, 0, AL, ac_first(cf, bh, bw, lo, hi))
        for lo, hi in ((1, split), (split + 1, 63)):
            if lo > 63:
                continue
            run_scan([cid], lo, hi, 1, 0, ac_refine(cf, bh, bw, lo, hi))

    # ---- headers
    out = bytearray(b"\xff\xd8")
    tables = ((0, qy), (1, qc)) if channels == 3 else ((0, qy),)
    for tq, q in tables:
        zz_q = q.reshape(-1)[zig]
        out += b"\xff\xdb" + struct.pack(">HB", 67, tq) + bytes(
            int(v) for v in zz_q
        )
    ncomp = len(comps)
    sof = struct.pack(">HBHHB", 8 + 3 * ncomp, 8, height, width, ncomp)
    if channels == 1:
        sof += bytes((1, 0x11, 0))
    else:
        sof += bytes((1, (yh << 4) | yv, 0, 2, 0x11, 1, 3, 0x11, 1))
    out += b"\xff\xc2" + sof  # SOF2: progressive DCT
    out += (
        b"\xff\xc4"
        + struct.pack(">HB", 2 + 1 + 16 + len(_JPEG_DC_VALS), 0x00)
        + bytes(_JPEG_DC_BITS)
        + bytes(_JPEG_DC_VALS)
    )
    out += (
        b"\xff\xc4"
        + struct.pack(">HB", 2 + 1 + 16 + len(prog_ac_vals), 0x10)
        + bytes(prog_ac_bits)
        + bytes(prog_ac_vals)
    )
    out += scans
    out += b"\xff\xd9"
    return bytes(out)


def _decode_jpeg_progressive(
    content, first_sos_seg, pos, components, qtables, hufftabs,
    width, height,
) -> dict:
    """Progressive JPEG decode (ITU-T T.81 Annex G, public spec —
    spectral selection AND successive approximation): coefficients
    accumulate in per-component ZIGZAG-space grids across scans — DC
    first scans (interleaved MCU order, diffs of the point-transformed
    DC), DC refinement scans (one raw bit per block, OR'd in at the
    scan's Al), AC first scans (non-interleaved single-component, runs
    + EOBn end-of-band RUNS spanning blocks), and AC refinement scans
    (newly-significant ±1<<Al placements with correction bits read at
    every nonzero-history position passed, including inside ZRL skips
    and for every block covered by a pending EOB run). DQT/DHT segments
    between scans are honored. After the last scan every block
    dequantizes + IDCTs exactly like the baseline path, so a
    progressive re-encoding of the same quantized coefficients decodes
    BIT-IDENTICALLY to the baseline file — the property the roundtrip
    tests pin."""
    import struct

    import numpy as np

    hmax = max(c[1] for c in components)
    vmax = max(c[2] for c in components)
    mcux = -(-width // (8 * hmax))
    mcuy = -(-height // (8 * vmax))
    # zigzag-space coefficient grids; interleaved DC scans cover the
    # FULL MCU-padded grid, non-interleaved AC scans only ceil(comp/8)
    geo = []  # (cid, h, v, tq, gh, gw, bh, bw)
    coeffs = []
    for cid, h_s, v_s, tq in components:
        gh, gw = mcuy * v_s, mcux * h_s
        ch = -(-height * v_s // vmax)  # ceil component dims (T.81 A.1.1)
        cw = -(-width * h_s // hmax)
        bh, bw = -(-ch // 8), -(-cw // 8)
        geo.append((cid, h_s, v_s, tq, gh, gw, bh, bw))
        coeffs.append(np.zeros((gh, gw, 64), np.int64))
    byid = {g[0]: i for i, g in enumerate(geo)}

    sos_seg = first_sos_seg
    while True:
        # ---- one scan: header from sos_seg, entropy from content[pos:]
        ns = sos_seg[0]
        scomps = []  # (comp index, dc table id, ac table id)
        for k in range(ns):
            cid = sos_seg[1 + 2 * k]
            if cid not in byid:
                raise ValueError(f"progressive scan names unknown component {cid}")
            scomps.append(
                (byid[cid], sos_seg[2 + 2 * k] >> 4, sos_seg[2 + 2 * k] & 15)
            )
        ss, se, ahal = sos_seg[1 + 2 * ns : 4 + 2 * ns]
        ah, al = ahal >> 4, ahal & 15
        # unstuff this scan's entropy bytes up to the next marker
        data = bytearray()
        i = pos
        while i < len(content):
            b = content[i]
            if b == 0xFF:
                nxt = content[i + 1] if i + 1 < len(content) else None
                if nxt == 0x00:
                    data.append(0xFF)
                    i += 2
                    continue
                if nxt is not None and 0xD0 <= nxt <= 0xD7:
                    raise NotImplementedError(
                        "progressive JPEG with restart markers"
                    )
                break  # any other marker ends the scan
            data.append(b)
            i += 1
        else:
            raise ValueError("truncated progressive JPEG scan")
        bitpos = 0
        nbits = 8 * len(data)

        def read_bit() -> int:
            nonlocal bitpos
            if bitpos >= nbits:
                raise ValueError("truncated JPEG entropy stream")
            v = (data[bitpos >> 3] >> (7 - (bitpos & 7))) & 1
            bitpos += 1
            return v

        def read_bits(n: int) -> int:
            v = 0
            for _ in range(n):
                v = (v << 1) | read_bit()
            return v

        def decode_sym(tab) -> int:
            ln, code = 0, 0
            while ln < 16:
                code = (code << 1) | read_bit()
                ln += 1
                v = tab.get((ln, code))
                if v is not None:
                    return v
            raise ValueError("invalid JPEG Huffman code")

        def extend(v: int, s: int) -> int:
            return v - (1 << s) + 1 if s and v < (1 << (s - 1)) else v

        if ss == 0:  # ---- DC scan (first or refinement)
            if se != 0:
                raise ValueError("progressive DC scan with Se != 0")
            preds = [0] * len(scomps)
            dtabs = []
            for ci, dc_id, _ac in scomps:
                if ah == 0 and (0, dc_id) not in hufftabs:
                    raise ValueError(f"JPEG Huffman table (0, {dc_id}) not defined")
                dtabs.append(hufftabs.get((0, dc_id)))

            def dc_block(si, ci, by, bx):
                cf = coeffs[ci]
                if ah == 0:
                    s = decode_sym(dtabs[si])
                    preds[si] += extend(read_bits(s), s) if s else 0
                    cf[by, bx, 0] = preds[si] << al
                else:  # refinement: one raw bit, OR'd in at this Al
                    if read_bit():
                        cf[by, bx, 0] |= 1 << al

            if ns > 1:  # interleaved MCU order over the padded grid
                for my in range(mcuy):
                    for mx in range(mcux):
                        for si, (ci, _d, _a) in enumerate(scomps):
                            _cid, h_s, v_s = geo[ci][0], geo[ci][1], geo[ci][2]
                            for vv in range(v_s):
                                for hh in range(h_s):
                                    dc_block(
                                        si, ci, my * v_s + vv, mx * h_s + hh
                                    )
            else:  # single component: its own ceil grid
                ci = scomps[0][0]
                bh, bw = geo[ci][6], geo[ci][7]
                for by in range(bh):
                    for bx in range(bw):
                        dc_block(0, ci, by, bx)
        else:  # ---- AC scan: single component, non-interleaved
            if ns != 1:
                raise ValueError("progressive AC scan must be single-component")
            ci, _dc_id, ac_id = scomps[0]
            if (1, ac_id) not in hufftabs:
                raise ValueError(f"JPEG Huffman table (1, {ac_id}) not defined")
            atab = hufftabs[(1, ac_id)]
            bh, bw = geo[ci][6], geo[ci][7]
            cf = coeffs[ci]
            eobrun = 0

            def correct(blk, k):
                """Refinement correction bit for a nonzero-history coeff."""
                if read_bit() and not blk[k] & (1 << al):
                    blk[k] += (1 << al) if blk[k] > 0 else -(1 << al)

            for by in range(bh):
                for bx in range(bw):
                    blk = cf[by, bx]
                    if eobrun > 0:
                        eobrun -= 1
                        if ah:  # EOB-run blocks still refine history coeffs
                            for k in range(ss, se + 1):
                                if blk[k]:
                                    correct(blk, k)
                        continue
                    if ah == 0:  # first AC scan for this band
                        k = ss
                        while k <= se:
                            rs = decode_sym(atab)
                            r, s = rs >> 4, rs & 15
                            if s == 0:
                                if r < 15:
                                    eobrun = (1 << r) + read_bits(r) - 1
                                    break
                                k += 16  # ZRL
                                continue
                            k += r
                            if k > se:
                                raise ValueError("corrupt progressive AC run")
                            blk[k] = extend(read_bits(s), s) << al
                            k += 1
                    else:  # AC refinement scan (T.81 G.1.2.3 traversal:
                        # corrections read at every nonzero slot passed;
                        # the run count burns ZERO slots only, and the
                        # placement lands on the run-exhausting zero slot)
                        k = ss
                        while k <= se:
                            rs = decode_sym(atab)
                            r, s = rs >> 4, rs & 15
                            if s == 0 and r < 15:
                                eobrun = (1 << r) + read_bits(r) - 1
                                for j in range(k, se + 1):
                                    if blk[j]:
                                        correct(blk, j)
                                break
                            if s == 0:  # ZRL: burn 16 zero slots
                                new, skip = 0, 15
                            else:
                                if s != 1:
                                    raise ValueError(
                                        "refinement coefficient magnitude != 1"
                                    )
                                new = (1 << al) if read_bit() else -(1 << al)
                                skip = r
                            while k <= se:
                                if blk[k]:
                                    correct(blk, k)
                                else:
                                    skip -= 1
                                    if skip < 0:
                                        break
                                k += 1
                            if new:
                                if k > se:
                                    raise ValueError(
                                        "corrupt progressive AC refinement"
                                    )
                                blk[k] = new
                            k += 1

        # ---- advance to the next scan / table segment / EOI
        pos = i
        sos_seg = None
        while pos < len(content):
            if content[pos] != 0xFF:
                raise ValueError(
                    f"expected marker at {pos}, got 0x{content[pos]:02x}"
                )
            marker = content[pos + 1]
            pos += 2
            if marker == 0xD9:  # EOI
                break
            seglen = struct.unpack_from(">H", content, pos)[0]
            seg = content[pos + 2 : pos + seglen]
            if len(seg) != seglen - 2:
                raise ValueError("truncated JPEG segment")
            pos += seglen
            if marker == 0xC4:  # DHT between scans
                j = 0
                while j < len(seg):
                    tc, th = seg[j] >> 4, seg[j] & 15
                    bits = tuple(seg[j + 1 : j + 17])
                    n = sum(bits)
                    vals = tuple(seg[j + 17 : j + 17 + n])
                    hufftabs[(tc, th)] = {
                        (ln, code): v
                        for v, (ln, code) in _jpeg_huff_codes(bits, vals).items()
                    }
                    j += 17 + n
            elif marker == 0xDB:  # DQT between scans
                j = 0
                while j < len(seg):
                    pq, tq = seg[j] >> 4, seg[j] & 15
                    if pq != 0:
                        raise NotImplementedError("16-bit JPEG quant tables")
                    zz = np.frombuffer(
                        seg[j + 1 : j + 65], np.uint8
                    ).astype(np.int64)
                    t = np.empty(64, np.int64)
                    t[list(_JPEG_ZIGZAG)] = zz
                    qtables[tq] = t.reshape(8, 8)
                    j += 65
            elif marker == 0xDA:
                sos_seg = seg
                break
            elif marker == 0xDD:
                raise NotImplementedError(
                    "progressive JPEG with restart intervals"
                )
            elif 0xE0 <= marker <= 0xEF or marker == 0xFE:
                continue
            else:
                raise ValueError(
                    f"unexpected JPEG marker 0xff{marker:02x} between scans"
                )
        if sos_seg is None:
            break  # EOI (or end of data) — all scans consumed

    # ---- reconstruct: dequantize + IDCT every block, exactly like baseline
    C = _dct_matrix()
    zig = list(_JPEG_ZIGZAG)
    planes = []
    for (cid, h_s, v_s, tq, gh, gw, _bh, _bw), cf in zip(geo, coeffs):
        if tq not in qtables:
            raise ValueError(f"JPEG quant table {tq} not defined")
        q = qtables[tq]
        plane = np.empty((gh * 8, gw * 8), np.float64)
        for by in range(gh):
            for bx in range(gw):
                coef = np.empty(64, np.int64)
                coef[zig] = cf[by, bx]
                plane[8 * by : 8 * by + 8, 8 * bx : 8 * bx + 8] = (
                    C.T @ (coef.reshape(8, 8) * q).astype(np.float64) @ C
                )
        planes.append(plane)
    if len(planes) == 1:
        raster = np.clip(np.round(planes[0] + 128.0), 0, 255).astype(np.uint8)
        return {
            "format": "image/jpeg",
            "width": width,
            "height": height,
            "maxval": 255,
            "pixel_bytes": width * height,
            "channels": 1,
            "raster_offset": -1,
            "raster": raster[:height, :width].tobytes(),
        }
    return _jpeg_color_output(
        planes, [(g[1], g[2]) for g in geo], width, height, hmax, vmax
    )


def with_jpeg_content(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Test adapter: a REAL baseline JPEG blob per row, deterministically
    derived from the id (width = (id%3+1)*8, height = (id%2+1)*8; every
    8x8 block b holds the CONSTANT value ((id + 13*b)*37) % 256). A
    constant block's DCT is DC-only with the DC recovered EXACTLY under
    the all-ones quant table (8c/8 is a power-of-two product in float),
    so channel statistics are arithmetic on the id and ORACLE-EXPRESSIBLE
    even though the bytes ride the full Huffman+DCT codec. Non-constant
    content exercises the same code path lossily (test_round8 asserts
    the bounded reconstruction error)."""

    @pandas_udf("binary")
    def _blob(ids: pd.Series) -> pd.Series:
        # the blob is a pure function of (id % 256, id % 3, id % 2): the
        # block value ((id + 13b)*37) % 256 has period 256 in id, and
        # only w/h read id mod 3 / mod 2 — memoizing on that exact key
        # amortizes the Python encoder across the batch (r14, guide
        # §4.5: heavyweight work once per task, not per row; bytes
        # identical by construction)
        import numpy as np

        cache: dict = {}
        out = []
        for i in ids:
            i = int(i)
            key = (i % 256, i % 3, i % 2)
            blob = cache.get(key)
            if blob is None:
                w, h = (i % 3 + 1) * 8, (i % 2 + 1) * 8
                bw = w // 8
                # r15: same integer formula, vectorized (values < 2^63,
                # so int64 matches Python ints bit-for-bit)
                b = (np.arange(h)[:, None] // 8) * bw + np.arange(w) // 8
                gray = (((i + 13 * b) * 37) % 256).astype(np.uint8).tobytes()
                blob = cache[key] = encode_jpeg(w, h, gray)
            out.append(blob)
        return pd.Series(out)

    return df.withColumn("content", _blob(F.col(id_col)))


def with_jpeg_color_content(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Test adapter: a REAL 4:2:0 color JPEG per row (width =
    (id%2+1)*16, height = 16 — MCU multiples at 2x2 sampling). Pixels
    are GRAY (R=G=B), constant per 8x8 luma block b at value
    ((id + 17*b)*53) % 256: gray maps to Cb=Cr=128 exactly, the 2x2
    chroma box-average of a constant-128 plane is 128 exactly, constant
    blocks are DC-only and reconstruct bit-exactly under the all-ones
    quant tables, and round(v*(0.299+0.587+0.114)) == v for every v in
    0..255 (verified) — so the full color pipeline (RGB->YCbCr,
    subsample, interleaved MCU Huffman, upsample, YCbCr->RGB) is
    BIT-EXACT on this corpus and channel means stay arithmetic on the
    id, hence oracle-expressible."""

    @pandas_udf("binary")
    def _blob(ids: pd.Series) -> pd.Series:
        # pure function of (id % 256, id % 2) — value period 256, width
        # reads id mod 2; see with_jpeg_content for the memo rationale
        import numpy as np

        cache: dict = {}
        out = []
        for i in ids:
            i = int(i)
            key = (i % 256, i % 2)
            blob = cache.get(key)
            if blob is None:
                w, h = (i % 2 + 1) * 16, 16
                bw = w // 8
                b = (np.arange(h)[:, None] // 8) * bw + np.arange(w) // 8
                gray = (((i + 17 * b) * 53) % 256).astype(np.uint8)
                rgb = np.repeat(gray.reshape(-1), 3).tobytes()
                blob = cache[key] = encode_jpeg_color(w, h, rgb, subsampling=(2, 2))
            out.append(blob)
        return pd.Series(out)

    return df.withColumn("content", _blob(F.col(id_col)))


def with_jpeg_progressive_content(
    df: DataFrame, id_col: str = "doc_id"
) -> DataFrame:
    """Test adapter: a REAL progressive (SOF2) 4:2:0 color JPEG per row
    (width = (id%3+1)*16, height = 16), gray constant 8x8 luma blocks of
    value ((id + 19*b)*59) % 256 — the same bit-exactness argument as
    ``with_jpeg_color_content`` (gray pins the chroma, constant blocks
    are DC-only, round(v*1.0)==v), carried through the progressive
    entropy layer (DC successive approximation, spectral-selection AC
    scans, EOBn runs), so the channel means stay id-arithmetic and
    oracle-expressible."""

    @pandas_udf("binary")
    def _blob(ids: pd.Series) -> pd.Series:
        # pure function of (id % 256, id % 3) — value period 256, width
        # reads id mod 3; see with_jpeg_content for the memo rationale
        import numpy as np

        cache: dict = {}
        out = []
        for i in ids:
            i = int(i)
            key = (i % 256, i % 3)
            blob = cache.get(key)
            if blob is None:
                w, h = (i % 3 + 1) * 16, 16
                bw = w // 8
                b = (np.arange(h)[:, None] // 8) * bw + np.arange(w) // 8
                gray = (((i + 19 * b) * 59) % 256).astype(np.uint8)
                rgb = np.repeat(gray.reshape(-1), 3).tobytes()
                blob = cache[key] = encode_jpeg_progressive(
                    w, h, rgb, subsampling=(2, 2)
                )
            out.append(blob)
        return pd.Series(out)

    return df.withColumn("content", _blob(F.col(id_col)))


GIF_FRAME_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("n_frames", LongType()),
        StructField("frame_idx", LongType()),
        StructField("width", LongType()),
        StructField("height", LongType()),
        StructField("sum_r", LongType()),
        StructField("sum_g", LongType()),
        StructField("sum_b", LongType()),
    ]
)


def gif_frame_features(
    df: DataFrame,
    every_n: int = 2,
    id_col: str = "doc_id",
    content_col: str = "content",
    composed: bool = False,
) -> DataFrame:
    """REAL video-ish frame sampling: decode every frame of an animated
    GIF (``gif_frames``), keep every ``every_n``-th, and emit one row
    per SAMPLED frame with its palette-expanded per-channel intensity
    sums — the decode → sample → featurize contract a pyav video
    sampler plugs into (``frame_sample_stub`` keeps the metadata-only
    twin for formats this container cannot carry). ``composed=True``
    featurizes the RENDERED animation — each sampled frame is the
    logical-screen canvas after disposal/transparency composition
    (``gif_frames(composed=True)``), the statistics a viewer actually
    sees when frames are partial rects with transparency holes. Exact
    integer sums in the Arrow stage, the mean division JVM-side (the
    ``image_features`` HALF_UP contract)."""
    import numpy as np

    if every_n < 1:
        raise ValueError(f"every_n must be >= 1, got {every_n}")

    def _features(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = []
            for i, c in zip(pdf[id_col], pdf[content_col]):
                frames = gif_frames(bytes(c), composed=composed)
                for fi in range(0, len(frames), every_n):
                    fr = frames[fi]
                    if composed:
                        rgb = np.frombuffer(
                            fr["rgb"], dtype=np.uint8
                        ).reshape(-1, 3).astype(np.int64)
                    else:
                        pal = np.frombuffer(
                            fr["palette"], dtype=np.uint8
                        ).reshape(256, 3)
                        idx = np.frombuffer(fr["indices"], dtype=np.uint8)
                        rgb = pal[idx].astype(np.int64)
                    out.append(
                        {
                            "doc_id": int(i),
                            "n_frames": len(frames),
                            "frame_idx": fi,
                            "width": fr["width"],
                            "height": fr["height"],
                            "sum_r": int(rgb[:, 0].sum()),
                            "sum_g": int(rgb[:, 1].sum()),
                            "sum_b": int(rgb[:, 2].sum()),
                        }
                    )
            yield pd.DataFrame(out)

    narrow = df.select(id_col, content_col)
    par = df.sparkSession.sparkContext.defaultParallelism
    if narrow.rdd.getNumPartitions() < par:
        narrow = narrow.repartition(par)
    feats = narrow.mapInPandas(_features, GIF_FRAME_SCHEMA)
    n = F.col("width") * F.col("height")
    return feats.select(
        "doc_id",
        "n_frames",
        "frame_idx",
        "width",
        "height",
        F.round(F.col("sum_r") / n, 6).alias("mean_r"),
        F.round(F.col("sum_g") / n, 6).alias("mean_g"),
        F.round(F.col("sum_b") / n, 6).alias("mean_b"),
    )


def with_gif_animation_content(
    df: DataFrame, id_col: str = "doc_id"
) -> DataFrame:
    """Test adapter: a REAL animated GIF89a per row, deterministically
    derived from the id (n_frames = id % 4 + 2, width = id % 6 + 2,
    height = id % 3 + 2, frame f's index at raster position p =
    ((id + p + 7*f) * 41) % 251, the standard (i, 2i%256, 3i%256)
    palette) — per-frame channel statistics are arithmetic on
    (id, frame) and therefore ORACLE-EXPRESSIBLE, while the bytes carry
    N genuinely LZW-compressed frames behind GCE/NETSCAPE extensions."""
    palette = bytes(
        b for i in range(256) for b in (i, (2 * i) % 256, (3 * i) % 256)
    )

    @pandas_udf("binary")
    def _blob(ids: pd.Series) -> pd.Series:
        # pure function of (id % 251, id % 12) — frame indices period 251,
        # nf/w/h read id mod 4/6/3 (all divide 12); see with_bmp_content
        # for the memo rationale
        cache: dict = {}
        out = []
        for i in ids:
            i = int(i)
            key = (i % 251, i % 12)
            blob = cache.get(key)
            if blob is None:
                nf, w, h = i % 4 + 2, i % 6 + 2, i % 3 + 2
                frames = [
                    bytes(((i + p + 7 * f) * 41) % 251 for p in range(w * h))
                    for f in range(nf)
                ]
                blob = cache[key] = encode_gif_animation(w, h, frames, palette)
            out.append(blob)
        return pd.Series(out)

    return df.withColumn("content", _blob(F.col(id_col)))


def with_gif_composed_content(
    df: DataFrame, id_col: str = "doc_id"
) -> DataFrame:
    """Test adapter whose disposal/transparency ACTUALLY exercise the
    compositor (VERDICT r11 #5): an animated GIF89a per row —
    nf = id % 3 + 2 frames on a (id % 5 + 4) x (id % 3 + 3) logical
    screen. Frame 0 is full-screen opaque (raster ((id + p) * 41) % 249,
    DISPOSAL 1 — it must persist under every later frame). Frames
    f >= 1 are the partial rect (1, 1, w-2, h-2) with DISPOSAL 2 and
    transparent index 250: rect position q is transparent when
    (id + q + f) % 3 == 0, else ((id + q + 7f) * 41) % 249 (the % 249
    domain can never collide with 250). A correct compositor therefore
    shows, per rendered frame: outside the rect always the base; frame
    1's holes the BASE (canvas still intact); frame >= 2's holes BLACK
    (disposal 2 restored the rect to background). All three semantics
    land in the channel means, which stay pure arithmetic on
    (id, frame, pixel) — oracle-expressible. Palette (i, 2i%256,
    3i%256) as everywhere."""
    palette = bytes(
        b for i in range(256) for b in (i, (2 * i) % 256, (3 * i) % 256)
    )

    @pandas_udf("binary")
    def _blob(ids: pd.Series) -> pd.Series:
        # pure function of (id % 249, id % 3, id % 5) — index formulas
        # period 249, transparency mask id mod 3, dims id mod 5 / mod 3;
        # see with_bmp_content for the memo rationale
        cache: dict = {}
        out = []
        for i in ids:
            i = int(i)
            key = (i % 249, i % 3, i % 5)
            blob = cache.get(key)
            if blob is not None:
                out.append(blob)
                continue
            nf, w, h = i % 3 + 2, i % 5 + 4, i % 3 + 3
            rw, rh = w - 2, h - 2
            specs = [
                {
                    "indices": bytes(
                        ((i + p) * 41) % 249 for p in range(w * h)
                    ),
                    "disposal": 1,
                }
            ]
            for f in range(1, nf):
                specs.append(
                    {
                        "left": 1,
                        "top": 1,
                        "width": rw,
                        "height": rh,
                        "disposal": 2,
                        "transparent": 250,
                        "indices": bytes(
                            250
                            if (i + q + f) % 3 == 0
                            else ((i + q + 7 * f) * 41) % 249
                            for q in range(rw * rh)
                        ),
                    }
                )
            blob = cache[key] = encode_gif_animation_frames(w, h, specs, palette)
            out.append(blob)
        return pd.Series(out)

    return df.withColumn("content", _blob(F.col(id_col)))
