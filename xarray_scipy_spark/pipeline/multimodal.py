"""Multimodal columns: opaque binary payloads with typed metadata and
Arrow-batched decode plumbing.

Design (north-star scope; no reference analog): media rides in a
``binary`` column next to a typed metadata struct. Decode / feature
extraction runs in ``mapInPandas`` — one Arrow batch of payloads per
invocation, so the Python decode cost is amortized across the batch
and the operator composes with any upstream filter/projection (Catalyst
prunes the payload column until the decode actually needs it).

Decoders: image (PPM/P6) and audio (RIFF/WAVE PCM) have REAL pure-numpy
decode paths for the public uncompressed formats — header tokenizing,
raster/PCM scaling, feature math, all value-verified by arithmetic
oracles (``multimodal_real_decode`` / ``multimodal_audio_decode``).
Compressed formats with pure-numpy decode paths: PNG (stdlib zlib
inflate + scanline unfilter), GIF (LZW, animated frames composited),
baseline and progressive JPEG (pipeline/jpeg.py), lossless WebP
(pipeline/webp.py) and RIFF/AVI Motion-JPEG video. Lossy WebP, mp3/ogg
and other video containers need libraries this container does not
ship and stay behind clearly-marked ``NotImplementedError`` gates; the
deterministic fallback decoder (md5-derived features) keeps that
plumbing testable and SQL-reproducible.

Every binary operator (``frame_sample``, ``resize_payload``,
``decode_features``, ``decode_text``) is a per-payload ``rows``
function; :func:`_map_payloads` runs them through ``core``'s Arrow-batch
runner, :func:`~xarray_scipy_spark.core.map_batches`.
"""

from __future__ import annotations

import gzip
import hashlib
import struct
import zlib
from collections.abc import Callable

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F

from ..core import _fields_of, map_batches
from .hashes import spread
from .jpeg import decode_jpeg, encode_jpeg
from .webp import decode_webp

__all__ = [
    "with_binary",
    "decode_features",
    "fake_decoder",
    "decode_ppm",
    "decode_png",
    "encode_png",
    "decode_jpeg",
    "encode_jpeg",
    "decode_gif",
    "decode_gif_frames",
    "encode_gif",
    "image_decoder",
    "decode_wav",
    "audio_decoder",
    "audio_spectral_features",
    "gzip_text_decoder",
    "gzip_text_encoder",
    "decode_text",
    "frame_sample",
    "video_frame_decoder",
    "encode_avi_mjpeg",
    "decode_avi_mjpeg",
    "resize_payload",
]

_PNG_SIG = b"\x89PNG\r\n\x1a\n"
_PNG_CHANNELS = {0: 1, 2: 3, 4: 2, 6: 4}  # color type -> samples/pixel


def with_binary(
    df: DataFrame,
    *,
    source_col: str = "text",
    bin_col: str = "payload",
    media_type: str = "text/plain",
) -> DataFrame:
    """Attach an opaque binary payload column + metadata struct.

    In production the payload arrives from the storage layer (parquet
    binary column / object-store pointer); here it is synthesized from
    a text column so the downstream plumbing is exercised end-to-end.
    """
    return df.withColumn(bin_col, F.encode(F.col(source_col), "UTF-8")).withColumn(
        "media_meta",
        F.struct(
            F.lit(media_type).alias("media_type"),
            F.octet_length(F.col(bin_col)).alias("n_bytes"),
            F.md5(F.col(bin_col)).alias("digest"),
        ),
    )


def fake_decoder(payload: bytes, n_features: int) -> list[float]:
    """Deterministic stand-in feature extractor: byte ``i`` of the md5
    digest as a float. Reproducible in SQL
    (``('0x' || substr(md5(payload), 2i+1, 2))::INT``), which lets the
    DuckDB oracle hash-verify the whole mapInPandas path."""
    digest = hashlib.md5(payload).digest()
    return [float(digest[i % 16]) for i in range(n_features)]


def decode_ppm(payload: bytes):
    """Pure-numpy decoder for binary PPM (P6, maxval <= 255) — a public
    uncompressed format needing no imaging library. Returns
    ``(pixels, width, height)`` with ``pixels`` an ``(h, w, 3)`` uint8
    array. Handles ``#`` comments and arbitrary whitespace in the
    header per the netpbm spec."""
    if payload[:2] != b"P6":
        raise ValueError("not a binary PPM (P6) payload")
    # header tokenizer: magic, width, height, maxval; '#' starts a
    # comment running to end-of-line; a single whitespace byte ends the
    # header and the raster follows immediately
    pos, fields = 2, []
    while len(fields) < 3:
        while pos < len(payload) and payload[pos : pos + 1].isspace():
            pos += 1
        if payload[pos : pos + 1] == b"#":
            while pos < len(payload) and payload[pos] != 0x0A:
                pos += 1
            continue
        start = pos
        while pos < len(payload) and not payload[pos : pos + 1].isspace():
            pos += 1
        fields.append(int(payload[start:pos]))
    pos += 1  # the single whitespace byte after maxval
    w, h, maxval = fields
    if not (0 < maxval < 256):
        raise ValueError(f"unsupported PPM maxval {maxval} (16-bit not supported)")
    raster = np.frombuffer(payload, dtype=np.uint8, count=3 * w * h, offset=pos)
    return raster.reshape(h, w, 3), w, h


def decode_png(payload: bytes):
    """Pure-stdlib PNG decoder: ``zlib`` inflate (ships with CPython) +
    numpy scanline unfilter — no imaging library. Supports the common
    web-corpus shape: 8-bit depth, color types 0 (gray) / 2 (RGB) /
    4 (gray+alpha) / 6 (RGBA) / 3 (palette-indexed via PLTE, decoded
    to RGB — r7), non-interlaced AND Adam7 interlaced
    (r7 — each of the seven passes unfilters as its own sub-image
    before scattering onto the pass lattice), at bit depth 8 or 16.
    Returns ``(pixels, width, height)`` with ``pixels`` an
    ``(h, w, channels)`` array — uint8 for 8-bit images, uint16 for
    16-bit ones (big-endian byte pairs combined after the byte-lane
    unfilter — r7).

    The five PNG filter types (spec §6): None and Up vectorize across
    the whole row; Sub is a per-lane running sum (``cumsum mod 256`` —
    mod commutes with addition); Average and Paeth carry a true
    left-neighbor recursion, so those rows walk pixel columns with the
    channel lanes vectorized. Chunk CRCs are not verified (decode is
    value-checked downstream; a corrupt stream fails the zlib inflate
    or the length checks). A truncated or malformed payload raises
    ``ValueError``."""
    try:
        return _decode_png(payload)
    except (struct.error, zlib.error) as e:  # a cut IDAT stream or IHDR body
        raise ValueError(f"truncated or corrupt PNG payload: {e}") from e


def _decode_png(payload: bytes):
    if payload[:8] != _PNG_SIG:
        raise ValueError("not a PNG payload (bad signature)")
    pos, ihdr, idat, plte = 8, None, [], None
    while pos + 8 <= len(payload):
        size = int.from_bytes(payload[pos : pos + 4], "big")
        ctype = payload[pos + 4 : pos + 8]
        body = payload[pos + 8 : pos + 8 + size]
        if ctype == b"IHDR":
            ihdr = body
        elif ctype == b"PLTE":
            plte = body
        elif ctype == b"IDAT":
            idat.append(body)
        elif ctype == b"IEND":
            break
        pos += 12 + size  # length + tag + body + CRC
    if ihdr is None or not idat:
        raise ValueError("PNG missing IHDR/IDAT chunk")
    w, h, depth, color, comp, filt, interlace = struct.unpack(">IIBBBBB", ihdr)
    if depth not in (8, 16):
        raise ValueError(f"only 8/16-bit PNGs supported, got depth {depth}")
    if color == 3:  # palette-indexed (r7): one index lane -> PLTE RGB
        if plte is None or len(plte) % 3 or depth != 8:
            raise ValueError("palette PNG missing a valid 8-bit PLTE setup")
        channels = 1
    else:
        channels = _PNG_CHANNELS.get(color)
        if channels is None:
            raise ValueError(f"unsupported PNG color type {color}")
    # PNG filters operate on BYTES with a bytes-per-pixel offset, so
    # 16-bit images (r7) unfilter over channels*2 byte lanes and the
    # big-endian sample pairs combine afterwards
    lanes = channels * (2 if depth == 16 else 1)
    raw = zlib.decompress(b"".join(idat))

    def finish(px):
        px = px.astype(np.uint8).reshape(h, w, lanes)
        if depth == 16:
            px16 = px.reshape(h, w, channels, 2).astype(np.uint16)
            return (px16[..., 0] << 8) | px16[..., 1], w, h
        if color == 3:
            pal = np.frombuffer(plte, dtype=np.uint8).reshape(-1, 3)
            if int(px.max(initial=0)) >= len(pal):
                raise ValueError("palette index out of range")
            px = pal[px[:, :, 0]]
        return px, w, h

    if not interlace:
        return finish(_png_unfilter(raw, w, h, lanes))
    # Adam7 (r7): seven sub-images, each independently filtered, then
    # scattered onto the (dy, dx) lattice of its pass
    full = np.zeros((h, w * lanes), dtype=np.int64)
    off = 0
    for x0, y0, dx, dy in _ADAM7:
        pw = -(-(w - x0) // dx) if w > x0 else 0
        ph = -(-(h - y0) // dy) if h > y0 else 0
        if pw == 0 or ph == 0:
            continue
        nbytes = (pw * lanes + 1) * ph
        sub = _png_unfilter(raw[off : off + nbytes], pw, ph, lanes)
        off += nbytes
        sub3 = sub.reshape(ph, pw, lanes)
        rows = np.arange(y0, h, dy)[:ph]
        cols = np.arange(x0, w, dx)[:pw]
        lattice = full.reshape(h, w, lanes)
        lattice[np.ix_(rows, cols)] = sub3
    return finish(full)


_ADAM7 = (
    (0, 0, 8, 8),
    (4, 0, 8, 8),
    (0, 4, 4, 8),
    (2, 0, 4, 4),
    (0, 2, 2, 4),
    (1, 0, 2, 2),
    (0, 1, 1, 2),
)


def _png_unfilter(raw: bytes, w: int, h: int, channels: int):
    """Reverse the five PNG scanline filters over a (w, h) raster (the
    whole image, or one Adam7 sub-image — each pass filters against
    its OWN neighbors)."""
    stride = w * channels
    if len(raw) < (stride + 1) * h:
        raise ValueError("PNG raster truncated")
    arr = np.frombuffer(raw, dtype=np.uint8, count=(stride + 1) * h).reshape(
        h, stride + 1
    )
    ftypes = arr[:, 0]
    data = arr[:, 1:].astype(np.int64)
    out = np.zeros((h, stride), dtype=np.int64)
    prev = np.zeros(stride, dtype=np.int64)
    zeros_lane = np.zeros(channels, dtype=np.int64)
    for y in range(h):
        row = data[y]
        f = int(ftypes[y])
        if f == 0:
            rec = row
        elif f == 1:  # Sub: per-lane running sum, mod commutes with +
            rec = (np.cumsum(row.reshape(w, channels), axis=0) % 256).reshape(stride)
        elif f == 2:  # Up
            rec = (row + prev) % 256
        elif f in (3, 4):  # Average / Paeth: left recursion, lanes vectorized
            rec = np.empty(stride, dtype=np.int64)
            for x0 in range(0, stride, channels):
                a = rec[x0 - channels : x0] if x0 else zeros_lane
                b = prev[x0 : x0 + channels]
                if f == 3:
                    pred = (a + b) // 2
                else:
                    c = prev[x0 - channels : x0] if x0 else zeros_lane
                    p = a + b - c
                    pa, pb, pc = np.abs(p - a), np.abs(p - b), np.abs(p - c)
                    pred = np.where(
                        (pa <= pb) & (pa <= pc), a, np.where(pb <= pc, b, c)
                    )
                rec[x0 : x0 + channels] = (row[x0 : x0 + channels] + pred) % 256
        else:
            raise ValueError(f"unknown PNG filter type {f}")
        out[y] = rec
        prev = rec
    return out


def encode_png(pixels) -> bytes:
    """Minimal non-interlaced 8-bit PNG writer (fixture generator and
    binary-sink utility; pure stdlib ``zlib`` + numpy). Accepts an
    ``(h, w)`` gray or ``(h, w, channels)`` array with 1/2/3/4
    channels. Rows cycle filter types 0→4, so a decode of this
    encoder's output exercises every unfilter path — all five filters
    vectorize on the encode side because the predictors read the
    original (= reconstructed) neighbors."""
    px = np.asarray(pixels, dtype=np.uint8)
    if px.ndim == 2:
        px = px[:, :, None]
    h, w, ch = px.shape
    color = {1: 0, 2: 4, 3: 2, 4: 6}.get(ch)
    if color is None:
        raise ValueError(f"unsupported channel count {ch}")
    raw = bytearray()
    prev = np.zeros(w * ch, dtype=np.int64)
    shift = np.zeros(ch, dtype=np.int64)
    for y in range(h):
        row = px[y].reshape(-1).astype(np.int64)
        left = np.concatenate([shift, row[:-ch]]) if w > 1 else np.zeros_like(row)
        f = y % 5
        if f == 0:
            enc = row
        elif f == 1:
            enc = (row - left) % 256
        elif f == 2:
            enc = (row - prev) % 256
        elif f == 3:
            enc = (row - (left + prev) // 2) % 256
        else:
            ul = np.concatenate([shift, prev[:-ch]]) if w > 1 else np.zeros_like(row)
            p = left + prev - ul
            pa, pb, pc = np.abs(p - left), np.abs(p - prev), np.abs(p - ul)
            pred = np.where(
                (pa <= pb) & (pa <= pc), left, np.where(pb <= pc, prev, ul)
            )
            enc = (row - pred) % 256
        raw.append(f)
        raw += enc.astype(np.uint8).tobytes()
        prev = row

    def chunk(tag: bytes, body: bytes) -> bytes:
        return (
            struct.pack(">I", len(body))
            + tag
            + body
            + struct.pack(">I", zlib.crc32(tag + body))
        )

    ihdr = struct.pack(">IIBBBBB", w, h, 8, color, 0, 0, 0)
    return (
        _PNG_SIG
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(bytes(raw)))
        + chunk(b"IEND", b"")
    )


def decode_bmp(payload: bytes):
    """Pure-numpy decoder for uncompressed 24-bit Windows BMP
    (BITMAPINFOHEADER, BI_RGB) — the third public uncompressed image
    format after PPM and WAV. Handles both bottom-up (positive height,
    the common case) and top-down (negative height) row orders and the
    4-byte row stride padding. Returns ``(pixels, width, height)`` with
    ``pixels`` an ``(h, w, 3)`` RGB uint8 array (BMP stores BGR). A
    truncated or malformed payload raises ``ValueError``."""
    try:
        return _decode_bmp(payload)
    except struct.error as e:  # a header cut short
        raise ValueError(f"truncated or corrupt BMP payload: {e}") from e


def _decode_bmp(payload: bytes):
    if payload[:2] != b"BM":
        raise ValueError("not a BMP payload")
    data_off = struct.unpack_from("<I", payload, 10)[0]
    hdr_size, w, h_raw, _planes, bpp, comp = struct.unpack_from(
        "<IiiHHI", payload, 14
    )
    if hdr_size < 40:
        raise ValueError(f"unsupported BMP header size {hdr_size} (need >= 40)")
    if bpp != 24 or comp != 0:
        raise ValueError(
            f"unsupported BMP: {bpp}-bit compression={comp} (24-bit BI_RGB only)"
        )
    h = abs(h_raw)
    stride = (w * 3 + 3) // 4 * 4
    raster = np.frombuffer(
        payload, dtype=np.uint8, count=stride * h, offset=data_off
    ).reshape(h, stride)[:, : w * 3].reshape(h, w, 3)
    if h_raw > 0:  # bottom-up: last file row is the top image row
        raster = raster[::-1]
    return raster[:, :, ::-1].copy(), w, h  # BGR -> RGB


def encode_bmp(pixels) -> bytes:
    """Minimal 24-bit BI_RGB BMP writer (bottom-up, BITMAPINFOHEADER)
    for ``(h, w, 3)`` RGB uint8 pixels — the fixture-side inverse of
    :func:`decode_bmp`."""
    px = np.asarray(pixels, dtype=np.uint8)
    h, w, _c = px.shape
    stride = (w * 3 + 3) // 4 * 4
    rows = np.zeros((h, stride), dtype=np.uint8)
    rows[:, : w * 3] = px[::-1, :, ::-1].reshape(h, w * 3)  # bottom-up BGR
    data = rows.tobytes()
    header = struct.pack("<2sIHHI", b"BM", 14 + 40 + len(data), 0, 0, 54)
    info = struct.pack("<IiiHHIIiiII", 40, w, h, 1, 24, 0, len(data), 2835, 2835, 0, 0)
    return header + info + data


def encode_gif(pixels) -> bytes:
    """Minimal GIF89a writer (fixture generator): one grayscale-palette
    image (palette[i] = (i,i,i)), LZW-compressed in the "uncompressed
    GIF" style — every pixel emitted as a literal 9-bit code with a
    CLEAR before the code width would grow, which every conformant
    decoder accepts. Input: ``(h, w)`` uint8 indices."""
    px = np.asarray(pixels, dtype=np.uint8)
    h, w = px.shape
    out = bytearray()
    out += b"GIF89a"
    out += struct.pack("<HHBBB", w, h, 0xF7, 0, 0)  # GCT, 256 entries
    for i in range(256):
        out += bytes((i, i, i))
    out += b"\x2c" + struct.pack("<HHHHB", 0, 0, w, h, 0)
    out.append(8)  # LZW minimum code size
    clear, _end = 256, 257
    bits = bitpos = 0
    data = bytearray()

    def emit(code: int, width: int) -> None:
        nonlocal bits, bitpos
        bits |= code << bitpos
        bitpos += width
        while bitpos >= 8:
            data.append(bits & 0xFF)
            bits >>= 8
            bitpos -= 8

    emit(clear, 9)
    next_code = 258
    for v in px.ravel():
        emit(int(v), 9)
        next_code += 1
        if next_code >= 511:  # one shy of a 10-bit width switch
            emit(clear, 9)
            next_code = 258
    emit(_end, 9)
    if bitpos:
        data.append(bits & 0xFF)
    for lo in range(0, len(data), 255):
        block = data[lo : lo + 255]
        out.append(len(block))
        out += block
    out += b"\x00\x3b"
    return bytes(out)


def _gif_images(payload: bytes):
    """Parse a GIF87a/89a block stream: logical screen, global/local
    color tables, graphic control extensions (other extensions are
    skipped), full variable-width LZW image data and four-pass
    interlace. Lazy: yields the screen ``(width, height, background
    rgb)`` first, then one ``(left, top, rgb, opaque, disposal)`` per
    image with ``rgb`` its own ``(h, w, 3)`` uint8 rectangle and
    ``opaque`` the ``(h, w)`` mask of non-transparent pixels. A
    truncated or malformed payload raises ``ValueError``."""
    buf = bytes(payload)
    if buf[:6] not in (b"GIF87a", b"GIF89a"):
        raise ValueError("not a GIF payload")
    try:
        sw, sh, flags, bg_idx, _ar = struct.unpack("<HHBBB", buf[6:13])
        pos = 13
        gct = None
        if flags & 0x80:
            n = 2 << (flags & 7)
            gct = np.frombuffer(buf[pos : pos + 3 * n], dtype=np.uint8).reshape(n, 3)
            pos += 3 * n
        ok_bg = gct is not None and bg_idx < len(gct)
        yield sw, sh, gct[bg_idx] if ok_bg else np.zeros(3, dtype=np.uint8)
        transparent = None
        disposal = 0
        while pos < len(buf):
            b0 = buf[pos]
            pos += 1
            if b0 == 0x3B:  # trailer
                break
            if b0 == 0x21:  # extension: label + sub-blocks
                label = buf[pos]
                pos += 1
                if label == 0xF9 and buf[pos] >= 4:  # graphic control extension
                    gflags = buf[pos + 1]
                    disposal = (gflags >> 2) & 0x07
                    transparent = buf[pos + 4] if gflags & 1 else None
                while buf[pos]:
                    pos += 1 + buf[pos]
                pos += 1
                continue
            if b0 != 0x2C:
                raise ValueError(f"unexpected GIF block 0x{b0:02x}")
            left, top, w, h, iflags = struct.unpack("<HHHHB", buf[pos : pos + 9])
            pos += 9
            table = gct
            if iflags & 0x80:
                n = 2 << (iflags & 7)
                table = np.frombuffer(buf[pos : pos + 3 * n], dtype=np.uint8).reshape(n, 3)
                pos += 3 * n
            if table is None:
                raise ValueError("GIF frame without a color table")
            min_code = buf[pos]
            pos += 1
            data = bytearray()
            while buf[pos]:
                data += buf[pos + 1 : pos + 1 + buf[pos]]
                pos += 1 + buf[pos]
            pos += 1
            idx = np.asarray(
                _lzw_decode(bytes(data), min_code, w * h), dtype=np.int64
            )[: w * h].reshape(h, w)
            if iflags & 0x40:
                # GIF interlace: rows arrive in four passes (8/8 from 0,
                # 8/8 from 4, 4/4 from 2, 2/2 from 1) — reorder
                order = np.concatenate(
                    [np.arange(st, h, sp) for st, sp in ((0, 8), (4, 8), (2, 4), (1, 2))]
                )
                deinter = np.empty_like(idx)
                deinter[order] = idx
                idx = deinter
            opaque = np.ones((h, w), bool) if transparent is None else idx != transparent
            yield left, top, table[idx], opaque, disposal
            transparent = None
            disposal = 0

    except (IndexError, struct.error) as e:  # read past the end of a cut payload
        raise ValueError(f"truncated or corrupt GIF payload: {e}") from e

def decode_gif(payload: bytes):
    """GIF87a/89a decode of the FIRST image -> ``((h, w, 3) uint8, w,
    h)``: the image's own rectangle through its color table (global
    or local), LZW-decoded and deinterlaced. Use
    :func:`decode_gif_frames` for screen-composited frames."""
    images = _gif_images(payload)
    next(images)  # the logical screen
    for _left, _top, rgb, _opaque, _disposal in images:
        return rgb, rgb.shape[1], rgb.shape[0]
    raise ValueError("GIF contained no image frame")


def decode_gif_frames(payload: bytes):
    """Full animated-GIF decode: every image composited onto the
    logical screen — sub-rectangle images draw at their (left, top),
    transparency (GCE transparent index) leaves the canvas showing
    through, and disposal methods none/keep (0/1), restore-background
    (2), and restore-previous (3) are honored. Returns a list of
    ``(screen_h, screen_w, 3)`` uint8 canvases, one per image."""
    images = _gif_images(payload)
    sw, sh, bg = next(images)
    canvas = np.tile(bg, (sh, sw, 1))
    frames = []
    for left, top, rgb, opaque, disposal in images:
        h, w = opaque.shape
        prev = canvas.copy() if disposal == 3 else None
        region = canvas[top : top + h, left : left + w]
        region[opaque] = rgb[opaque]
        frames.append(canvas.copy())
        if disposal == 2:  # restore background in the image rect
            region[:] = bg
        elif disposal == 3:
            canvas = prev
    if not frames:
        raise ValueError("GIF contained no image frame")
    return frames


def _lzw_decode(data: bytes, min_code: int, limit: int) -> list[int]:
    """GIF variable-width LZW: clear = 2^min, end = clear+1, width
    grows after code 2^width−1 is assigned, capped at 12 bits."""
    clear = 1 << min_code
    end = clear + 1
    width = min_code + 1
    table: list[bytes] = [bytes((i,)) for i in range(clear)] + [b"", b""]
    out: list[int] = []
    prev: bytes | None = None
    bits = bitpos = 0
    bytepos = 0
    while len(out) < limit:
        while bitpos < width:
            if bytepos >= len(data):
                return out
            bits |= data[bytepos] << bitpos
            bytepos += 1
            bitpos += 8
        code = bits & ((1 << width) - 1)
        bits >>= width
        bitpos -= width
        if code == clear:
            table = [bytes((i,)) for i in range(clear)] + [b"", b""]
            width = min_code + 1
            prev = None
            continue
        if code == end:
            break
        if code < len(table):
            entry = table[code]
        elif code == len(table) and prev is not None:
            entry = prev + prev[:1]
        else:
            raise ValueError(f"corrupt LZW stream (code {code})")
        out.extend(entry)
        if prev is not None and len(table) < 4096:
            table.append(prev + entry[:1])
            if len(table) == (1 << width) and width < 12:
                width += 1
        prev = entry
    return out



def image_decoder(payload: bytes, n_features: int) -> list[float]:
    """Image feature extraction with REAL pure-python decode paths for
    binary PPM (P6), PNG, BMP, baseline/progressive JPEG, GIF, and
    lossless WebP (VP8L) payloads: features are the per-channel means
    (first three channels; gray fills one) followed by width and
    height (zero-padded / truncated to ``n_features``). Remaining
    formats (lossy-VP8 WebP, AVIF, ...) have no pure-python path and
    raise."""
    if payload[:2] == b"P6":
        px, w, h = decode_ppm(payload)
    elif payload[:2] == b"BM":
        px, w, h = decode_bmp(payload)
    elif payload[:8] == _PNG_SIG:
        px, w, h = decode_png(payload)
    elif payload[:2] == b"\xff\xd8":
        px, w, h = decode_jpeg(payload)
        if px.ndim == 2:
            px = px[:, :, None]
    elif payload[:6] in (b"GIF87a", b"GIF89a"):
        px, w, h = decode_gif(payload)
    elif payload[:4] == b"RIFF" and payload[8:12] == b"WEBP":
        px, w, h = decode_webp(payload)
    else:
        raise NotImplementedError(
            "only PPM (P6), PNG (8/16-bit, palette, Adam7), BMP, GIF "
            "(incl. animated LZW), baseline/progressive JPEG, and "
            "lossless WebP (VP8L) decode without an imaging library; "
            "lossy-VP8 WebP/AVIF and friends require PIL/cv2, not "
            "present in this environment"
        )
    means = px.reshape(-1, px.shape[-1]).mean(axis=0, dtype=np.float64)
    feats = [float(m) for m in means[:3]]
    feats += [0.0] * (3 - len(feats)) if len(feats) < 3 else []
    feats += [float(w), float(h)]
    return (feats + [0.0] * n_features)[:n_features]


def decode_wav(payload: bytes):
    """Pure-numpy decoder for RIFF/WAVE PCM (8/16-bit, any channel
    count) — a public uncompressed format needing no audio library.
    Walks the RIFF chunk list (handles extra chunks like LIST/fact
    before data). Returns ``(samples, sample_rate)`` with ``samples``
    an ``(n_frames, n_channels)`` float64 array scaled to [-1, 1)."""
    if payload[:4] != b"RIFF" or payload[8:12] != b"WAVE":
        raise ValueError("not a RIFF/WAVE payload")
    pos, fmt, data = 12, None, None
    while pos + 8 <= len(payload):
        cid = payload[pos : pos + 4]
        size = int.from_bytes(payload[pos + 4 : pos + 8], "little")
        body = payload[pos + 8 : pos + 8 + size]
        if cid == b"fmt ":
            fmt = body
        elif cid == b"data":
            data = body
        pos += 8 + size + (size & 1)  # chunks are word-aligned
    if fmt is None or data is None:
        raise ValueError("WAVE missing fmt/data chunk")
    audio_format = int.from_bytes(fmt[0:2], "little")
    n_channels = int.from_bytes(fmt[2:4], "little")
    sample_rate = int.from_bytes(fmt[4:8], "little")
    bits = int.from_bytes(fmt[14:16], "little")
    if audio_format != 1:
        raise ValueError(f"only PCM (format 1) supported, got {audio_format}")
    if bits == 16:
        raw = np.frombuffer(data, dtype="<i2").astype(np.float64) / 32768.0
    elif bits == 8:  # unsigned in WAV
        raw = (np.frombuffer(data, dtype=np.uint8).astype(np.float64) - 128.0) / 128.0
    else:
        raise ValueError(f"unsupported PCM bit depth {bits}")
    n_frames = len(raw) // n_channels
    return raw[: n_frames * n_channels].reshape(n_frames, n_channels), sample_rate


def audio_decoder(payload: bytes, n_features: int) -> list[float]:
    """Audio feature extraction with a REAL pure-numpy decode path for
    RIFF/WAVE PCM payloads: features are ``[rms_ch0, mean_ch0,
    n_frames, sample_rate, n_channels]`` (zero-padded / truncated to
    ``n_features``). Compressed codecs (mp3/ogg/aac) require an audio
    library this container does not ship and raise."""
    if payload[:4] == b"RIFF":
        x, sr = decode_wav(payload)
        ch0 = x[:, 0] if x.size else np.zeros(1)
        return (
            [
                float(np.sqrt(np.mean(ch0 * ch0))),
                float(np.mean(ch0)),
                float(x.shape[0]),
                float(sr),
                float(x.shape[1]),
            ]
            + [0.0] * n_features
        )[:n_features]
    raise NotImplementedError(
        "only uncompressed RIFF/WAVE PCM decodes without an audio library; "
        "mp3/ogg/aac require ffmpeg/librosa, not present in this environment"
    )


def encode_avi_mjpeg(frames, fps: int = 10) -> bytes:
    """Minimal RIFF/AVI container around Motion-JPEG frames (fixture
    generator and binary-sink utility, the encode_png/encode_jpeg
    pattern): a well-formed ``hdrl`` (avih + vids/MJPG strh/strf) and
    a ``movi`` LIST of ``00dc`` chunks, each a baseline JPEG from
    :func:`~xarray_scipy_spark.pipeline.jpeg.encode_jpeg`. Chunks are
    word-aligned per RIFF."""
    frames = [np.asarray(f) for f in frames]
    if not frames:
        raise ValueError("need at least one frame")
    h, w = frames[0].shape[:2]
    jpegs = [encode_jpeg(f) for f in frames]

    def chunk(fourcc: bytes, data: bytes) -> bytes:
        pad = b"\x00" if len(data) % 2 else b""
        return fourcc + struct.pack("<I", len(data)) + data + pad

    def lst(listtype: bytes, data: bytes) -> bytes:
        return chunk(b"LIST", listtype + data)

    avih = struct.pack(
        "<14I",
        1_000_000 // fps, 0, 0, 0x10, len(jpegs), 0, 1,
        max(len(j) for j in jpegs), w, h, 0, 0, 0, 0,
    )
    strh = (
        b"vids" + b"MJPG"
        + struct.pack("<10I4H", 0, 0, 0, 1, fps, 0, len(jpegs),
                      max(len(j) for j in jpegs), 0xFFFFFFFF, 0,
                      0, 0, w, h)
    )
    strf = struct.pack("<I2i2H2I2i2I", 40, w, h, 1, 24, 0x47504A4D,
                       w * h * 3, 0, 0, 0, 0)
    hdrl = lst(b"hdrl", chunk(b"avih", avih) + lst(b"strl", chunk(b"strh", strh) + chunk(b"strf", strf)))
    movi = lst(b"movi", b"".join(chunk(b"00dc", j) for j in jpegs))
    body = b"AVI " + hdrl + movi
    return b"RIFF" + struct.pack("<I", len(body)) + body


def decode_avi_mjpeg(payload: bytes) -> list[bytes]:
    """Demux a RIFF/AVI Motion-JPEG container into its per-frame JPEG
    payloads (``00dc``/``00db`` chunks of the ``movi`` LIST) — pure
    chunk walking, word-aligned per RIFF. Frames decode with
    :func:`~xarray_scipy_spark.pipeline.jpeg.decode_jpeg`."""
    buf = bytes(payload)
    if buf[:4] != b"RIFF" or buf[8:12] != b"AVI ":
        raise ValueError("not a RIFF/AVI payload")
    frames: list[bytes] = []

    def walk(lo: int, hi: int) -> None:
        pos = lo
        while pos + 8 <= hi:
            fourcc = buf[pos : pos + 4]
            (size,) = struct.unpack("<I", buf[pos + 4 : pos + 8])
            data_lo = pos + 8
            data_hi = data_lo + size
            if data_hi > hi:
                raise ValueError("truncated AVI chunk")
            if fourcc == b"LIST":
                listtype = buf[data_lo : data_lo + 4]
                if listtype in (b"movi", b"hdrl", b"strl", b"rec "):
                    walk(data_lo + 4, data_hi)
            elif fourcc[2:4] in (b"dc", b"db"):
                frames.append(buf[data_lo:data_hi])
            pos = data_hi + (size % 2)

    walk(12, len(buf))
    return frames




def audio_spectral_features(payload: bytes) -> list[float]:
    """Spectral shape features of a RIFF/WAVE PCM payload (r7): decode
    channel 0, rfft magnitude spectrum (DC excluded), and return
    ``[centroid_hz, bandwidth_hz, peak_hz, flatness]`` — the standard
    low-level audio descriptors (centroid = magnitude-weighted mean
    frequency; bandwidth = the weighted std around it; peak = argmax
    bin; flatness = geometric/arithmetic magnitude mean). For a tone
    at an exact bin frequency k·sr/n the spectrum concentrates in bin
    k, so centroid == peak == k·sr/n in closed form — the property the
    contract oracle pins."""
    x, sr = decode_wav(payload)
    ch0 = x[:, 0] if x.size else np.zeros(1)
    n = len(ch0)
    mag = np.abs(np.fft.rfft(ch0))
    if len(mag) > 1:
        mag = mag[1:]  # exclude DC
        freqs = np.arange(1, len(mag) + 1) * (sr / n)
    else:
        freqs = np.zeros(1)
    tot = float(mag.sum())
    if tot <= 0:
        return [0.0, 0.0, 0.0, 0.0]
    centroid = float((freqs * mag).sum() / tot)
    bandwidth = float(np.sqrt(((freqs - centroid) ** 2 * mag).sum() / tot))
    peak = float(freqs[int(np.argmax(mag))])
    am = float(mag.mean())
    gm = float(np.exp(np.mean(np.log(np.maximum(mag, 1e-30)))))
    return [centroid, bandwidth, peak, gm / am if am > 0 else 0.0]

def video_frame_decoder(payload: bytes, frame_bytes: int = 0) -> list[bytes]:
    """Container demux: RIFF/AVI Motion-JPEG payloads demux for REAL
    (:func:`decode_avi_mjpeg`; each returned blob is a JPEG the in-repo
    decoder handles). Every other container (mp4/h264
    etc.) still requires an av library this environment does not ship
    and raises — loudly, never a silently wrong answer."""
    buf = bytes(payload)
    if buf[:4] == b"RIFF" and buf[8:12] == b"AVI ":
        return decode_avi_mjpeg(buf)
    raise NotImplementedError(
        "only RIFF/AVI Motion-JPEG demuxes without an av library; "
        "mp4/h264/vp9 require pyav/ffmpeg, not present in this environment"
    )


def _map_payloads(
    df: DataFrame,
    id_col: str,
    bin_col: str,
    fields: dict[str, str],
    rows: Callable[[bytes | None], list[tuple]],
) -> DataFrame:
    """Run a per-payload kernel over ``df`` in Arrow batches
    (``core.map_batches``, one batch of payloads per call, so decode
    cost is amortized and Catalyst prunes the payload column until here).

    ``rows(payload)`` returns the output rows of one payload (``None``
    for a NULL one) as tuples in ``fields`` order (``{name: ddl
    type}``); each row is prefixed with its input's ``id_col`` value,
    whose type carries over. Zero, one or many rows per payload."""
    names = list(fields)

    def run(pdf: pd.DataFrame) -> dict:
        ids: list = []
        out: list[tuple] = []
        for i, payload in zip(pdf[id_col], pdf[bin_col]):
            got = rows(payload)
            ids.extend([i] * len(got))
            out.extend(got)
        cols = list(zip(*out)) or [()] * len(names)
        return {id_col: ids, **{n: list(c) for n, c in zip(names, cols)}}

    return map_batches(
        spread(df.select(id_col, bin_col), id_col), run, {**_fields_of(df, [id_col]), **fields}
    )


def frame_sample(
    df: DataFrame,
    *,
    id_col: str = "doc_id",
    bin_col: str = "payload",
    frame_bytes: int = 8,
    every: int = 3,
    codec: str = "stride",
) -> DataFrame:
    """Sample every ``every``-th frame from each binary payload and
    emit one row per sampled frame (UDTF shape: the ``mapInPandas``
    batch yields MORE rows than it receives). Per frame: ``frame_idx``
    (index among ALL frames, so the sampling stride is visible) and
    ``f0``.

    ``codec="stride"`` slices an opaque payload into consecutive
    ``frame_bytes``-byte frames (tail shorter than a frame dropped);
    ``f0`` is an md5-derived stand-in feature, SQL-reproducible for the
    oracle. ``codec="mjpeg"`` is the real path: payloads are RIFF/AVI
    Motion-JPEG containers, demuxed chunk-by-chunk
    (:func:`decode_avi_mjpeg`) and each sampled frame decoded through
    the in-repo JPEG decoder; ``f0`` is then the decoded frame's pixel
    mean (closed-form for the DC/AC arithmetic fixtures, so the
    contract oracle states it in SQL).

    A NULL payload emits no frames.
    """
    if codec not in ("stride", "mjpeg"):
        raise ValueError(f"codec must be 'stride' or 'mjpeg', got {codec!r}")

    def rows(payload):
        if payload is None:
            return []
        if codec == "mjpeg":
            jpegs = decode_avi_mjpeg(bytes(payload))
            pixels = [decode_jpeg(jpegs[k])[0] for k in range(0, len(jpegs), every)]
            return [
                (k * every, float(np.asarray(px, dtype=float).mean()))
                for k, px in enumerate(pixels)
            ]
        fb = frame_bytes
        frames = [payload[k * fb : (k + 1) * fb] for k in range(0, len(payload) // fb, every)]
        return [
            (k * every, float(hashlib.md5(f).digest()[0])) for k, f in enumerate(frames)
        ]

    fields = {"frame_idx": "int", "f0": "double"}
    return _map_payloads(df, id_col, bin_col, fields, rows)


def resize_payload(
    df: DataFrame,
    *,
    id_col: str = "doc_id",
    bin_col: str = "payload",
    target_bytes: int = 64,
    pad: bytes = b".",
) -> DataFrame:
    """Normalize every payload to a fixed byte budget (truncate or
    right-pad) — the plumbing shape of an image/audio resize: binary in,
    binary out, metadata recomputed. A real resampler replaces the
    truncate/pad body; the Spark contract (schema, batching, digest
    recompute) is identical.

    Output: ``(id_col, payload, n_bytes, digest)``; a NULL payload
    gives NULL ``payload``, ``n_bytes`` and ``digest``.
    """

    def rows(payload):
        if payload is None:
            return [(None, None, None)]
        out = bytes(payload)[:target_bytes].ljust(target_bytes, pad)
        return [(out, target_bytes, hashlib.md5(out).hexdigest())]

    fields = {"payload": "binary", "n_bytes": "int", "digest": "string"}
    return _map_payloads(df, id_col, bin_col, fields, rows)


def decode_features(
    df: DataFrame,
    *,
    id_col: str = "doc_id",
    bin_col: str = "payload",
    n_features: int = 4,
    decoder: Callable[[bytes, int], list[float]] = fake_decoder,
) -> DataFrame:
    """Extract a fixed-width feature vector from each binary payload via
    ``mapInPandas`` (Arrow-batched; the iterator sees whole column
    batches, so ``decoder`` amortizes per-batch setup).

    Output: ``(id_col, n_bytes, f0..f{n-1})``. The declared schema is
    the Spark analog of the reference's ``output_dtypes`` contract
    (``xarray_scipy/signal.py``).

    A NULL payload gives NULL ``n_bytes`` and NULL features;
    ``decoder`` is not called for it.
    """

    def rows(payload):
        if payload is None:
            return [(None,) * (n_features + 1)]
        return [(len(payload), *decoder(payload, n_features)[:n_features])]

    fields = {"n_bytes": "int", **{f"f{i}": "double" for i in range(n_features)}}
    return _map_payloads(df, id_col, bin_col, fields, rows)


def gzip_text_decoder(payload: bytes) -> str:
    """REAL compressed-text decode: gzip member (RFC 1952 framing over
    RFC 1951 DEFLATE) -> utf-8 text, pure stdlib ``gzip``. This is the
    wire format of web-crawl corpora (WARC records, .jsonl.gz shards) —
    the common case for 100 TB text ingestion, and the one compressed
    format the container can decode without any external library."""
    return gzip.decompress(bytes(payload)).decode("utf-8")


def gzip_text_encoder(text: str) -> bytes:
    """Fixture-side inverse of :func:`gzip_text_decoder` (``mtime=0``
    so payload bytes are deterministic across runs)."""
    return gzip.compress(text.encode("utf-8"), mtime=0)


def decode_text(
    df: DataFrame,
    *,
    id_col: str = "doc_id",
    bin_col: str = "payload",
    decoder: Callable[[bytes], str] = gzip_text_decoder,
    out_col: str = "text",
) -> DataFrame:
    """Decode a binary payload column into text via ``mapInPandas``
    (Arrow-batched, same plumbing contract as :func:`decode_features`).
    Output: ``(id_col, n_bytes, out_col)`` with ``n_bytes`` the COMPRESSED
    payload size — pairing it with ``octet_length(text)`` downstream
    gives the corpus compression ratio for free. A NULL payload gives
    NULL ``n_bytes`` and NULL text; ``decoder`` is not called for it."""

    def rows(payload):
        return [(None, None) if payload is None else (len(payload), decoder(payload))]

    fields = {"n_bytes": "int", out_col: "string"}
    return _map_payloads(df, id_col, bin_col, fields, rows)
