"""Pure-Python WebP LOSSLESS (VP8L) codec — no imaging library.

Implements the public "WebP Lossless Bitstream Specification" the same
way the in-repo PNG/GIF/JPEG codecs implement their specs: a real
decoder for the wire format plus a spec-conformant encoder used to
build value-verified fixtures (reference has no multimodal surface;
this is extension inventory alongside pipeline/multimodal.py).

Decoder surface (``decode_webp``):

- RIFF/WEBP container walk → the ``VP8L`` chunk (lossy ``VP8 `` and
  extended ``VP8X`` recompose stay gated loudly — they need the full
  VP8 intra predictor + bool-coder stack).
- LSB-first bit reader; prefix (Huffman) codes in both spec forms —
  "simple" (1-2 symbols) and "normal" (code-length-coded canonical
  codes incl. the 16/17/18 repeat machinery and the max_symbol
  early-out).
- The GREEN/length/cache alphabet, LZ77 backward references with the
  prefix-coded length/distance scheme, and the ARGB color cache
  (0x1e35a7bd multiplicative hash).
- Meta-Huffman groups via an entropy image (per-tile code-group
  selection).
- All four transforms, inverted in reverse bitstream order:
  SUBTRACT_GREEN, PREDICTOR (all 14 modes, spec edge rules),
  COLOR_TRANSFORM (signed 3.5 fixed-point cross-channel deltas), and
  COLOR_INDEXING (delta-coded palette incl. sub-byte pixel bundling
  for palettes <= 16).

LZ77 distance codes <= 120 are aliases into the spec's explicit
2D-neighborhood table (120 (dx, dy) pairs, WebP Lossless Bitstream
Specification §4.2.2 "Decoding of Distances") — transcribed below as
``_CODE_TO_PLANE`` in the spec's nibble packing (high nibble dy, low
nibble 8-dx) and validated structurally in tests: 120 distinct causal
pairs, dy in [0, 7], dx in [-7, 8], ordered by non-decreasing
dx^2+dy^2 (the spec lists the nearest decoded pixels first). The
linear distance is max(1, dy*width + dx) per the spec's clamp. The
in-repo encoder emits plain distances (code = dist + 120) by default
for fixture byte-stability; ``short_dist=True`` opts into alias
emission so tests drive the 2D path end-to-end.

Encoder surface (``encode_webp_lossless``): literals with real
data-derived canonical Huffman codes (exercising the normal-code
path), optional SUBTRACT_GREEN / PREDICTOR(left) / COLOR_TRANSFORM
(constant elements) / COLOR_INDEXING (paletted, with bundling),
optional color-cache hits, and optional LZ77 run emission for
horizontal repeats — every decoder feature above has an encoder knob
that produces it, so tests drive each path with random rasters and
assert byte-lossless round-trips.
"""

from __future__ import annotations

__all__ = ["decode_webp", "encode_webp_lossless"]


# code-length symbols are themselves coded; this is the transmission
# order of their 3-bit lengths (spec section "Prefix code groups")
_CLC_ORDER = (17, 18, 0, 1, 2, 3, 4, 5, 16, 6, 7, 8, 9, 10, 11, 12, 13, 14, 15)
_HASH_MUL = 0x1E35A7BD

# WebP Lossless Bitstream Specification §4.2.2: distance codes 1..120
# alias a 2D pixel neighborhood. Byte packing per the spec: high
# nibble = dy (0..7), low nibble = 8 - dx (dx in [-7, 8]); linear
# distance = max(1, dy*width + dx). Entries are the 120 nearest
# already-decoded pixels, ordered by non-decreasing dx^2 + dy^2.
_CODE_TO_PLANE = (
    0x18, 0x07, 0x17, 0x19, 0x28, 0x06, 0x27, 0x29, 0x16, 0x1A,
    0x26, 0x2A, 0x38, 0x05, 0x37, 0x39, 0x15, 0x1B, 0x36, 0x3A,
    0x25, 0x2B, 0x48, 0x04, 0x47, 0x49, 0x14, 0x1C, 0x35, 0x3B,
    0x46, 0x4A, 0x24, 0x2C, 0x58, 0x45, 0x4B, 0x34, 0x3C, 0x03,
    0x57, 0x59, 0x13, 0x1D, 0x56, 0x5A, 0x23, 0x2D, 0x44, 0x4C,
    0x55, 0x5B, 0x33, 0x3D, 0x68, 0x02, 0x67, 0x69, 0x12, 0x1E,
    0x66, 0x6A, 0x22, 0x2E, 0x54, 0x5C, 0x43, 0x4D, 0x65, 0x6B,
    0x32, 0x3E, 0x78, 0x01, 0x77, 0x79, 0x53, 0x5D, 0x11, 0x1F,
    0x64, 0x6C, 0x42, 0x4E, 0x76, 0x7A, 0x21, 0x2F, 0x75, 0x7B,
    0x31, 0x3F, 0x63, 0x6D, 0x52, 0x5E, 0x00, 0x74, 0x7C, 0x41,
    0x4F, 0x10, 0x20, 0x62, 0x6E, 0x30, 0x73, 0x7D, 0x51, 0x5F,
    0x40, 0x72, 0x7E, 0x61, 0x6F, 0x50, 0x71, 0x7F, 0x60, 0x70,
)


def _plane_code_to_distance(width: int, code: int) -> int:
    """Map a short distance code (1..120) to a linear pixel distance
    via the §4.2.2 neighborhood table, with the spec's >= 1 clamp."""
    b = _CODE_TO_PLANE[code - 1]
    dy = b >> 4
    dx = 8 - (b & 0xF)
    return max(1, dy * width + dx)


class _BitReader:
    """LSB-first bit reader (VP8L convention)."""

    def __init__(self, data: bytes):
        self.data = data
        self.pos = 0  # bit position

    def read(self, n: int) -> int:
        v = 0
        for i in range(n):
            byte = self.data[self.pos >> 3]
            v |= ((byte >> (self.pos & 7)) & 1) << i
            self.pos += 1
        return v


class _BitWriter:
    def __init__(self):
        self.bytes = bytearray()
        self.bit = 0

    def write(self, value: int, n: int) -> None:
        for i in range(n):
            if self.bit == 0:
                self.bytes.append(0)
            if (value >> i) & 1:
                self.bytes[-1] |= 1 << self.bit
            self.bit = (self.bit + 1) & 7

    def getvalue(self) -> bytes:
        return bytes(self.bytes)


# ---------------------------------------------------------------------------
# canonical prefix codes (DEFLATE-style: codes assigned by increasing
# (length, symbol); transmitted MSB-of-code-first in the LSB-first
# bitstream, so decode accumulates (acc << 1) | bit)
# ---------------------------------------------------------------------------


def _canonical_codes(lengths: list[int]) -> dict[int, tuple[int, int]]:
    """symbol -> (code, length) for nonzero lengths."""
    pairs = sorted(
        (l, s) for s, l in enumerate(lengths) if l > 0
    )
    codes: dict[int, tuple[int, int]] = {}
    code = 0
    prev_len = 0
    for l, s in pairs:
        code <<= l - prev_len
        codes[s] = (code, l)
        code += 1
        prev_len = l
    return codes


class _PrefixCode:
    def __init__(self, lengths: list[int]):
        nz = [(l, s) for s, l in enumerate(lengths) if l > 0]
        if len(nz) == 1:
            # degenerate: single symbol, zero bits per use
            self.single = nz[0][1]
            self.table = None
            return
        self.single = None
        codes = _canonical_codes(lengths)
        # (length, code) -> symbol
        self.table = {(l, c): s for s, (c, l) in codes.items()}
        self.max_len = max(l for l, _ in nz)

    def read(self, br: _BitReader) -> int:
        if self.single is not None:
            return self.single
        acc = 0
        for l in range(1, self.max_len + 1):
            acc = (acc << 1) | br.read(1)
            s = self.table.get((l, acc))
            if s is not None:
                return s
        raise ValueError("invalid prefix code in VP8L stream")


def _huffman_lengths(freqs: dict[int, int], max_len: int = 15) -> dict[int, int]:
    """Code lengths from symbol frequencies (plain Huffman; depths are
    clamped by construction for the alphabets/sizes the encoder emits —
    asserted, not silently fixed)."""
    import heapq

    if not freqs:
        raise ValueError("empty alphabet")
    if len(freqs) == 1:
        return {next(iter(freqs)): 1}
    heap = [(f, [s]) for s, f in freqs.items()]
    heapq.heapify(heap)
    depth: dict[int, int] = {s: 0 for s in freqs}
    while len(heap) > 1:
        fa, sa = heapq.heappop(heap)
        fb, sb = heapq.heappop(heap)
        for s in sa + sb:
            depth[s] += 1
        heapq.heappush(heap, (fa + fb, sa + sb))
    if max(depth.values()) > max_len:
        raise ValueError("huffman depth exceeded 15 — fixture too skewed")
    return depth


# ---------------------------------------------------------------------------
# decoder
# ---------------------------------------------------------------------------


def _read_prefix_code(br: _BitReader, alphabet_size: int) -> _PrefixCode:
    if br.read(1):  # simple code
        num_symbols = br.read(1) + 1
        if br.read(1):  # first symbol in 8 bits
            sym0 = br.read(8)
        else:
            sym0 = br.read(1)
        lengths = [0] * alphabet_size
        if num_symbols == 1:
            lengths[sym0] = 1
            code = _PrefixCode(lengths)
            code.single = sym0  # zero bits per use
            code.table = None
            return code
        sym1 = br.read(8)
        lengths[sym0] = 1
        lengths[sym1] = 1
        return _PrefixCode(lengths)
    # normal code: code-length code first
    num_clc = 4 + br.read(4)
    clc_lengths = [0] * 19
    for i in range(num_clc):
        clc_lengths[_CLC_ORDER[i]] = br.read(3)
    clc = _PrefixCode(clc_lengths)
    # optional cap on the number of codes read
    if br.read(1):
        length_nbits = 2 + 2 * br.read(3)
        max_symbol = 2 + br.read(length_nbits)
    else:
        max_symbol = alphabet_size
    lengths = [0] * alphabet_size
    prev_len = 8
    symbol = 0
    while symbol < alphabet_size:
        if max_symbol == 0:
            break
        max_symbol -= 1
        code_len = clc.read(br)
        if code_len < 16:
            lengths[symbol] = code_len
            symbol += 1
            if code_len != 0:
                prev_len = code_len
        elif code_len == 16:
            repeat = 3 + br.read(2)
            for _ in range(repeat):
                if symbol < alphabet_size:
                    lengths[symbol] = prev_len
                    symbol += 1
        elif code_len == 17:
            symbol += 3 + br.read(3)
        else:  # 18
            symbol += 11 + br.read(7)
    return _PrefixCode(lengths)


def _prefix_value(br: _BitReader, code: int) -> int:
    """LZ77 length/distance prefix decoding (spec formula)."""
    if code < 4:
        return code + 1
    extra = (code - 2) >> 1
    offset = (2 + (code & 1)) << extra
    return offset + br.read(extra) + 1


def _decode_pixels(br: _BitReader, w: int, h: int, allow_meta: bool):
    """Core entropy-coded ARGB decode: returns a flat list of
    (a, r, g, b) tuples, row-major. Used for the main image, entropy
    images, predictor/color sub-images, and palettes."""
    cache_bits = br.read(4) if br.read(1) else 0
    cache_size = (1 << cache_bits) if cache_bits else 0
    cache = [0] * cache_size

    groups_img = None
    meta_bits = 0
    n_groups = 1
    if allow_meta and br.read(1):
        meta_bits = br.read(3) + 2
        mw = -(-w >> meta_bits)
        mh = -(-h >> meta_bits)
        groups_img = _decode_pixels(br, mw, mh, allow_meta=False)
        n_groups = (
            max(((p[1] << 8) | p[2]) for p in groups_img) + 1
        )

    green_size = 256 + 24 + cache_size
    groups = []
    for _ in range(n_groups):
        g_code = _read_prefix_code(br, green_size)
        r_code = _read_prefix_code(br, 256)
        b_code = _read_prefix_code(br, 256)
        a_code = _read_prefix_code(br, 256)
        d_code = _read_prefix_code(br, 40)
        groups.append((g_code, r_code, b_code, a_code, d_code))

    def group_at(pos: int):
        if groups_img is None:
            return groups[0]
        x, y = pos % w, pos // w
        mp = groups_img[(y >> meta_bits) * (-(-w >> meta_bits)) + (x >> meta_bits)]
        return groups[(mp[1] << 8) | mp[2]]

    out: list[tuple[int, int, int, int]] = []
    n = w * h

    def emit(px: tuple[int, int, int, int]) -> None:
        out.append(px)
        if cache_size:
            argb = (px[0] << 24) | (px[1] << 16) | (px[2] << 8) | px[3]
            cache[((_HASH_MUL * argb) & 0xFFFFFFFF) >> (32 - cache_bits)] = argb

    while len(out) < n:
        g_code, r_code, b_code, a_code, d_code = group_at(len(out))
        s = g_code.read(br)
        if s < 256:
            g = s
            r = r_code.read(br)
            b = b_code.read(br)
            a = a_code.read(br)
            emit((a, r, g, b))
        elif s < 280:
            length = _prefix_value(br, s - 256)
            dist_code = _prefix_value(br, d_code.read(br))
            if dist_code <= 120:
                dist = _plane_code_to_distance(w, dist_code)
            else:
                dist = dist_code - 120
            if dist > len(out):
                raise ValueError(
                    "VP8L back-reference before image start "
                    f"(distance {dist} at pixel {len(out)})"
                )
            for _ in range(length):
                emit(out[len(out) - dist])
        else:
            argb = cache[s - 280]
            emit(
                (
                    (argb >> 24) & 0xFF,
                    (argb >> 16) & 0xFF,
                    (argb >> 8) & 0xFF,
                    argb & 0xFF,
                )
            )
    return out


def _avg2(a: int, b: int) -> int:
    return (a + b) >> 1


def _clamp(v: int) -> int:
    return 0 if v < 0 else (255 if v > 255 else v)


def _predict(mode: int, L, T, TL, TR) -> tuple[int, int, int, int]:
    if mode == 0:
        return (255, 0, 0, 0)
    if mode == 1:
        return L
    if mode == 2:
        return T
    if mode == 3:
        return TR
    if mode == 4:
        return TL
    if mode == 5:
        return tuple(_avg2(_avg2(L[i], TR[i]), T[i]) for i in range(4))
    if mode == 6:
        return tuple(_avg2(L[i], TL[i]) for i in range(4))
    if mode == 7:
        return tuple(_avg2(L[i], T[i]) for i in range(4))
    if mode == 8:
        return tuple(_avg2(TL[i], T[i]) for i in range(4))
    if mode == 9:
        return tuple(_avg2(T[i], TR[i]) for i in range(4))
    if mode == 10:
        return tuple(
            _avg2(_avg2(L[i], TL[i]), _avg2(T[i], TR[i])) for i in range(4)
        )
    if mode == 11:  # Select
        p_l = sum(abs(T[i] - TL[i]) for i in range(4))
        p_t = sum(abs(L[i] - TL[i]) for i in range(4))
        return L if p_l < p_t else T
    if mode == 12:  # ClampAddSubtractFull
        return tuple(_clamp(L[i] + T[i] - TL[i]) for i in range(4))
    if mode == 13:  # ClampAddSubtractHalf
        return tuple(
            _clamp(
                _avg2(L[i], T[i])
                + ((_avg2(L[i], T[i]) - TL[i]) >> 1)
            )
            for i in range(4)
        )
    raise ValueError(f"bad predictor mode {mode}")


def _inv_predictor(px, w: int, h: int, size_bits: int, modes) -> None:
    bw = -(-w >> size_bits)
    for y in range(h):
        for x in range(w):
            i = y * w + x
            if x == 0 and y == 0:
                mode = 0
            elif y == 0:
                mode = 1  # forced L on first row
            elif x == 0:
                mode = 2  # forced T on first column
            else:
                mp = modes[(y >> size_bits) * bw + (x >> size_bits)]
                mode = mp[2]  # green channel
            L = px[i - 1] if x > 0 else (0, 0, 0, 0)
            T = px[i - w] if y > 0 else (0, 0, 0, 0)
            TL = px[i - w - 1] if (x > 0 and y > 0) else (0, 0, 0, 0)
            TR = px[i - w + 1] if y > 0 else (0, 0, 0, 0)
            pred = _predict(mode, L, T, TL, TR)
            px[i] = tuple((px[i][c] + pred[c]) & 0xFF for c in range(4))


def _s8(v: int) -> int:
    return v - 256 if v >= 128 else v


def _ct_delta(t: int, c: int) -> int:
    return (_s8(t) * _s8(c)) >> 5


def _inv_color_transform(px, w: int, h: int, size_bits: int, elems) -> None:
    bw = -(-w >> size_bits)
    for y in range(h):
        for x in range(w):
            i = y * w + x
            e = elems[(y >> size_bits) * bw + (x >> size_bits)]
            g2r, g2b, r2b = e[3], e[2], e[1]  # blue, green, red channels
            a, r, g, b = px[i]
            r = (r + _ct_delta(g2r, g)) & 0xFF
            b = (b + _ct_delta(g2b, g) + _ct_delta(r2b, r)) & 0xFF
            px[i] = (a, r, g, b)


def decode_webp(payload: bytes):
    """Decode a lossless WebP (RIFF/WEBP + VP8L). Returns
    ``(pixels, width, height)`` with ``pixels`` an ``(h, w, c)`` uint8
    array — c = 4 (RGBA) when the header's alpha hint is set, else 3.
    A truncated or malformed payload raises ``ValueError``."""
    try:
        return _decode_webp(payload)
    except IndexError as e:  # read past the end of a cut payload
        raise ValueError(f"truncated or corrupt WebP payload: {e}") from e


def _decode_webp(payload: bytes):
    import numpy as np

    if payload[:4] != b"RIFF" or payload[8:12] != b"WEBP":
        raise ValueError("not a WebP payload (bad RIFF/WEBP header)")
    pos = 12
    vp8l = None
    while pos + 8 <= len(payload):
        tag = payload[pos : pos + 4]
        size = int.from_bytes(payload[pos + 4 : pos + 8], "little")
        body = payload[pos + 8 : pos + 8 + size]
        if tag == b"VP8L":
            vp8l = body
            break
        if tag in (b"VP8 ", b"VP8X"):
            raise NotImplementedError(
                "lossy WebP (VP8) and extended (VP8X) require the VP8 "
                "intra-prediction + boolean-coder stack; only lossless "
                "VP8L decodes without an imaging library"
            )
        pos += 8 + size + (size & 1)
    if vp8l is None:
        raise ValueError("no VP8L chunk in WebP container")
    if vp8l[0] != 0x2F:
        raise ValueError("bad VP8L signature byte")
    br = _BitReader(vp8l[1:])
    w = br.read(14) + 1
    h = br.read(14) + 1
    has_alpha = br.read(1)
    version = br.read(3)
    if version != 0:
        raise ValueError(f"unknown VP8L version {version}")

    # transforms, in bitstream order; inverted in reverse order below
    transforms = []
    dec_w = w
    while br.read(1):
        ttype = br.read(2)
        if ttype == 0:  # predictor
            size_bits = br.read(3) + 2
            sub = _decode_pixels(
                br, -(-dec_w >> size_bits), -(-h >> size_bits), allow_meta=False
            )
            transforms.append(("predictor", size_bits, sub))
        elif ttype == 1:  # color transform
            size_bits = br.read(3) + 2
            sub = _decode_pixels(
                br, -(-dec_w >> size_bits), -(-h >> size_bits), allow_meta=False
            )
            transforms.append(("color", size_bits, sub))
        elif ttype == 2:
            transforms.append(("subtract_green",))
        else:  # color indexing
            pal_size = br.read(8) + 1
            pal = _decode_pixels(br, pal_size, 1, allow_meta=False)
            # palette entries are delta-coded per channel
            for i in range(1, pal_size):
                pal[i] = tuple(
                    (pal[i][c] + pal[i - 1][c]) & 0xFF for c in range(4)
                )
            if pal_size <= 2:
                width_bits = 3
            elif pal_size <= 4:
                width_bits = 2
            elif pal_size <= 16:
                width_bits = 1
            else:
                width_bits = 0
            transforms.append(("palette", pal, width_bits, dec_w))
            dec_w = -(-dec_w >> width_bits) if width_bits else dec_w

    px = _decode_pixels(br, dec_w, h, allow_meta=True)

    for t in reversed(transforms):
        if t[0] == "palette":
            _, pal, width_bits, full_w = t
            if width_bits:
                packed_w = -(-full_w >> width_bits)
                per = 1 << width_bits
                bits = 8 >> width_bits
                mask = (1 << bits) - 1
                unpacked = []
                for y in range(h):
                    row = []
                    for xp in range(packed_w):
                        g = px[y * packed_w + xp][2]
                        for k in range(per):
                            row.append((g >> (k * bits)) & mask)
                    for idx in row[:full_w]:
                        unpacked.append(
                            pal[idx] if idx < len(pal) else (0, 0, 0, 0)
                        )
                px = unpacked
            else:
                px = [
                    pal[p[2]] if p[2] < len(pal) else (0, 0, 0, 0) for p in px
                ]
            dec_w = full_w
        elif t[0] == "subtract_green":
            px = [
                (a, (r + g) & 0xFF, g, (b + g) & 0xFF) for (a, r, g, b) in px
            ]
        elif t[0] == "predictor":
            _inv_predictor(px, dec_w, h, t[1], t[2])
        elif t[0] == "color":
            _inv_color_transform(px, dec_w, h, t[1], t[2])

    arr = np.array(px, dtype=np.uint8).reshape(h, w, 4)  # (a, r, g, b)
    rgba = arr[:, :, [1, 2, 3, 0]]
    return (rgba if has_alpha else rgba[:, :, :3]), w, h


# ---------------------------------------------------------------------------
# encoder (fixture generator)
# ---------------------------------------------------------------------------


def _write_prefix_code(bw: _BitWriter, lengths: list[int]) -> dict:
    """Write a prefix code (simple when <= 2 symbols, else the
    code-length-coded normal form, no repeats) and return the
    symbol -> (code, length) map for emission."""
    nz = [s for s, l in enumerate(lengths) if l > 0]
    if len(nz) == 1 and nz[0] < 256:
        bw.write(1, 1)  # simple
        bw.write(0, 1)  # one symbol
        if nz[0] < 2:
            bw.write(0, 1)
            bw.write(nz[0], 1)
        else:
            bw.write(1, 1)
            bw.write(nz[0], 8)
        return {nz[0]: (0, 0)}
    if len(nz) == 2 and nz[0] < 256 and nz[1] < 256:
        bw.write(1, 1)
        bw.write(1, 1)  # two symbols
        if nz[0] < 2:
            bw.write(0, 1)
            bw.write(nz[0], 1)
        else:
            bw.write(1, 1)
            bw.write(nz[0], 8)
        bw.write(nz[1], 8)
        return {nz[0]: (0, 1), nz[1]: (1, 1)}
    bw.write(0, 1)  # normal
    # code-length code over the lengths that actually appear (incl. 0
    # for gaps and 18 for the tail skip)
    tail_start = max(nz) + 1
    body = lengths[:tail_start]
    clc_syms = list(body)
    n_tail = len(lengths) - tail_start
    if n_tail:
        clc_syms.append(18)
    from collections import Counter

    clc_freq = Counter(clc_syms)
    # a zero TAIL can need literal 0-codes: short tails (< 11) and
    # 138-chunk remainders in 1..10 cannot use the 18-code, so symbol 0
    # must own a code whenever any tail exists (found by hypothesis:
    # 1-wide palettes with no zero in the body)
    if n_tail and 0 not in clc_freq:
        clc_freq[0] = 1
    clc_lengths19 = [0] * 19
    clc_map = {}
    if len(clc_freq) == 1:
        s = next(iter(clc_freq))
        clc_lengths19[s] = 1
        clc_map = {s: (0, 1)}
        # single-symbol CLC still needs >= 1-bit codes: pad with an
        # unused partner so the canonical code is complete
        pad = 0 if s != 0 else 1
        clc_lengths19[pad] = 1
        codes = _canonical_codes(clc_lengths19)
        clc_map = {sym: codes[sym] for sym in (s, pad)}
    else:
        cl = _huffman_lengths(dict(clc_freq), max_len=7)
        for s, l in cl.items():
            clc_lengths19[s] = l
        codes = _canonical_codes(clc_lengths19)
        clc_map = {s: codes[s] for s in cl}
    # transmit: count = position of last nonzero in _CLC_ORDER
    last = max(
        i for i, s in enumerate(_CLC_ORDER) if clc_lengths19[s] > 0
    )
    num_clc = max(4, last + 1)
    bw.write(num_clc - 4, 4)
    for i in range(num_clc):
        bw.write(clc_lengths19[_CLC_ORDER[i]], 3)
    bw.write(0, 1)  # no max_symbol cap
    for l in body:
        c, n = clc_map[l]
        for i in range(n - 1, -1, -1):
            bw.write((c >> i) & 1, 1)
    if n_tail:
        # skip the zero tail with repeated 18-codes
        remaining = n_tail
        while remaining > 0:
            run = min(remaining, 138)
            if run < 11:
                # too short for an 18-code: emit literal zeros
                for _ in range(run):
                    c, n = clc_map.get(0, (None, None))
                    if c is None:
                        raise ValueError("tail too short and no 0-code")
                    for i in range(n - 1, -1, -1):
                        bw.write((c >> i) & 1, 1)
            else:
                c, n = clc_map[18]
                for i in range(n - 1, -1, -1):
                    bw.write((c >> i) & 1, 1)
                bw.write(run - 11, 7)
            remaining -= run
    codes = _canonical_codes(lengths)
    return codes


def _emit(bw: _BitWriter, code_map: dict, sym: int) -> None:
    c, n = code_map[sym]
    for i in range(n - 1, -1, -1):
        bw.write((c >> i) & 1, 1)


def _len_prefix(value: int) -> tuple[int, int, int]:
    """Inverse of _prefix_value: value -> (code, extra_bits, extra)."""
    if value <= 4:
        return value - 1, 0, 0
    import math

    extra = max(0, int(math.log2(value - 1)) - 1)
    while True:
        for low in (0, 1):
            offset = (2 + low) << extra
            if offset + 1 <= value <= offset + (1 << extra):
                return 2 * extra + 2 + low, extra, value - offset - 1
        extra += 1


def _encode_pixels(
    bw: _BitWriter,
    px: list[tuple[int, int, int, int]],
    *,
    cache_bits: int = 0,
    lz77: bool = False,
    write_meta_bit: bool = False,
    short_dist: bool = False,
    width: int = 0,
) -> None:
    """Entropy-code (a, r, g, b) pixels: cache header, (main image
    only) the no-meta-huffman bit, the five prefix codes, then the
    token stream — optional color-cache hits and horizontal-run LZ77
    refs; real Huffman codes from the stream's own frequencies.
    ``short_dist`` (requires ``width``) additionally detects
    vertical runs (dist = width) and emits every distance with a
    §4.2.2 2D-neighborhood alias when one exists, driving the
    decoder's short-distance-code path."""
    from collections import Counter

    cache_size = (1 << cache_bits) if cache_bits else 0
    n = len(px)

    # distance value -> the §4.2.2 alias code that decodes back to it
    # (first match wins: codes are ordered nearest-first)
    plane_of: dict[int, int] = {}
    if short_dist and width > 0:
        for code in range(1, 121):
            plane_of.setdefault(_plane_code_to_distance(width, code), code)

    def dist_prefix(dist: int) -> tuple[int, int, int]:
        alias = plane_of.get(dist)
        return _len_prefix(alias if alias is not None else dist + 120)

    tokens = []  # ("lit", a,r,g,b) | ("cache", idx) | ("copy", len, dist)
    cache_state = [None] * cache_size

    def ins(p):
        if cache_size:
            argb = (p[0] << 24) | (p[1] << 16) | (p[2] << 8) | p[3]
            cache_state[((_HASH_MUL * argb) & 0xFFFFFFFF) >> (32 - cache_bits)] = p

    i = 0
    while i < n:
        p = px[i]
        if lz77 and i >= 1 and p == px[i - 1]:
            run = 0
            while i + run < n and px[i + run] == px[i - 1]:
                run += 1
            if run >= 3:
                tokens.append(("copy", run, 1))
                for j in range(run):
                    ins(px[i + j])
                i += run
                continue
        if short_dist and width > 0 and i >= width and p == px[i - width]:
            run = 0
            while i + run < n and px[i + run] == px[i + run - width]:
                run += 1
            if run >= 3:
                tokens.append(("copy", run, width))
                for j in range(run):
                    ins(px[i + j])
                i += run
                continue
        if cache_size:
            argb = (p[0] << 24) | (p[1] << 16) | (p[2] << 8) | p[3]
            idx = ((_HASH_MUL * argb) & 0xFFFFFFFF) >> (32 - cache_bits)
            if cache_state[idx] == p:
                tokens.append(("cache", idx))
                ins(p)
                i += 1
                continue
        tokens.append(("lit",) + p)
        ins(p)
        i += 1

    # frequencies
    gf, rf, bf, af, df = Counter(), Counter(), Counter(), Counter(), Counter()
    for t in tokens:
        if t[0] == "lit":
            _, a, r, g, b = t
            gf[g] += 1
            rf[r] += 1
            bf[b] += 1
            af[a] += 1
        elif t[0] == "cache":
            gf[280 + t[1]] += 1
        else:
            code, _, _ = _len_prefix(t[1])
            gf[256 + code] += 1
            dcode, _, _ = dist_prefix(t[2])
            df[dcode] += 1

    green_size = 256 + 24 + cache_size

    # cache header, then (ARGB image only) the no-meta-huffman bit —
    # the spec's read order in decode_image_stream
    if cache_bits:
        bw.write(1, 1)
        bw.write(cache_bits, 4)
    else:
        bw.write(0, 1)
    if write_meta_bit:
        bw.write(0, 1)

    def lengths_of(freq, size):
        if not freq:
            freq = {0: 1}
        ls = [0] * size
        for s, l in _huffman_lengths(dict(freq)).items():
            ls[s] = l
        return ls

    g_map = _write_prefix_code(bw, lengths_of(gf, green_size))
    r_map = _write_prefix_code(bw, lengths_of(rf, 256))
    b_map = _write_prefix_code(bw, lengths_of(bf, 256))
    a_map = _write_prefix_code(bw, lengths_of(af, 256))
    d_map = _write_prefix_code(bw, lengths_of(df, 40))

    for t in tokens:
        if t[0] == "lit":
            _, a, r, g, b = t
            _emit(bw, g_map, g)
            _emit(bw, r_map, r)
            _emit(bw, b_map, b)
            _emit(bw, a_map, a)
        elif t[0] == "cache":
            _emit(bw, g_map, 280 + t[1])
        else:
            _, length, dist = t
            code, extra, ebits = _len_prefix(length)
            _emit(bw, g_map, 256 + code)
            bw.write(ebits, extra)
            dcode, dextra, debits = dist_prefix(dist)
            _emit(bw, d_map, dcode)
            bw.write(debits, dextra)


def encode_webp_lossless(
    pixels,
    *,
    subtract_green: bool = False,
    predictor: bool = False,
    color_transform: tuple[int, int, int] | None = None,
    palette: bool = False,
    cache_bits: int = 0,
    lz77: bool = False,
    short_dist: bool = False,
) -> bytes:
    """Encode an (h, w, 3|4) uint8 array as lossless WebP. Feature
    knobs exist to exercise each decoder path; all are reversible, so
    any combination round-trips exactly. ``predictor`` uses mode 1
    (left) in every block; ``color_transform`` is a constant
    (green_to_red, green_to_blue, red_to_blue) element applied
    image-wide; ``palette`` switches to color-indexing (requires <= 256
    distinct colors; bundles sub-byte indices for small palettes);
    ``short_dist`` additionally detects vertical runs and emits every
    LZ77 distance through its §4.2.2 2D-neighborhood alias when one
    exists (kept opt-in so default fixture bytes stay stable)."""
    import numpy as np

    arr = np.asarray(pixels, dtype=np.uint8)
    if arr.ndim == 2:
        arr = arr[:, :, None]
    h, w, c = arr.shape
    if c == 1:
        arr = np.repeat(arr, 3, axis=2)
        c = 3
    has_alpha = c == 4
    a = arr[:, :, 3] if has_alpha else np.full((h, w), 255, np.uint8)
    px = [
        (int(a[y, x]), int(arr[y, x, 0]), int(arr[y, x, 1]), int(arr[y, x, 2]))
        for y in range(h)
        for x in range(w)
    ]

    bw = _BitWriter()
    bw.write(w - 1, 14)
    bw.write(h - 1, 14)
    bw.write(1 if has_alpha else 0, 1)
    bw.write(0, 3)  # version

    enc_w = w

    if predictor:
        bw.write(1, 1)
        bw.write(0, 2)  # predictor transform
        size_bits = 4
        bw.write(size_bits - 2, 3)
        bwk = -(-enc_w >> size_bits)
        bhk = -(-h >> size_bits)
        # sub-image: mode 1 (left) everywhere, green channel carries it
        _encode_subimage(bw, [(255, 0, 1, 0)] * (bwk * bhk))
        res = list(px)
        for y in range(h - 1, -1, -1):
            for x in range(enc_w - 1, -1, -1):
                i = y * enc_w + x
                if x == 0 and y == 0:
                    mode = 0
                elif y == 0:
                    mode = 1
                elif x == 0:
                    mode = 2
                else:
                    mode = 1
                L = px[i - 1] if x > 0 else (0, 0, 0, 0)
                T = px[i - enc_w] if y > 0 else (0, 0, 0, 0)
                TL = px[i - enc_w - 1] if (x > 0 and y > 0) else (0, 0, 0, 0)
                TR = px[i - enc_w + 1] if y > 0 else (0, 0, 0, 0)
                pred = _predict(mode, L, T, TL, TR)
                res[i] = tuple((px[i][ch] - pred[ch]) & 0xFF for ch in range(4))
        px = res

    if color_transform is not None:
        g2r, g2b, r2b = color_transform
        bw.write(1, 1)
        bw.write(1, 2)
        size_bits = 4
        bw.write(size_bits - 2, 3)
        bwk = -(-enc_w >> size_bits)
        bhk = -(-h >> size_bits)
        # element pixel: (a, r2b, g2b, g2r) channel layout
        _encode_subimage(bw, [(255, r2b, g2b, g2r)] * (bwk * bhk))
        out = []
        for (pa, pr, pg, pb) in px:
            # the r2b delta uses the ORIGINAL red: the inverse restores
            # red before applying it, so forward and inverse must feed
            # the same value (libwebp's VP8LTransformColor order)
            nr = (pr - _ct_delta(g2r, pg)) & 0xFF
            nb = (pb - _ct_delta(g2b, pg) - _ct_delta(r2b, pr)) & 0xFF
            out.append((pa, nr, pg, nb))
        px = out

    if subtract_green:
        bw.write(1, 1)
        bw.write(2, 2)
        px = [
            (pa, (pr - pg) & 0xFF, pg, (pb - pg) & 0xFF)
            for (pa, pr, pg, pb) in px
        ]

    if palette:
        colors = []
        index = {}
        for p in px:
            if p not in index:
                index[p] = len(colors)
                colors.append(p)
        if len(colors) > 256:
            raise ValueError(f"{len(colors)} distinct colors — palette max 256")
        bw.write(1, 1)
        bw.write(3, 2)
        bw.write(len(colors) - 1, 8)
        deltas = [colors[0]]
        for i in range(1, len(colors)):
            deltas.append(
                tuple((colors[i][ch] - colors[i - 1][ch]) & 0xFF for ch in range(4))
            )
        _encode_subimage(bw, deltas)
        if len(colors) <= 2:
            width_bits = 3
        elif len(colors) <= 4:
            width_bits = 2
        elif len(colors) <= 16:
            width_bits = 1
        else:
            width_bits = 0
        idxs = [index[p] for p in px]
        if width_bits:
            per = 1 << width_bits
            bits = 8 >> width_bits
            packed_w = -(-enc_w >> width_bits)
            packed = []
            for y in range(h):
                row = idxs[y * enc_w : (y + 1) * enc_w]
                for xp in range(packed_w):
                    gbyte = 0
                    for k in range(per):
                        xi = xp * per + k
                        if xi < enc_w:
                            gbyte |= row[xi] << (k * bits)
                    packed.append((255, 0, gbyte, 0))
            px = packed
            enc_w = packed_w
        else:
            px = [(255, 0, i, 0) for i in idxs]

    bw.write(0, 1)  # end of transforms
    _encode_pixels(
        bw,
        px,
        cache_bits=cache_bits,
        lz77=lz77,
        write_meta_bit=True,
        short_dist=short_dist,
        width=enc_w,
    )

    stream = b"\x2f" + bw.getvalue()
    vp8l = b"VP8L" + len(stream).to_bytes(4, "little") + stream
    if len(stream) & 1:
        vp8l += b"\x00"
    riff = b"RIFF" + (4 + len(vp8l)).to_bytes(4, "little") + b"WEBP" + vp8l
    return riff


def _encode_subimage(bw: _BitWriter, px) -> None:
    """Sub-images (predictor/color/palette): own cache header (off),
    no meta-huffman bit, single code group."""
    _encode_pixels(bw, list(px), cache_bits=0, lz77=False)
