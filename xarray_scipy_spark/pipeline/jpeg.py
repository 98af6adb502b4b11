"""Pure-numpy JPEG codec, baseline and progressive (ITU-T T.81,
public spec).

No imaging library ships in this container, so — like the PNG path
(pipeline/multimodal.py) — the decoder is written from the published
standard: marker segmentation, stream-carried huffman tables (DHT),
quantization tables (DQT), one scan decoder for sequential (SOF0) and
progressive (SOF2, Annex G) scans with byte-stuffing and restart
markers, dequantization, a vectorized 8×8 inverse DCT (one einsum over
all blocks of a component), chroma upsampling for subsampled scans,
and JFIF/BT.601 YCbCr→RGB for 3-component images. The encoder exists
for fixtures and tests: grayscale or 4:4:4 / 4:2:0 color, baseline or
progressive, any quantization table (all-ones by default so DC-only
images roundtrip EXACTLY — the property the arithmetic oracle uses),
standard Annex K huffman tables.

Scale note: this module is the per-payload kernel; the Spark side
(``_map_payloads`` in multimodal.py) amortizes it over Arrow batches,
one batch per task — decode parallelism comes from partitions, exactly
like every other kernel in the engine.
"""

from __future__ import annotations

import struct

import numpy as np

__all__ = ["decode_jpeg", "encode_jpeg"]


def _zigzag() -> np.ndarray:
    """The T.81 zigzag scan order as (index-in-block) per scan position."""
    order = []
    for s in range(15):
        cells = [(i, s - i) for i in range(max(0, s - 7), min(s, 7) + 1)]
        if s % 2 == 0:
            cells.reverse()  # even diagonals run bottom-left -> top-right
        order.extend(cells)
    return np.array([r * 8 + c for r, c in order], dtype=np.int64)


_ZZ = _zigzag()  # zigzag position -> raster index
_ZZ_INV = np.argsort(_ZZ)  # raster index -> zigzag position

# 8x8 DCT-II basis with orthonormal scaling: C[u, x] = a(u) cos((2x+1)u pi/16),
# a(0)=sqrt(1/8), a(u>0)=sqrt(2/8). pixels = C.T @ coeffs @ C (T.81 uses the
# 1/4 * Cu * Cv convention; this matrix folds the constants in).
_DCT = np.array(
    [
        [
            (np.sqrt(0.125) if u == 0 else 0.5) * np.cos((2 * x + 1) * u * np.pi / 16)
            for x in range(8)
        ]
        for u in range(8)
    ]
)

# Annex K (K.3.1/K.3.2) standard huffman tables: (BITS[1..16], HUFFVAL).
_DC_LUM = (
    [0, 1, 5, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0, 0, 0],
    list(range(12)),
)
_DC_CHR = (
    [0, 3, 1, 1, 1, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0],
    list(range(12)),
)
_AC_LUM = (
    [0, 2, 1, 3, 3, 2, 4, 3, 5, 5, 4, 4, 0, 0, 1, 125],
    # fmt: off
    [
        0x01, 0x02, 0x03, 0x00, 0x04, 0x11, 0x05, 0x12, 0x21, 0x31, 0x41, 0x06,
        0x13, 0x51, 0x61, 0x07, 0x22, 0x71, 0x14, 0x32, 0x81, 0x91, 0xA1, 0x08,
        0x23, 0x42, 0xB1, 0xC1, 0x15, 0x52, 0xD1, 0xF0, 0x24, 0x33, 0x62, 0x72,
        0x82, 0x09, 0x0A, 0x16, 0x17, 0x18, 0x19, 0x1A, 0x25, 0x26, 0x27, 0x28,
        0x29, 0x2A, 0x34, 0x35, 0x36, 0x37, 0x38, 0x39, 0x3A, 0x43, 0x44, 0x45,
        0x46, 0x47, 0x48, 0x49, 0x4A, 0x53, 0x54, 0x55, 0x56, 0x57, 0x58, 0x59,
        0x5A, 0x63, 0x64, 0x65, 0x66, 0x67, 0x68, 0x69, 0x6A, 0x73, 0x74, 0x75,
        0x76, 0x77, 0x78, 0x79, 0x7A, 0x83, 0x84, 0x85, 0x86, 0x87, 0x88, 0x89,
        0x8A, 0x92, 0x93, 0x94, 0x95, 0x96, 0x97, 0x98, 0x99, 0x9A, 0xA2, 0xA3,
        0xA4, 0xA5, 0xA6, 0xA7, 0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4, 0xB5, 0xB6,
        0xB7, 0xB8, 0xB9, 0xBA, 0xC2, 0xC3, 0xC4, 0xC5, 0xC6, 0xC7, 0xC8, 0xC9,
        0xCA, 0xD2, 0xD3, 0xD4, 0xD5, 0xD6, 0xD7, 0xD8, 0xD9, 0xDA, 0xE1, 0xE2,
        0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9, 0xEA, 0xF1, 0xF2, 0xF3, 0xF4,
        0xF5, 0xF6, 0xF7, 0xF8, 0xF9, 0xFA,
    ],
    # fmt: on
)
_AC_CHR = (
    [0, 2, 1, 2, 4, 4, 3, 4, 7, 5, 4, 4, 0, 1, 2, 119],
    # fmt: off
    [
        0x00, 0x01, 0x02, 0x03, 0x11, 0x04, 0x05, 0x21, 0x31, 0x06, 0x12, 0x41,
        0x51, 0x07, 0x61, 0x71, 0x13, 0x22, 0x32, 0x81, 0x08, 0x14, 0x42, 0x91,
        0xA1, 0xB1, 0xC1, 0x09, 0x23, 0x33, 0x52, 0xF0, 0x15, 0x62, 0x72, 0xD1,
        0x0A, 0x16, 0x24, 0x34, 0xE1, 0x25, 0xF1, 0x17, 0x18, 0x19, 0x1A, 0x26,
        0x27, 0x28, 0x29, 0x2A, 0x35, 0x36, 0x37, 0x38, 0x39, 0x3A, 0x43, 0x44,
        0x45, 0x46, 0x47, 0x48, 0x49, 0x4A, 0x53, 0x54, 0x55, 0x56, 0x57, 0x58,
        0x59, 0x5A, 0x63, 0x64, 0x65, 0x66, 0x67, 0x68, 0x69, 0x6A, 0x73, 0x74,
        0x75, 0x76, 0x77, 0x78, 0x79, 0x7A, 0x82, 0x83, 0x84, 0x85, 0x86, 0x87,
        0x88, 0x89, 0x8A, 0x92, 0x93, 0x94, 0x95, 0x96, 0x97, 0x98, 0x99, 0x9A,
        0xA2, 0xA3, 0xA4, 0xA5, 0xA6, 0xA7, 0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4,
        0xB5, 0xB6, 0xB7, 0xB8, 0xB9, 0xBA, 0xC2, 0xC3, 0xC4, 0xC5, 0xC6, 0xC7,
        0xC8, 0xC9, 0xCA, 0xD2, 0xD3, 0xD4, 0xD5, 0xD6, 0xD7, 0xD8, 0xD9, 0xDA,
        0xE2, 0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9, 0xEA, 0xF2, 0xF3, 0xF4,
        0xF5, 0xF6, 0xF7, 0xF8, 0xF9, 0xFA,
    ],
    # fmt: on
)


# Progressive AC huffman table: baseline Annex K tables lack the EOBn
# symbols (r<<4 for r=1..14) progressive band coding emits, so the
# progressive encoder ships its own flat table — every valid RRRRSSSS
# symbol (ssss 0..10, plus ZRL and all EOBn) at code length 8, a
# legal (incomplete) canonical huffman tree. Decoders read whatever
# table the DHT carries, so flatness costs only compression ratio.
_AC_PROG = (
    [0, 0, 0, 0, 0, 0, 0, 176, 0, 0, 0, 0, 0, 0, 0, 0],
    [(r << 4) | sv for r in range(16) for sv in range(11)],
)


def _canonical_codes(bits, values):
    """T.81 Annex C: canonical huffman — codes assigned in symbol order,
    incrementing within a length, doubling at each length step. Returns
    {(length, code): symbol}. Memoized on the (BITS, HUFFVAL) pair:
    corpus payloads overwhelmingly share tables (every JFIF encoder
    ships Annex K), so per-payload decode skips the ~400 dict inserts."""
    key = (tuple(bits), tuple(values))
    cached = _CODE_CACHE.get(key)
    if cached is not None:
        return cached
    table = {}
    code = 0
    k = 0
    for length in range(1, 17):
        for _ in range(bits[length - 1]):
            table[(length, code)] = values[k]
            code += 1
            k += 1
        code <<= 1
    if len(_CODE_CACHE) < 64:
        _CODE_CACHE[key] = table
    return table


_CODE_CACHE: dict = {}


class _BitReader:
    """MSB-first bit reader over entropy-coded data with 0xFF00 byte
    stuffing; stops at (and reports) marker bytes."""

    def __init__(self, buf: bytes, pos: int):
        self.buf = buf
        self.pos = pos
        self.acc = 0
        self.nbits = 0

    def _fill(self):
        b = self.buf[self.pos]
        if b == 0xFF:
            nxt = self.buf[self.pos + 1]
            if nxt == 0x00:
                self.pos += 2
            else:
                raise ValueError(f"marker ff{nxt:02x} inside entropy-coded data")
        else:
            self.pos += 1
        self.acc = (self.acc << 8) | b
        self.nbits += 8

    def bits(self, n: int) -> int:
        while self.nbits < n:
            self._fill()
        self.nbits -= n
        out = self.acc >> self.nbits
        self.acc &= (1 << self.nbits) - 1  # keep only the unread bits
        return out

    def huffman(self, table) -> int:
        length = 0
        code = 0
        while length < 16:
            code = (code << 1) | self.bits(1)
            length += 1
            sym = table.get((length, code))
            if sym is not None:
                return sym
        raise ValueError("invalid huffman code in JPEG scan")

    def align(self):
        self.nbits = 0
        self.acc = 0


def _extend(v: int, t: int) -> int:
    """T.81 F.2.2.1 EXTEND: map a t-bit magnitude to its signed value."""
    return v if t == 0 or v >= (1 << (t - 1)) else v - (1 << t) + 1


def decode_jpeg(payload: bytes):
    """Sequential or progressive JPEG decode -> ``(pixels, width,
    height)`` with pixels ``(h, w)`` uint8 for grayscale or
    ``(h, w, 3)`` RGB.

    Supported: SOF0 (baseline DCT) and SOF2 (progressive DCT — full
    spectral selection AND successive approximation: DC first/refine,
    AC first with EOB-run coding, AC refinement with correction bits),
    8-bit precision, 1 or 3 components, any sampling factors whose MCU
    tiling is rectangular (4:4:4, 4:2:2, 4:2:0 in practice),
    stream-carried DQT/DHT tables, DRI restart intervals. Both
    processes share one marker loop and one scan decoder: a baseline
    scan is the full band 0..63 at Ah = Al = 0. Arithmetic coding and
    12-bit precision raise ``ValueError`` — decode is value-checked
    downstream — and so does a truncated or malformed payload.
    """
    try:
        return _decode_jpeg(bytes(payload))
    except (IndexError, struct.error) as e:  # read past the end of a cut payload
        raise ValueError(f"truncated or corrupt JPEG payload: {e}") from e


def _decode_jpeg(buf: bytes):
    if buf[:2] != b"\xff\xd8":
        raise ValueError("not a JPEG payload (missing SOI)")
    pos = 2
    qtables: dict[int, np.ndarray] = {}
    htables: dict[tuple[int, int], dict] = {}
    frame = None
    scanned = False
    restart_interval = 0
    while pos + 4 <= len(buf):
        if buf[pos] != 0xFF:
            raise ValueError(f"bad marker alignment at {pos}")
        marker = buf[pos + 1]
        pos += 2
        if marker == 0xD9:  # EOI
            break
        if marker in (0xD8, 0x01) or 0xD0 <= marker <= 0xD7:
            continue
        size = struct.unpack(">H", buf[pos : pos + 2])[0]
        body = buf[pos + 2 : pos + size]
        if marker == 0xDB:  # DQT
            for off in range(0, len(body), 65):
                if body[off] >> 4:
                    raise ValueError("16-bit quantization tables unsupported")
                q = np.frombuffer(body, dtype=np.uint8, count=64, offset=off + 1)
                qtables[body[off] & 0x0F] = q.astype(np.int64)
        elif marker == 0xC4:  # DHT
            off = 0
            while off < len(body):
                bits = list(body[off + 1 : off + 17])
                n = sum(bits)
                htables[(body[off] >> 4, body[off] & 0x0F)] = _canonical_codes(
                    bits, list(body[off + 17 : off + 17 + n])
                )
                off += 17 + n
        elif marker in (0xC0, 0xC2):  # SOF0 baseline / SOF2 progressive
            prec, h, w, ncomp = body[0], *struct.unpack(">HH", body[1:5]), body[5]
            if prec != 8:
                raise ValueError(f"only 8-bit JPEG supported, got {prec}")
            comps = []
            for i in range(ncomp):
                cid, hv, tq = body[6 + 3 * i : 9 + 3 * i]
                comps.append({"id": cid, "h": hv >> 4, "v": hv & 0x0F, "tq": tq})
            frame = {"h": h, "w": w, "comps": comps, "prog": marker == 0xC2}
            frame["grid"] = _comp_grids(comps, w, h)
            for c in comps:  # zigzag coefficients, accumulated across scans
                c["zz"] = np.zeros((c["bh"], c["bw"], 64), dtype=np.int64)
        elif marker in (0xC1, 0xC3, 0xC5, 0xC6, 0xC7, 0xC9, 0xCA, 0xCB):
            raise ValueError(
                f"unsupported JPEG process (SOF{marker - 0xC0}); "
                "baseline and progressive only"
            )
        elif marker == 0xDD:  # DRI
            restart_interval = struct.unpack(">H", body[:2])[0]
        elif marker == 0xDA:  # SOS — entropy-coded data follows
            if frame is None:
                raise ValueError("SOS before SOF")
            pos = _decode_scan(buf, pos + size, frame, body, htables, restart_interval)
            scanned = True
            continue
        pos += size
    if not scanned:
        raise ValueError("JPEG has no SOS scan")
    return _reconstruct_planes(frame, qtables)


def _comp_grids(comps, w, h):
    """Per-component block grids: ``bw``/``bh`` is the padded grid an
    interleaved (MCU-order) scan covers, ``cw``/``ch`` the component's
    own grid a single-component scan covers (T.81 A.2.2/A.2.3)."""
    hmax = max(c["h"] for c in comps)
    vmax = max(c["v"] for c in comps)
    mcus_x = -(-w // (8 * hmax))
    mcus_y = -(-h // (8 * vmax))
    for c in comps:
        c["bw"] = mcus_x * c["h"]
        c["bh"] = mcus_y * c["v"]
        c["cw"] = -(-(-(-w * c["h"] // hmax)) // 8)
        c["ch"] = -(-(-(-h * c["v"] // vmax)) // 8)
    return hmax, vmax, mcus_x, mcus_y


def _next_marker(buf, pos):
    """Position of the next marker byte pair (RSTn included) at or
    after ``pos``, skipping stuffed 0xFF00 pairs."""
    while pos + 1 < len(buf):
        if buf[pos] == 0xFF and buf[pos + 1] != 0x00:
            return pos
        pos += 2 if buf[pos] == 0xFF else 1
    return len(buf)


def _decode_scan(buf, pos, frame, hdr, htables, restart_interval):
    """Decode one scan's entropy-coded data into the components'
    coefficient stores; returns the position of the marker after it.

    The scan header's band ``Ss..Se`` and approximation ``Ah/Al`` pick
    the per-block work: DC (``Ss = 0``) through :func:`_dc_unit`, AC
    through :func:`_ac_first` or :func:`_ac_refine`. A baseline scan is
    the full band at ``Ah = Al = 0``. A multi-component scan walks MCUs
    in interleaved order; a single-component scan walks the
    component's own block grid (T.81 A.2.2)."""
    byid = {c["id"]: c for c in frame["comps"]}
    ns = hdr[0]
    ss, se, ahal = hdr[1 + 2 * ns : 4 + 2 * ns]
    ah, al = ahal >> 4, ahal & 0x0F
    baseline = not frame["prog"]
    if baseline:
        if (ss, se, ah, al) != (0, 63, 0, 0):
            raise ValueError("baseline scan must cover the full band 0..63")
    elif ss == 0 and se != 0:
        raise ValueError("progressive DC scan must have Se = 0")
    elif ss != 0 and ns > 1:
        raise ValueError("progressive AC scans are single-component")
    scan = []
    for i in range(ns):
        c, tdta = byid[hdr[1 + 2 * i]], hdr[2 + 2 * i]
        dc = htables.get((0, tdta >> 4)) if ss == 0 and ah == 0 else {}
        ac = htables.get((1, tdta & 0x0F)) if se else {}
        if dc is None or ac is None:
            raise ValueError("missing huffman table referenced by scan")
        scan.append((c, dc, ac))
    if ns == 1:
        c, dc, ac = scan[0]
        units = [
            [(c["zz"][ry, rx], c["id"], dc, ac)]
            for ry in range(c["ch"])
            for rx in range(c["cw"])
        ]
    else:
        _hmax, _vmax, mcus_x, mcus_y = frame["grid"]
        units = [
            [
                (c["zz"][my * c["v"] + by, mx * c["h"] + bx], c["id"], dc, ac)
                for c, dc, ac in scan
                for by in range(c["v"])
                for bx in range(c["h"])
            ]
            for my in range(mcus_y)
            for mx in range(mcus_x)
        ]
    ac_band = _ac_refine if ah else _ac_first
    lo = max(ss, 1)
    rd = _BitReader(buf, pos)
    pred = dict.fromkeys(byid, 0)
    eobrun = 0
    for m, unit in enumerate(units):
        if restart_interval and m and m % restart_interval == 0:
            # between intervals: drop the partial-byte padding, consume
            # the byte-aligned RSTn marker, reset DC predictors and EOB run
            rd.align()
            p = _next_marker(buf, rd.pos)
            if p + 1 >= len(buf) or not 0xD0 <= buf[p + 1] <= 0xD7:
                raise ValueError("expected RSTn between restart intervals")
            rd.pos = p + 2
            pred = dict.fromkeys(byid, 0)
            eobrun = 0
        for zz, cid, dc, ac in unit:
            if ss == 0:
                _dc_unit(rd, zz, ah, al, dc, pred, cid)
            if se:
                eobrun = ac_band(rd, zz, lo, se, al, ac, eobrun)
                if eobrun and baseline:
                    raise ValueError("EOB run in a baseline scan")
    rd.align()
    return _next_marker(buf, rd.pos)


def _dc_unit(rd, zz, ah, al, tab, pred, cid):
    if ah == 0:  # first DC scan: huffman-coded point-transformed diffs
        t = rd.huffman(tab)
        pred[cid] += _extend(rd.bits(t), t) if t else 0
        zz[0] = pred[cid] << al
    elif rd.bits(1):  # refinement: one raw bit per block
        zz[0] |= 1 << al


def _ac_first(rd, zz, ss, se, al, tab, eobrun):
    """T.81 G.2.2: AC coefficients of a first-pass spectral band, with
    end-of-band run coding across blocks."""
    if eobrun > 0:
        return eobrun - 1
    k = ss
    while k <= se:
        rs = rd.huffman(tab)
        r, s_ = rs >> 4, rs & 0x0F
        if s_ == 0:
            if r == 15:  # ZRL
                k += 16
                continue
            eobrun = (1 << r) - 1
            if r:
                eobrun += rd.bits(r)
            break
        k += r
        if k > se:
            raise ValueError("AC run past end of band")
        zz[k] = _extend(rd.bits(s_), s_) << al
        k += 1
    return eobrun


def _ac_refine(rd, zz, ss, se, al, tab, eobrun):
    """T.81 G.2.3: AC refinement — newly-significant coefficients enter
    at ±2^Al while every already-nonzero coefficient on the way picks
    up one correction bit; EOB runs carry correction bits only."""
    p1 = 1 << al
    m1 = -1 << al
    k = ss
    in_eob = eobrun > 0
    if in_eob:
        # a previously-read EOB run covers this whole block: only the
        # correction-bit walk below runs, and the run shrinks by one
        eobrun -= 1
    else:
        while k <= se:
            rs = rd.huffman(tab)
            r, s_ = rs >> 4, rs & 0x0F
            val = 0
            if s_ == 0:
                if r < 15:
                    # EOBn: run length INCLUDES this block; the walk
                    # below still consumes its correction bits
                    eobrun = (1 << r) - 1
                    if r:
                        eobrun += rd.bits(r)
                    in_eob = True
                    break
                # r == 15: skip over 16 zero-history coefficients
            else:
                if s_ != 1:
                    raise ValueError("refinement scan with |coef| > 1")
                val = p1 if rd.bits(1) else m1
            while k <= se:
                if zz[k] != 0:
                    if rd.bits(1) and (zz[k] & p1) == 0:
                        zz[k] += p1 if zz[k] >= 0 else m1
                else:
                    if r == 0:
                        if s_:
                            zz[k] = val
                        k += 1
                        break
                    r -= 1
                k += 1
    if in_eob:
        while k <= se:
            if zz[k] != 0:
                if rd.bits(1) and (zz[k] & p1) == 0:
                    zz[k] += p1 if zz[k] >= 0 else m1
            k += 1
    return eobrun


def _reconstruct_planes(frame, qtables):
    """Coefficient stores -> pixels: dequantize, one vectorized IDCT
    per component, replicate subsampled planes up, crop, and convert
    YCbCr -> RGB (JFIF/BT.601) for 3-component images."""
    hmax, vmax, _mcus_x, _mcus_y = frame["grid"]
    comps = frame["comps"]
    h, w = frame["h"], frame["w"]
    planes = []
    for c in comps:
        q = qtables.get(c["tq"])
        if q is None:
            raise ValueError(f"missing quantization table {c['tq']}")
        arr = c["zz"].reshape(-1, 64)
        coeffs = (arr * q[None, :])[:, _ZZ_INV].reshape(-1, 8, 8).astype(float)
        pix = np.einsum("ux,nuv,vy->nxy", _DCT, coeffs, _DCT)
        bh, bw = c["bh"], c["bw"]
        plane = (
            pix.reshape(bh, bw, 8, 8).transpose(0, 2, 1, 3).reshape(bh * 8, bw * 8)
        )
        plane = np.repeat(
            np.repeat(plane, hmax // c["h"], axis=1), vmax // c["v"], axis=0
        )
        planes.append(plane[:h, :w] + 128.0)
    if len(comps) == 1:
        return np.clip(np.rint(planes[0]), 0, 255).astype(np.uint8), w, h
    if len(comps) != 3:
        raise ValueError(f"unsupported component count {len(comps)}")
    y, cb, cr = planes
    r = y + 1.402 * (cr - 128.0)
    g = y - 0.344136 * (cb - 128.0) - 0.714136 * (cr - 128.0)
    b = y + 1.772 * (cb - 128.0)
    rgb = np.stack([r, g, b], axis=-1)
    return np.clip(np.rint(rgb), 0, 255).astype(np.uint8), w, h


class _BitWriter:
    def __init__(self):
        self.out = bytearray()
        self.acc = 0
        self.nbits = 0

    def bits(self, value: int, n: int):
        self.acc = (self.acc << n) | (value & ((1 << n) - 1))
        self.nbits += n
        while self.nbits >= 8:
            self.nbits -= 8
            b = self.acc >> self.nbits
            self.acc &= (1 << self.nbits) - 1  # keep only the unwritten bits
            self.out.append(b)
            if b == 0xFF:
                self.out.append(0x00)  # byte stuffing

    def flush(self):
        if self.nbits:
            self.bits((1 << (8 - self.nbits)) - 1, 8 - self.nbits)  # 1-fill pad


def _encode_tables(bits, values):
    """symbol -> (length, code) for the encoder side."""
    return {sym: code for code, sym in _canonical_codes(bits, values).items()}


def _category(v: int) -> int:
    return int(v).bit_length() if v >= 0 else int(-v).bit_length()


def _encode_component_blocks(wr, blocks_zz, dc_tab, ac_tab, pred):
    for zz in blocks_zz:
        diff = int(zz[0]) - pred[0]
        pred[0] = int(zz[0])
        t = _category(diff)
        length, code = dc_tab[t]
        wr.bits(code, length)
        if t:
            wr.bits(diff if diff >= 0 else diff + (1 << t) - 1, t)
        run = 0
        last_nz = int(np.max(np.nonzero(zz)[0])) if np.any(zz[1:]) else 0
        for k in range(1, 64):
            v = int(zz[k])
            if k > last_nz:
                break
            if v == 0:
                run += 1
                continue
            while run > 15:
                length, code = ac_tab[0xF0]  # ZRL
                wr.bits(code, length)
                run -= 16
            s = _category(v)
            length, code = ac_tab[(run << 4) | s]
            wr.bits(code, length)
            wr.bits(v if v >= 0 else v + (1 << s) - 1, s)
            run = 0
        if last_nz < 63:
            length, code = ac_tab[0x00]  # EOB
            wr.bits(code, length)


def _dct_blocks(plane, quant):
    """(h, w) float plane -> list of quantized zigzag blocks (row-major)."""
    h, w = plane.shape
    ph, pw = -(-h // 8) * 8, -(-w // 8) * 8
    padded = np.pad(plane, ((0, ph - h), (0, pw - w)), mode="edge") - 128.0
    tiles = padded.reshape(ph // 8, 8, pw // 8, 8).transpose(0, 2, 1, 3)
    coeffs = np.einsum("ux,nmxy,vy->nmuv", _DCT, tiles, _DCT)
    q = coeffs.reshape(-1, 64)[:, _ZZ]
    return np.rint(q / quant[None, :]).astype(np.int64)


def encode_jpeg(
    pixels,
    quant=None,
    subsample: bool = False,
    restart_interval: int = 0,
    progressive: bool = False,
) -> bytes:
    """JPEG encoder (fixture generator and binary-sink utility),
    baseline by default. ``pixels``: ``(h, w)`` gray or ``(h, w, 3)`` RGB uint8.
    ``quant``: 64 zigzag-ordered divisors (default all ones — with a
    DC-only image this makes decode(encode(x)) EXACT, the property the
    arithmetic oracle leans on). ``subsample=True`` writes 4:2:0 chroma
    (2×2 box-filtered); only meaningful for color inputs.
    ``restart_interval``: emit DRI + RSTn markers every N MCUs (real
    encoders use them for error resilience and parallel decode; here
    they exercise the decoder's restart path; baseline mode only).
    ``progressive=True`` writes SOF2 with the full Annex G scan
    script — DC first at Al=1, per-component AC bands 1-5/6-63 at
    Al=1, then DC and AC refinement scans to Al=0 — so spectral
    selection, successive approximation, EOB runs, and correction-bit
    buffering are all exercised; with integer coefficients the
    progression completes losslessly, preserving the exact-roundtrip
    property the arithmetic oracles lean on."""
    px = np.asarray(pixels, dtype=float)
    quant = np.ones(64, dtype=np.int64) if quant is None else np.asarray(quant, dtype=np.int64)
    gray = px.ndim == 2
    h, w = px.shape[:2]
    if gray:
        comps = [{"id": 1, "h": 1, "v": 1, "plane": px}]
    else:
        r, g, b = px[..., 0], px[..., 1], px[..., 2]
        y = 0.299 * r + 0.587 * g + 0.114 * b
        cb = 128.0 - 0.168736 * r - 0.331264 * g + 0.5 * b
        cr = 128.0 + 0.5 * r - 0.418688 * g - 0.081312 * b
        if subsample:
            ph, pw = -(-h // 2) * 2, -(-w // 2) * 2
            def ds(p):
                p = np.pad(p, ((0, ph - h), (0, pw - w)), mode="edge")
                return p.reshape(ph // 2, 2, pw // 2, 2).mean(axis=(1, 3))
            comps = [
                {"id": 1, "h": 2, "v": 2, "plane": y},
                {"id": 2, "h": 1, "v": 1, "plane": ds(cb)},
                {"id": 3, "h": 1, "v": 1, "plane": ds(cr)},
            ]
        else:
            comps = [
                {"id": 1, "h": 1, "v": 1, "plane": y},
                {"id": 2, "h": 1, "v": 1, "plane": cb},
                {"id": 3, "h": 1, "v": 1, "plane": cr},
            ]
    _hmax, _vmax, mcus_x, mcus_y = _comp_grids(comps, w, h)
    # per-component quantized blocks in PLANE row-major order, then
    # re-gathered in MCU order during the scan write
    for c in comps:
        bw, bh, plane = c["bw"], c["bh"], c["plane"]
        # pad the plane so its block grid is exactly (bh, bw)
        plane = np.pad(
            plane,
            ((0, bh * 8 - plane.shape[0]), (0, bw * 8 - plane.shape[1])),
            mode="edge",
        )
        c["zz"] = _dct_blocks(plane, quant).reshape(bh, bw, 64)

    out = bytearray(b"\xff\xd8")  # SOI

    def seg(marker, body):
        out.extend(bytes([0xFF, marker]) + struct.pack(">H", len(body) + 2) + body)

    seg(0xDB, bytes([0]) + bytes(int(v) for v in quant))  # DQT id 0
    if restart_interval and not progressive:
        seg(0xDD, struct.pack(">H", restart_interval))  # DRI
    sof = bytearray([8]) + struct.pack(">HH", h, w) + bytes([len(comps)])
    for c in comps:
        sof += bytes([c["id"], (c["h"] << 4) | c["v"], 0])
    seg(0xC2 if progressive else 0xC0, bytes(sof))
    if progressive:
        tabs = [(0, 0, _DC_LUM), (1, 0, _AC_PROG)]
        if not gray:
            tabs += [(0, 1, _DC_CHR)]
    else:
        tabs = [(0, 0, _DC_LUM), (1, 0, _AC_LUM)]
        if not gray:
            tabs += [(0, 1, _DC_CHR), (1, 1, _AC_CHR)]
    for tc, th, (bits, vals) in tabs:
        seg(0xC4, bytes([(tc << 4) | th] + bits + vals))
    if progressive:
        _encode_progressive_scans(out, seg, comps, gray, mcus_x, mcus_y)
        out.extend(b"\xff\xd9")  # EOI
        return bytes(out)
    sos = bytearray([len(comps)])
    for i, c in enumerate(comps):
        td_ta = 0 if i == 0 or gray else 0x11
        sos += bytes([c["id"], td_ta])
    sos += bytes([0, 63, 0])
    seg(0xDA, bytes(sos))

    wr = _BitWriter()
    enc_tabs = _ENC_TABS
    preds = {c["id"]: [0] for c in comps}
    n_done = 0
    for my in range(mcus_y):
        for mx in range(mcus_x):
            if restart_interval and n_done and n_done % restart_interval == 0:
                wr.flush()  # byte-align (1-padded, stuffed if 0xFF)
                wr.out.extend(
                    bytes([0xFF, 0xD0 + (n_done // restart_interval - 1) % 8])
                )
                for p in preds.values():
                    p[0] = 0
            n_done += 1
            for i, c in enumerate(comps):
                dc_tab, ac_tab = enc_tabs[0 if i == 0 or gray else 1]
                rows = []
                for by in range(c["v"]):
                    for bx in range(c["h"]):
                        rows.append(c["zz"][my * c["v"] + by, mx * c["h"] + bx])
                _encode_component_blocks(wr, rows, dc_tab, ac_tab, preds[c["id"]])
    wr.flush()
    out.extend(wr.out)
    out.extend(b"\xff\xd9")  # EOI
    return bytes(out)


# encoder tables are fixed (Annex K): build once at import
_ENC_TABS = {
    0: (_encode_tables(*_DC_LUM), _encode_tables(*_AC_LUM)),
    1: (_encode_tables(*_DC_CHR), _encode_tables(*_AC_CHR)),
}


# ---------------------------------------------------------------------------
# progressive (SOF2) encode — the fixture/write side of Annex G. The
# scan script is DC-first(Al=1) -> per-component AC bands (Al=1) ->
# DC refine -> per-component AC refines, exercising spectral selection,
# successive approximation, EOB-run coding, and correction-bit
# buffering on BOTH sides of the codec.
# ---------------------------------------------------------------------------


class _ProgACWriter:
    """Scan-scoped state for AC band writing: the end-of-band run and
    the correction bits buffered behind it (T.81 G.1.2.2/G.1.2.3)."""

    def __init__(self, wr, tab):
        self.wr = wr
        self.tab = tab
        self.eobrun = 0
        self.pending: list[int] = []

    def flush_eobrun(self):
        if self.eobrun > 0:
            nbits = self.eobrun.bit_length() - 1
            length, code = self.tab[nbits << 4]
            self.wr.bits(code, length)
            if nbits:
                self.wr.bits(self.eobrun & ((1 << nbits) - 1), nbits)
            self.eobrun = 0
        for b in self.pending:
            self.wr.bits(b, 1)
        self.pending = []

    def bump_eobrun(self, tail_bits):
        self.eobrun += 1
        self.pending.extend(tail_bits)
        if self.eobrun == 0x7FFF:
            self.flush_eobrun()


def _enc_ac_first_block(pw: _ProgACWriter, zz, ss, se, al):
    band = [int(zz[k]) for k in range(ss, se + 1)]
    vals = [(abs(v) >> al) * (1 if v >= 0 else -1) for v in band]
    nz = [i for i, v in enumerate(vals) if v]
    if not nz:
        pw.bump_eobrun([])
        return
    pw.flush_eobrun()
    run = 0
    for i in range(nz[-1] + 1):
        v = vals[i]
        if v == 0:
            run += 1
            continue
        while run > 15:
            length, code = pw.tab[0xF0]
            pw.wr.bits(code, length)
            run -= 16
        s_ = _category(v)
        length, code = pw.tab[(run << 4) | s_]
        pw.wr.bits(code, length)
        pw.wr.bits(v if v >= 0 else v + (1 << s_) - 1, s_)
        run = 0
    if nz[-1] < se - ss:
        pw.bump_eobrun([])


def _enc_ac_refine_block(pw: _ProgACWriter, zz, ss, se, al):
    band = [int(zz[k]) for k in range(ss, se + 1)]
    absv = [abs(v) >> al for v in band]
    new = [i for i, t in enumerate(absv) if t == 1]
    last_new = new[-1] if new else -1
    run = 0
    br: list[int] = []
    for i, v in enumerate(band):
        t = absv[i]
        if i > last_new:
            break
        if t == 0:
            run += 1
            continue
        # ZRLs must fire at ANY nonzero coefficient (corrections
        # included) so the buffered bits never span a 16-zero window —
        # the decoder's ZRL walk consumes corrections positionally
        while run > 15:
            pw.flush_eobrun()
            length, code = pw.tab[0xF0]
            pw.wr.bits(code, length)
            for b in br:
                pw.wr.bits(b, 1)
            br = []
            run -= 16
        if t > 1:  # previously significant: one correction bit
            br.append(t & 1)
            continue
        # newly significant at this level
        pw.flush_eobrun()
        length, code = pw.tab[(run << 4) | 1]
        pw.wr.bits(code, length)
        pw.wr.bits(1 if v > 0 else 0, 1)
        for b in br:
            pw.wr.bits(b, 1)
        br = []
        run = 0
    # tail: zero-history runs and corrections only -> joins the EOB run
    tail_bits = br + [absv[i] & 1 for i in range(last_new + 1, len(band)) if absv[i] > 1]
    if last_new + 1 <= len(band) - 1 or tail_bits:
        pw.bump_eobrun(tail_bits)


def _encode_progressive_scans(out, seg, comps, gray, mcus_x, mcus_y):
    enc_tabs = _ENC_TABS

    def sos_header(scan_comps, ss, se, ah, al):
        body = bytearray([len(scan_comps)])
        for c, td, ta in scan_comps:
            body += bytes([c["id"], (td << 4) | ta])
        body += bytes([ss, se, (ah << 4) | al])
        seg(0xDA, bytes(body))

    def tabsel(i):
        return 0 if i == 0 or gray else 1

    # --- scan 1: DC first (Al = 1), all components interleaved ---
    scan_comps = [(c, tabsel(i), 0) for i, c in enumerate(comps)]
    sos_header(scan_comps, 0, 0, 0, 1)
    wr = _BitWriter()
    pred = {c["id"]: 0 for c in comps}
    if len(comps) == 1:
        c = comps[0]
        order = [(c, 0, ry, rx) for ry in range(c["bh"]) for rx in range(c["bw"])]
    else:
        order = []
        for my in range(mcus_y):
            for mx in range(mcus_x):
                for i, c in enumerate(comps):
                    for by in range(c["v"]):
                        for bx in range(c["h"]):
                            order.append((c, tabsel(i), my * c["v"] + by, mx * c["h"] + bx))
    for c, ti, ry, rx in order:
        dc_tab = enc_tabs[ti][0]
        v = int(c["zz"][ry, rx, 0]) >> 1  # arithmetic shift (floor)
        diff = v - pred[c["id"]]
        pred[c["id"]] = v
        t = _category(diff)
        length, code = dc_tab[t]
        wr.bits(code, length)
        if t:
            wr.bits(diff if diff >= 0 else diff + (1 << t) - 1, t)
    wr.flush()
    out.extend(wr.out)

    # --- AC first scans per component: bands 1..5 then 6..63, Al = 1 ---
    ac_prog = _encode_tables(*_AC_PROG)
    for ss, se in ((1, 5), (6, 63)):
        for i, c in enumerate(comps):
            sos_header([(c, 0, 0)], ss, se, 0, 1)
            wr = _BitWriter()
            pw = _ProgACWriter(wr, ac_prog)
            for ry in range(c["ch"]):
                for rx in range(c["cw"]):
                    _enc_ac_first_block(pw, c["zz"][ry, rx], ss, se, 1)
            pw.flush_eobrun()
            wr.flush()
            out.extend(wr.out)

    # --- DC refinement (Ah = 1 -> Al = 0): raw bit per block ---
    sos_header(scan_comps, 0, 0, 1, 0)
    wr = _BitWriter()
    for c, _ti, ry, rx in order:
        wr.bits(int(c["zz"][ry, rx, 0]) & 1, 1)
    wr.flush()
    out.extend(wr.out)

    # --- AC refinement scans, same bands (Ah = 1 -> Al = 0) ---
    for ss, se in ((1, 5), (6, 63)):
        for i, c in enumerate(comps):
            sos_header([(c, 0, 0)], ss, se, 1, 0)
            wr = _BitWriter()
            pw = _ProgACWriter(wr, ac_prog)
            for ry in range(c["ch"]):
                for rx in range(c["cw"]):
                    _enc_ac_refine_block(pw, c["zz"][ry, rx], ss, se, 0)
            pw.flush_eobrun()
            wr.flush()
            out.extend(wr.out)

