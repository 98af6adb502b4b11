"""IIR/FIR filter design in pure numpy.

The reference (``/root/reference/xarray_scipy/signal.py:109-152, 403-461``)
delegates filter design and execution to scipy (``scipy.signal.decimate``
defaults to an order-8 Chebyshev-I low-pass, ``scipy.signal.butter`` builds
the SOS fixtures used by its tests, ``tests/test_signal.py:590-595``).
scipy is not available in this environment, so the small set of design
routines the engine needs is re-implemented here from the published
textbook formulas (Oppenheim & Schafer; Parks & Burrus):

- analog Butterworth / Chebyshev-I low-pass prototypes (pole formulas),
- low-pass frequency scaling + bilinear transform (zpk form),
- zpk -> second-order-sections conversion,
- windowed-sinc FIR design (``firwin`` equivalent, Hamming window),
- steady-state initial conditions (``sosfilt_zi`` equivalent) used by
  the zero-phase filter.

These run on the DRIVER or inside Arrow-batched UDFs only for tiny
coefficient arrays (order <= 8); all heavy per-sample work lives in
:mod:`xarray_scipy_spark.kernels.dsp`.
"""

from __future__ import annotations

import numpy as np

__all__ = [
    "butter_sos",
    "cheby1_sos",
    "firwin",
    "lfilter_zi",
    "sos2tf",
    "sosfilt_zi",
]


def _buttap(n: int) -> tuple[np.ndarray, np.ndarray, float]:
    """Analog Butterworth low-pass prototype (zeros, poles, gain)."""
    k = np.arange(-n + 1, n, 2)
    poles = -np.exp(1j * np.pi * k / (2 * n))
    return np.array([], dtype=complex), poles, 1.0


def _cheb1ap(n: int, rp: float) -> tuple[np.ndarray, np.ndarray, float]:
    """Analog Chebyshev type-I low-pass prototype with ``rp`` dB ripple."""
    eps = np.sqrt(10.0 ** (0.1 * rp) - 1.0)
    mu = np.arcsinh(1.0 / eps) / n
    m = np.arange(-n + 1, n, 2)
    theta = np.pi * m / (2.0 * n)
    poles = -np.sinh(mu + 1j * theta)
    gain = np.real(np.prod(-poles))
    if n % 2 == 0:
        gain /= np.sqrt(1.0 + eps * eps)
    return np.array([], dtype=complex), poles, gain


def _lp2lp_zpk(z, p, k, wo):
    degree = len(p) - len(z)
    z = z * wo
    p = p * wo
    k = k * wo**degree
    return z, p, k


def _bilinear_zpk(z, p, k, fs):
    degree = len(p) - len(z)
    fs2 = 2.0 * fs
    z_d = (fs2 + z) / (fs2 - z)
    p_d = (fs2 + p) / (fs2 - p)
    # analog zeros at infinity map to z = -1
    z_d = np.append(z_d, -np.ones(degree))
    k_d = k * np.real(np.prod(fs2 - z) / np.prod(fs2 - p))
    return z_d, p_d, k_d


def _split_conjugates(roots: np.ndarray) -> tuple[list, list]:
    """Split roots into conjugate pairs (one representative each) + reals."""
    tol = 1e-10
    roots = np.asarray(roots, dtype=complex)
    complexes = [r for r in roots if abs(r.imag) > tol]
    reals = [r.real for r in roots if abs(r.imag) <= tol]
    pairs = [r for r in complexes if r.imag > 0]
    return pairs, reals


def _zpk2sos(z: np.ndarray, p: np.ndarray, k: float) -> np.ndarray:
    """Convert zpk to second-order sections.

    Pairing/ordering follows scipy's robustness conventions: conjugate
    pole pairs are processed farthest-from-the-unit-circle first (so the
    near-unstable sections run last in the cascade — scipy orders
    "according to the proximity of the pole pairs to the unit circle"),
    and each pole pair takes its NEAREST remaining conjugate zero pair.
    This keeps high-order/low-cutoff cascades (``cheby1(8, 0.05,
    0.8/q)`` at large q — decimate's default) numerically sane; the
    transfer function itself is exact under any pairing. Leftover real
    poles/zeros are paired up; overall gain is applied to the first
    section.
    """
    z = np.asarray(z, dtype=complex)
    p = np.asarray(p, dtype=complex)
    zp, zr = _split_conjugates(z)
    pp, pr = _split_conjugates(p)
    pp.sort(key=lambda r: abs(1.0 - abs(r)), reverse=True)

    sections = []
    # conjugate pole pairs
    for i, pole in enumerate(pp):
        a = np.real(np.poly([pole, np.conj(pole)]))
        if zp:
            j = min(range(len(zp)), key=lambda j: abs(zp[j] - pole))
            zz = zp.pop(j)
            b = np.real(np.poly([zz, np.conj(zz)]))
        elif len(zr) >= 2:
            b = np.real(np.poly([zr.pop(), zr.pop()]))
        elif len(zr) == 1:
            b = np.real(np.poly([zr.pop()]))
            b = np.append(b, 0.0)
        else:
            b = np.array([1.0, 0.0, 0.0])
        if len(b) == 2:
            b = np.append(b, 0.0)
        sections.append(np.concatenate([b, a]))
    zp_left = zp  # conjugate zero pairs not consumed by the pole pairs
    # leftover real poles, two at a time
    while pr:
        p1 = pr.pop()
        p2 = pr.pop() if pr else None
        a = np.real(np.poly([p1] if p2 is None else [p1, p2]))
        if zp_left:
            zz = zp_left.pop()
            b = np.real(np.poly([zz, np.conj(zz)]))
        elif len(zr) >= 2 and p2 is not None:
            b = np.real(np.poly([zr.pop(), zr.pop()]))
        elif zr:
            b = np.real(np.poly([zr.pop()]))
        else:
            b = np.array([1.0])
        b = np.pad(b, (0, 3 - len(b)))
        a = np.pad(a, (0, 3 - len(a)))
        sections.append(np.concatenate([b, a]))
    if not sections:
        sections.append(np.array([1.0, 0.0, 0.0, 1.0, 0.0, 0.0]))
    sos = np.array(sections, dtype=float)
    sos[0, :3] *= float(np.real(k))
    return sos


def _lp2hp_zpk(z, p, k, wo):
    """Analog low-pass -> high-pass: s -> wo/s (scipy lp2hp_zpk)."""
    degree = len(p) - len(z)
    z_hp = wo / z if len(z) else np.array([], dtype=complex)
    p_hp = wo / p
    z_hp = np.append(z_hp, np.zeros(degree))
    k_hp = k * np.real(np.prod(-z) / np.prod(-p))
    return z_hp, p_hp, k_hp


def _lp2bp_zpk(z, p, k, wo, bw):
    """Analog low-pass -> band-pass: s -> (s² + wo²)/(bw·s)."""
    degree = len(p) - len(z)
    z_lp = z.astype(complex) * bw / 2
    p_lp = p.astype(complex) * bw / 2
    z_bp = np.concatenate(
        [z_lp + np.sqrt(z_lp**2 - wo**2), z_lp - np.sqrt(z_lp**2 - wo**2)]
    )
    p_bp = np.concatenate(
        [p_lp + np.sqrt(p_lp**2 - wo**2), p_lp - np.sqrt(p_lp**2 - wo**2)]
    )
    z_bp = np.append(z_bp, np.zeros(degree))
    k_bp = k * bw**degree
    return z_bp, p_bp, k_bp


def _lp2bs_zpk(z, p, k, wo, bw):
    """Analog low-pass -> band-stop: s -> (bw·s)/(s² + wo²)."""
    degree = len(p) - len(z)
    z_hp = (bw / 2) / z if len(z) else np.array([], dtype=complex)
    p_hp = (bw / 2) / p.astype(complex)
    z_bs = np.concatenate(
        [z_hp + np.sqrt(z_hp**2 - wo**2), z_hp - np.sqrt(z_hp**2 - wo**2)]
    )
    p_bs = np.concatenate(
        [p_hp + np.sqrt(p_hp**2 - wo**2), p_hp - np.sqrt(p_hp**2 - wo**2)]
    )
    z_bs = np.append(z_bs, np.full(degree, 1j * wo))
    z_bs = np.append(z_bs, np.full(degree, -1j * wo))
    k_bs = k * np.real(np.prod(-z) / np.prod(-p))
    return z_bs, p_bs, k_bs


_BTYPES = ("low", "high", "bandpass", "bandstop")


def _iir_sos(proto_z, proto_p, proto_k, wn, btype: str) -> np.ndarray:
    """Digital IIR from an analog low-pass prototype: pre-warp Wn
    (Nyquist = 1), apply the band transform, bilinear-transform, pair
    into second-order sections (scipy ``iirfilter`` design chain)."""
    if btype not in _BTYPES:
        raise ValueError(f"btype must be one of {_BTYPES}, got {btype!r}")
    fs = 2.0
    if btype in ("low", "high"):
        wn = float(np.squeeze(np.asarray(wn)))
        if not 0.0 < wn < 1.0:
            raise ValueError(f"Wn must be in (0, 1), got {wn}")
        warped = 2.0 * fs * np.tan(np.pi * wn / fs)
        if btype == "low":
            z, p, k = _lp2lp_zpk(proto_z, proto_p, proto_k, warped)
        else:
            z, p, k = _lp2hp_zpk(proto_z, proto_p, proto_k, warped)
    else:
        lo, hi = (float(w) for w in np.asarray(wn).ravel())
        if not 0.0 < lo < hi < 1.0:
            raise ValueError(
                f"band edges must satisfy 0 < lo < hi < 1, got ({lo}, {hi})"
            )
        w1 = 2.0 * fs * np.tan(np.pi * lo / fs)
        w2 = 2.0 * fs * np.tan(np.pi * hi / fs)
        bw, wo = w2 - w1, np.sqrt(w1 * w2)
        if btype == "bandpass":
            z, p, k = _lp2bp_zpk(proto_z, proto_p, proto_k, wo, bw)
        else:
            z, p, k = _lp2bs_zpk(proto_z, proto_p, proto_k, wo, bw)
    z, p, k = _bilinear_zpk(z, p, k, fs)
    return _zpk2sos(z, p, k)


def _iir_lowpass_sos(proto_z, proto_p, proto_k, wn: float) -> np.ndarray:
    """Digital low-pass from an analog prototype, Wn in (0, 1) (Nyquist=1)."""
    return _iir_sos(proto_z, proto_p, proto_k, wn, "low")


def butter_sos(n: int, wn, btype: str = "low") -> np.ndarray:
    """Digital Butterworth in SOS form (scipy ``butter(n, wn, btype,
    output='sos')`` equivalent; reference fixture tests/test_signal.py:
    590-595 uses the low-pass form). ``btype``: low | high | bandpass |
    bandstop (band forms take ``wn = (lo, hi)``, poles double to 2n)."""
    return _iir_sos(*_buttap(n), wn, btype)


def cheby1_sos(n: int, rp: float, wn, btype: str = "low") -> np.ndarray:
    """Digital Chebyshev-I in SOS form (scipy ``cheby1``), the default
    anti-aliasing filter of ``decimate`` (signal.py:109-152); same
    ``btype`` surface as :func:`butter_sos`."""
    return _iir_sos(*_cheb1ap(n, rp), wn, btype)


def firwin(numtaps: int, cutoff: float) -> np.ndarray:
    """Hamming-windowed sinc low-pass FIR (scipy ``firwin`` equivalent).

    ``cutoff`` normalized to Nyquist=1; taps normalized to unit DC gain.
    """
    if numtaps < 1:
        raise ValueError("numtaps must be >= 1")
    if numtaps == 1:
        return np.array([1.0])
    m = np.arange(numtaps) - (numtaps - 1) / 2.0
    h = cutoff * np.sinc(cutoff * m)
    win = np.hamming(numtaps)
    h = h * win
    return h / h.sum()


def sosfilt_zi(sos: np.ndarray) -> np.ndarray:
    """Steady-state initial conditions per section for a unit-step input
    (scipy ``sosfilt_zi`` equivalent), used by the zero-phase filter.

    For each biquad (b, a) the direct-form-II-transposed state satisfies
    ``zi = (I - A) \\ B`` with ``A`` the transposed companion matrix of
    ``a`` and ``B = b[1:] - a[1:] * b[0]``; the input scale accumulates
    each section's DC gain.
    """
    sos = np.atleast_2d(np.asarray(sos, dtype=float))
    n_sections = sos.shape[0]
    zi = np.empty((n_sections, 2))
    scale = 1.0
    for s in range(n_sections):
        b = sos[s, :3] / sos[s, 3]
        a = sos[s, 3:] / sos[s, 3]
        big_a = np.array([[-a[1], 1.0], [-a[2], 0.0]])
        rhs = np.array([b[1] - a[1] * b[0], b[2] - a[2] * b[0]])
        zi[s] = scale * np.linalg.solve(np.eye(2) - big_a, rhs)
        scale *= b.sum() / a.sum()  # section DC gain
    return zi


def _norm_ba(b, a) -> tuple[np.ndarray, np.ndarray, int]:
    """Zero-pad b/a to a common length n and normalize a[0] to 1."""
    b = np.atleast_1d(np.asarray(b, dtype=float))
    a = np.atleast_1d(np.asarray(a, dtype=float))
    if a[0] == 0.0:
        raise ValueError("a[0] must be nonzero")
    n = max(len(a), len(b))
    bb = np.zeros(n)
    bb[: len(b)] = b / a[0]
    aa = np.zeros(n)
    aa[: len(a)] = a / a[0]
    return bb, aa, n


def lfilter_zi(b, a) -> np.ndarray:
    """Steady-state initial conditions for a unit-step input in
    transfer-function form (scipy ``lfilter_zi`` equivalent): with the
    direct-form-II-transposed state recursion ``z = A^T z + B x`` at
    steady state, ``zi = (I - A^T) \\ B`` where ``A`` is the companion
    matrix of the normalized denominator and
    ``B = b[1:] - a[1:] * b[0]``. Length ``max(len(a), len(b)) - 1``.
    """
    bb, aa, n = _norm_ba(b, a)
    if n == 1:
        return np.zeros(0)
    comp_t = np.zeros((n - 1, n - 1))
    comp_t[:, 0] = -aa[1:]
    comp_t[:-1, 1:] = np.eye(n - 2)
    rhs = bb[1:] - aa[1:] * bb[0]
    return np.linalg.solve(np.eye(n - 1) - comp_t, rhs)


def sos2tf(sos: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """Cascade a second-order-sections matrix into one (b, a) pair by
    polynomial multiplication of the per-section numerators and
    denominators (scipy ``sos2tf`` equivalent)."""
    sos = np.atleast_2d(np.asarray(sos, dtype=float))
    b = np.array([1.0])
    a = np.array([1.0])
    for s in range(sos.shape[0]):
        b = np.convolve(b, sos[s, :3])
        a = np.convolve(a, sos[s, 3:])
    return b, a


def freqz(b, a=1.0, worN: int = 512):
    """Frequency response of a (b, a) transfer function on ``worN``
    equispaced points over [0, π) (``scipy.signal.freqz(b, a, worN)``
    semantics, whole-unit-circle=False): returns ``(w, h)`` with
    ``h = B(e^{-jw}) / A(e^{-jw})`` evaluated by direct polynomial
    summation. Driver-side design introspection — O(worN · taps)
    floats, never a cluster job."""
    b = np.atleast_1d(np.asarray(b, dtype=complex))
    a = np.atleast_1d(np.asarray(a, dtype=complex))
    if worN < 1:
        raise ValueError(f"worN must be >= 1, got {worN}")
    w = np.pi * np.arange(worN) / worN
    z = np.exp(-1j * np.outer(w, np.arange(max(len(b), len(a)))))
    num = z[:, : len(b)] @ b
    den = z[:, : len(a)] @ a
    return w, num / den


def sosfreqz(sos, worN: int = 512):
    """Frequency response of an sos cascade: the product of each
    biquad's ``freqz`` (``scipy.signal.sosfreqz`` semantics)."""
    sos = np.atleast_2d(np.asarray(sos, dtype=float))
    if sos.shape[1] != 6:
        raise ValueError(f"sos must be (n, 6), got {sos.shape}")
    h = None
    w = None
    for row in sos:
        w, hi = freqz(row[:3], row[3:], worN=worN)
        h = hi if h is None else h * hi
    return w, h


def group_delay(b, a=1.0, worN: int = 512):
    """Group delay −dφ/dω of a (b, a) filter via the Shpak/Smith
    identity used by ``scipy.signal.group_delay``: with
    ``c = b * conj-reversed(a)`` (the numerator of H·conj(H) up to a
    linear phase), ``gd = Re(C'(ω)/C(ω)) − (len(a) − 1)`` where
    ``C' = Σ k·c_k e^{-jkω}``. Returns ``(w, gd)`` in samples."""
    b = np.atleast_1d(np.asarray(b, dtype=float))
    a = np.atleast_1d(np.asarray(a, dtype=float))
    c = np.convolve(b, a[::-1])
    k = np.arange(len(c))
    w = np.pi * np.arange(worN) / worN
    z = np.exp(-1j * np.outer(w, k))
    num = z @ (c * k)
    den = z @ c
    small = np.abs(den) < 1e-300
    gd = np.where(small, 0.0, np.real(num / np.where(small, 1.0, den))) - (
        len(a) - 1
    )
    return w, gd
