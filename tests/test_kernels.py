"""Unit tests for the scipy-free numpy kernels.

scipy is absent from this environment, so correctness is established
via closed-form/analytic invariants — the same style the reference's
suite uses (e.g. |hilbert(A sin)| == A, tests/test_signal.py:566-568;
golden peak matrices, tests/test_signal.py:110-331).
"""

import numpy as np
import pytest

from xarray_scipy_spark.kernels import (
    butter_sos,
    cheby1_sos,
    decimate_1d,
    fftconvolve_1d,
    firwin,
    hilbert_1d,
    peak_widths,
    resample_fourier,
    sosfilt_1d,
    sosfiltfilt_1d,
    sosfilt_zi,
)


def sine(duration=1.0, fs=8000.0, f=100.0, amp=2.0):
    t = np.arange(int(duration * fs)) / fs
    return amp * np.sin(2 * np.pi * f * t), fs


# ---------- convolution ----------

def test_fftconvolve_matches_direct():
    rng = np.random.default_rng(0)
    x = rng.normal(size=200)
    y = rng.normal(size=37)
    np.testing.assert_allclose(fftconvolve_1d(x, y, "full"), np.convolve(x, y, "full"), atol=1e-10)
    np.testing.assert_allclose(fftconvolve_1d(x, y, "same"), np.convolve(x, y, "same"), atol=1e-10)


def test_fftconvolve_sizes():
    # reference invariant: full -> n1+n2-1, same -> n1 (test_signal.py:73-76)
    x, y = np.ones(50), np.ones(7)
    assert len(fftconvolve_1d(x, y, "full")) == 56
    assert len(fftconvolve_1d(x, y, "same")) == 50
    # valid: max-min+1 fully-overlapped lags (numpy semantics; the
    # reference's valid path is broken, signal.py:77)
    v = fftconvolve_1d(x, y, "valid")
    np.testing.assert_allclose(v, np.convolve(x, y, mode="valid"), atol=1e-10)
    with pytest.raises(ValueError):
        fftconvolve_1d(x, y, "bogus")


# ---------- hilbert ----------

def test_hilbert_envelope_of_sine():
    # |analytic| == amplitude (reference test_signal.py:566-568)
    x, _ = sine()
    env = np.abs(hilbert_1d(x))
    interior = env[50:-50]
    np.testing.assert_allclose(interior, 2.0, rtol=1e-2)


def test_hilbert_real_part_is_input():
    rng = np.random.default_rng(1)
    x = rng.normal(size=256)
    np.testing.assert_allclose(hilbert_1d(x).real, x, atol=1e-10)


def test_hilbert_n_pads_or_truncates():
    x = np.arange(100.0)
    assert len(hilbert_1d(x, n=128)) == 128
    assert len(hilbert_1d(x, n=64)) == 64


# ---------- resample ----------

def test_resample_identity():
    rng = np.random.default_rng(2)
    x = rng.normal(size=128)
    np.testing.assert_allclose(resample_fourier(x, 128), x, atol=1e-12)


@pytest.mark.parametrize("n,num", [(100, 200), (100, 50), (101, 67), (64, 96)])
def test_resample_sum_scales(n, num):
    # sum(resampled) == (num/n) * sum(x): only the DC bin contributes
    rng = np.random.default_rng(3)
    x = rng.normal(size=n)
    np.testing.assert_allclose(resample_fourier(x, num).sum(), x.sum() * num / n, atol=1e-9)


def test_resample_bandlimited_sine_exact():
    # a tone well below both Nyquists is reproduced exactly on the new grid
    n, num, f = 200, 400, 5
    t = np.arange(n) / n
    x = np.sin(2 * np.pi * f * t)
    t2 = np.arange(num) / num
    np.testing.assert_allclose(resample_fourier(x, num), np.sin(2 * np.pi * f * t2), atol=1e-9)


# ---------- filter design + sosfilt ----------

def test_butter_dc_gain_and_stability():
    sos = butter_sos(4, 0.3)
    assert sos.shape == (2, 6)
    dc = np.prod([s[:3].sum() / s[3:].sum() for s in sos])
    assert abs(dc - 1.0) < 1e-9  # unity DC gain for a low-pass
    # poles inside unit circle
    for s in sos:
        roots = np.roots(s[3:])
        assert np.all(np.abs(roots) < 1.0)


def test_cheby1_ripple_band():
    sos = cheby1_sos(8, 0.05, 0.5)
    # DC gain for even-order cheby1 is -rp dB
    dc = np.prod([s[:3].sum() / s[3:].sum() for s in sos])
    assert abs(20 * np.log10(abs(dc)) + 0.05) < 1e-6
    for s in sos:
        assert np.all(np.abs(np.roots(s[3:])) < 1.0)


def _freq_gain(sos, w):
    z = np.exp(1j * np.pi * w)
    h = 1.0
    for s in sos:
        h *= (s[0] + s[1] / z + s[2] / z**2) / (s[3] + s[4] / z + s[5] / z**2)
    return abs(h)


def test_butter_frequency_response():
    sos = butter_sos(4, 0.3)
    assert abs(_freq_gain(sos, 0.3) - 1 / np.sqrt(2)) < 1e-6  # -3 dB at Wn
    assert _freq_gain(sos, 0.05) > 0.99
    assert _freq_gain(sos, 0.8) < 0.01


def test_sosfilt_impulse_response_single_biquad():
    # hand-computable recursion: y[n] = x[n] + 0.5 y[n-1]
    sos = np.array([[1.0, 0.0, 0.0, 1.0, -0.5, 0.0]])
    imp = np.zeros(8)
    imp[0] = 1.0
    y = sosfilt_1d(sos, imp)
    np.testing.assert_allclose(y, 0.5 ** np.arange(8), atol=1e-12)


def test_sosfilt_fir_section_matches_convolution():
    rng = np.random.default_rng(4)
    x = rng.normal(size=64)
    sos = np.array([[0.25, 0.5, 0.25, 1.0, 0.0, 0.0]])
    np.testing.assert_allclose(
        sosfilt_1d(sos, x), np.convolve(x, [0.25, 0.5, 0.25])[:64], atol=1e-12
    )


def test_sosfilt_batch_matches_loop():
    rng = np.random.default_rng(5)
    xs = rng.normal(size=(5, 100))
    sos = butter_sos(4, 0.3)
    batch = sosfilt_1d(sos, xs)
    for i in range(5):
        np.testing.assert_allclose(batch[i], sosfilt_1d(sos, xs[i]), atol=1e-12)


def test_sosfilt_zi_steady_state():
    # with steady-state zi, a constant input passes through unchanged
    sos = butter_sos(4, 0.3)
    zi = sosfilt_zi(sos)
    x = np.ones(50) * 3.7
    y, _ = sosfilt_1d(sos, x, zi=zi * 3.7)
    np.testing.assert_allclose(y, 3.7, atol=1e-9)


def test_sosfiltfilt_constant_and_length():
    sos = butter_sos(4, 0.3)
    x = np.full(200, 1.5)
    y = sosfiltfilt_1d(sos, x)
    assert len(y) == 200  # length preserved (test_signal.py:620-628)
    np.testing.assert_allclose(y, 1.5, atol=1e-8)


def test_sosfiltfilt_zero_phase_no_delay():
    # zero-phase: the filtered low-frequency tone stays aligned
    x, fs = sine(duration=0.5, f=50.0, amp=1.0)
    sos = butter_sos(4, 0.3)  # passband includes 50 Hz @ fs 8000
    y = sosfiltfilt_1d(sos, x)
    interior = slice(200, -200)
    np.testing.assert_allclose(y[interior], x[interior], atol=1e-3)


def test_sosfiltfilt_attenuates_stopband():
    x, fs = sine(duration=0.5, f=3000.0, amp=1.0)  # 0.75 of Nyquist
    sos = butter_sos(4, 0.3)
    y = sosfiltfilt_1d(sos, x)
    assert np.abs(y[200:-200]).max() < 1e-3


# ---------- firwin / decimate ----------

def test_firwin_unit_dc():
    h = firwin(121, 0.25)
    assert abs(h.sum() - 1.0) < 1e-12
    np.testing.assert_allclose(h, h[::-1], atol=1e-15)  # linear phase


def test_decimate_lengths():
    # ceil semantics; reference declares len//q (signal.py:143-145)
    x = np.zeros(100)
    assert len(decimate_1d(x, 4)) == 25
    assert len(decimate_1d(np.zeros(102), 4)) == 26


def test_decimate_preserves_low_tone():
    x, fs = sine(duration=1.0, f=100.0, amp=1.0)
    y = decimate_1d(x, 4)
    t2 = np.arange(len(y)) * 4 / fs
    expected = np.sin(2 * np.pi * 100.0 * t2)
    np.testing.assert_allclose(y[50:-50], expected[50:-50], atol=5e-3)


def test_decimate_fir_identity_when_n0():
    # n=0 -> single-tap unit filter -> pure downsample (used by the oracle query)
    rng = np.random.default_rng(6)
    x = rng.normal(size=101)
    np.testing.assert_array_equal(decimate_1d(x, 4, n=0, ftype="fir"), x[::4])


# ---------- peak_widths ----------

def _track_signal(ntime=7, nfreq=14, offsets=(1,), bandwidth=1):
    """Golden fixture re-derived from reference tests/test_signal.py:110-172:
    diagonal tracks of ones of a given bandwidth on a zero background."""
    x = np.zeros((ntime, nfreq))
    peaks = np.zeros((ntime, len(offsets)), dtype=int)
    for t in range(ntime):
        for p, off in enumerate(offsets):
            for w in range(bandwidth):
                x[t, t + off + w] = 1.0
            peaks[t, p] = t + off
    return x, peaks


@pytest.mark.parametrize("offsets", [(1,), (1, 4)])
@pytest.mark.parametrize("bandwidth", [1, 2])
def test_peak_widths_golden_tracks(offsets, bandwidth):
    x, peaks = _track_signal(offsets=offsets, bandwidth=bandwidth)
    for t in range(x.shape[0]):
        widths, wh, lips, rips = peak_widths(x[t], peaks[t])
        np.testing.assert_allclose(widths, float(bandwidth))
        np.testing.assert_allclose(wh, 0.5)  # rel_height=.5 of prominence 1


def test_peak_widths_triangular():
    x = np.array([0.0, 1.0, 2.0, 1.0, 0.0])
    widths, wh, lips, rips = peak_widths(x, np.array([2]))
    np.testing.assert_allclose(widths, [2.0])
    np.testing.assert_allclose(wh, [1.0])
    np.testing.assert_allclose(lips, [1.0])
    np.testing.assert_allclose(rips, [3.0])


def test_decimate_large_q_analytic_tone():
    # ADVICE item: high-order/low-cutoff cascade precision — decimate's
    # default cheby1(8, 0.05, 0.8/q) at large q must still pass a tone
    # far below the post-decimation Nyquist essentially unchanged
    # (zero-phase, so no shift either). Exercises the unit-circle
    # section ordering in _zpk2sos.
    from xarray_scipy_spark.kernels.dsp import decimate_1d
    from xarray_scipy_spark.kernels.filter_design import cheby1_sos

    n, f = 8192, 0.002
    x = np.sin(2 * np.pi * f * np.arange(n))
    for q in (4, 16, 32):
        y = decimate_1d(x, q)
        m = np.arange(len(y))
        expected = np.sin(2 * np.pi * f * q * m)
        sl = slice(50, -50)
        assert np.max(np.abs(y[sl] - expected[sl])) < 0.02
    # every section of the large-q designs must be stable
    for q in (16, 32):
        sos = cheby1_sos(8, 0.05, 0.8 / q)
        for s in sos:
            assert np.all(np.abs(np.roots(s[3:])) < 1.0)


# ---------- ragged batching (the bucket-level recursion path) ----------

def _direct_form_1(b, a, x, zi=()):
    """Reference for the recursions that shares no code with them: the
    difference equation y[n] = Σ b_k x[n−k] − Σ a_k y[n−k] (a[0]
    normalized to 1), sample by sample. ``zi`` is a direct-form-II-
    transposed initial state: entry n is what the samples before 0
    contribute to y[n], so it is added to y[n] for n < len(zi)."""
    b = np.asarray(b, dtype=float) / a[0]
    a = np.asarray(a, dtype=float) / a[0]
    y = np.zeros(len(x))
    for n in range(len(x)):
        acc = sum(b[k] * x[n - k] for k in range(min(n, len(b) - 1) + 1))
        acc -= sum(a[k] * y[n - k] for k in range(1, min(n, len(a) - 1) + 1))
        y[n] = acc + (zi[n] if n < len(zi) else 0.0)
    return y


def _padded_rows(rows):
    lengths = np.array([len(r) for r in rows])
    x = np.zeros((len(rows), max(lengths.max(), 1)))
    for i, r in enumerate(rows):
        x[i, : len(r)] = r
    return x, lengths


def test_ragged_recursions_match_direct_form_1():
    """sosfilt_ragged (one difference equation per section) and
    lfilter_ragged against the plain difference equation, per row of a
    mixed-length batch with a nonzero initial state. Each row is cut in
    two and the second part is seeded with the first part's ``zf``, so
    the final state captured at each row's own last sample is checked
    too."""
    from xarray_scipy_spark.kernels.dsp import lfilter_ragged, sosfilt_ragged

    rng = np.random.default_rng(29)
    sos = butter_sos(4, 0.3)
    b, a = np.array([0.4, -0.2, 0.1]), np.array([1.3, -0.5, 0.2, -0.05])
    rows = [rng.standard_normal(n) for n in rng.integers(1, 60, size=9)]
    cut = [len(r) // 2 for r in rows]
    heads = _padded_rows([r[:c] for r, c in zip(rows, cut)])
    tails = _padded_rows([r[c:] for r, c in zip(rows, cut)])

    def sos_reference(x, zi):
        for section, z in zip(sos, zi):
            x = _direct_form_1(section[:3], section[3:], x, z)
        return x

    cases = (
        (lambda x, n, zi: sosfilt_ragged(sos, x, n, zi=zi), sos_reference,
         rng.standard_normal((len(rows), len(sos), 2))),
        (lambda x, n, zi: lfilter_ragged(b, a, x, n, zi=zi),
         lambda x, zi: _direct_form_1(b, a, x, zi),
         rng.standard_normal((len(rows), 3))),
    )
    for run, reference, zi in cases:
        y1, zf = run(*heads, zi)
        y2, _ = run(*tails, zf)
        for i, (r, c) in enumerate(zip(rows, cut)):
            got = np.r_[y1[i, :c], y2[i, : len(r) - c]]
            np.testing.assert_allclose(got, reference(r, zi[i]), atol=1e-9)


def test_ragged_kernels_match_per_row():
    """sosfilt/sosfiltfilt/decimate over a right-zero-padded ragged
    batch must be sample-exact vs the per-row kernels — including the
    per-row final state captured at each row's own last sample (what
    makes chunk handoff exact for mixed-length batches)."""
    from xarray_scipy_spark.kernels.dsp import (
        decimate_1d,
        decimate_ragged,
        sosfilt_1d,
        sosfilt_ragged,
        sosfiltfilt_1d,
        sosfiltfilt_ragged,
    )
    from xarray_scipy_spark.kernels.filter_design import butter_sos, sosfilt_zi

    rng = np.random.default_rng(5)
    sos = butter_sos(4, 0.25)
    lengths = rng.integers(40, 120, size=23)
    n_max = lengths.max()
    rows = [rng.standard_normal(n) for n in lengths]
    xpad = np.zeros((len(rows), n_max))
    for i, r in enumerate(rows):
        xpad[i, : len(r)] = r

    zi0 = sosfilt_zi(sos) * 0.9
    y, zf = sosfilt_ragged(sos, xpad, lengths, zi=zi0)
    yff = sosfiltfilt_ragged(sos, xpad, lengths)
    yd, ol = decimate_ragged(xpad, lengths, 4, ftype="iir", zero_phase=True)
    for i, r in enumerate(rows):
        yr, zr = sosfilt_1d(sos, r, zi=zi0)
        np.testing.assert_allclose(y[i, : len(r)], yr, atol=1e-12)
        np.testing.assert_allclose(zf[i], zr, atol=1e-12)
        np.testing.assert_allclose(
            yff[i, : len(r)], sosfiltfilt_1d(sos, r), atol=1e-10
        )
        ref = decimate_1d(r, 4, ftype="iir", zero_phase=True)
        assert ol[i] == len(ref)
        np.testing.assert_allclose(yd[i, : ol[i]], ref, atol=1e-9)


def test_sosfiltfilt_padtypes_match_per_row():
    """every padtype ('odd'/'even'/'constant'/None) must be sample-exact
    between the ragged batch kernel and the per-row kernel, and the
    padtypes must actually differ from one another at the edges."""
    from xarray_scipy_spark.kernels.dsp import sosfiltfilt_1d, sosfiltfilt_ragged
    from xarray_scipy_spark.kernels.filter_design import butter_sos

    rng = np.random.default_rng(11)
    sos = butter_sos(4, 0.25)
    lengths = rng.integers(40, 120, size=17)
    rows = [rng.standard_normal(n) + np.linspace(0, 3, n) for n in lengths]
    xpad = np.zeros((len(rows), lengths.max()))
    for i, r in enumerate(rows):
        xpad[i, : len(r)] = r

    results = {}
    for padtype in ("odd", "even", "constant", None):
        ypad = sosfiltfilt_ragged(sos, xpad, lengths, padtype=padtype)
        for i, r in enumerate(rows):
            ref = sosfiltfilt_1d(sos, r, padtype=padtype)
            np.testing.assert_allclose(ypad[i, : len(r)], ref, atol=1e-10)
        results[padtype] = ypad
    # the edge treatment must differ between padtypes (same interior)
    for a, b in (("odd", "even"), ("even", "constant"), ("constant", None)):
        assert np.max(np.abs(results[a][:, :5] - results[b][:, :5])) > 1e-9


def test_sosfiltfilt_bad_padtype():
    from xarray_scipy_spark.kernels.dsp import sosfiltfilt_1d, sosfiltfilt_ragged
    from xarray_scipy_spark.kernels.filter_design import butter_sos

    sos = butter_sos(2, 0.3)
    with pytest.raises(ValueError, match="padtype"):
        sosfiltfilt_1d(sos, np.ones(50), padtype="mirror")
    with pytest.raises(ValueError, match="padtype"):
        sosfiltfilt_ragged(sos, np.ones((1, 50)), np.array([50]), padtype="wrap")


def test_ragged_padlen_guard():
    from xarray_scipy_spark.kernels.dsp import sosfiltfilt_ragged
    from xarray_scipy_spark.kernels.filter_design import butter_sos

    sos = butter_sos(4, 0.25)
    x = np.zeros((2, 40))
    x[:, :] = 1.0
    with pytest.raises(ValueError, match="padlen"):
        # one row shorter than padlen must raise, like the 1-D kernel
        sosfiltfilt_ragged(sos, x, np.array([40, 10]))


def test_negative_padlen_extends_nothing():
    """scipy treats a negative padlen as no edge extension: every
    zero-phase kernel returns its padlen=0 result for padlen=-1."""
    from xarray_scipy_spark.kernels import sos2tf
    from xarray_scipy_spark.kernels.dsp import filtfilt_ragged, sosfiltfilt_ragged

    sos = butter_sos(4, 0.3)
    b, a = sos2tf(sos)
    rng = np.random.default_rng(5)
    x = rng.normal(size=50)
    batch = rng.normal(size=(3, 50))
    lens = np.array([50, 31, 12])
    for padtype in ("odd", "even", "constant"):
        np.testing.assert_array_equal(
            sosfiltfilt_1d(sos, x, padlen=-1, padtype=padtype),
            sosfiltfilt_1d(sos, x, padlen=0, padtype=padtype),
        )
        np.testing.assert_array_equal(
            sosfiltfilt_ragged(sos, batch, lens, padlen=-3, padtype=padtype),
            sosfiltfilt_ragged(sos, batch, lens, padlen=0, padtype=padtype),
        )
        np.testing.assert_array_equal(
            filtfilt_ragged(b, a, batch, lens, padlen=-1, padtype=padtype),
            filtfilt_ragged(b, a, batch, lens, padlen=0, padtype=padtype),
        )


def test_resample_freq_matches_time_domain():
    """domain='freq' (spectrum input) must reproduce the time-domain
    resample when fed fft(x), for both down- and up-sampling, and
    return complex output with ~0 imaginary part for real signals."""
    from xarray_scipy_spark.kernels.dsp import resample_fourier, resample_fourier_freq

    rng = np.random.default_rng(3)
    x = rng.standard_normal((5, 48))
    for num in (20, 21, 48, 64, 97):
        yt = resample_fourier(x, num)
        yf = resample_fourier_freq(np.fft.fft(x, axis=-1), num)
        assert yf.shape == (5, num) and np.iscomplexobj(yf)
        np.testing.assert_allclose(yf.real, yt, atol=1e-10)
        np.testing.assert_allclose(yf.imag, 0.0, atol=1e-10)


def test_lfilter_matches_sos_cascade_and_fir():
    import numpy as np
    from xarray_scipy_spark.kernels import (
        butter_sos,
        lfilter_1d,
        lfilter_ragged,
        lfilter_zi,
        sos2tf,
        sosfilt_1d,
    )

    sos = butter_sos(4, 0.25)
    b, a = sos2tf(sos)
    rng = np.random.default_rng(3)
    x = rng.standard_normal((4, 120))
    np.testing.assert_allclose(lfilter_1d(b, a, x), sosfilt_1d(sos, x), atol=1e-9)
    # pure FIR (a = [1]) degenerates to convolution
    taps = np.array([0.5, 0.3, 0.2])
    got = lfilter_1d(taps, [1.0], x[0])
    want = np.convolve(x[0], taps)[: x.shape[1]]
    np.testing.assert_allclose(got, want, atol=1e-12)
    # steady-state zi keeps a constant input constant from sample 0
    zi = lfilter_zi(b, a)
    y, zf = lfilter_1d(b, a, np.full(60, 2.5), zi=zi * 2.5)
    np.testing.assert_allclose(y, 2.5, atol=1e-9)
    np.testing.assert_allclose(zf, zi * 2.5, atol=1e-9)
    # a pure gain has no state: zf is empty, (0,) for a 1-D input
    y, zf = lfilter_1d([2.0], [4.0], x[0], zi=np.zeros(0))
    np.testing.assert_array_equal(y, 0.5 * x[0])
    assert zf.shape == (0,)
    # ragged zf captured at each row's own last sample
    lens = np.array([50, 120, 80, 120])
    yr, zfr = lfilter_ragged(b, a, x, lens)
    for i, L in enumerate(lens):
        yi, zfi = lfilter_1d(b, a, x[i, :L], zi=np.zeros(len(zi)))
        np.testing.assert_allclose(yr[i, :L], yi, atol=1e-9)
        np.testing.assert_allclose(zfr[i], zfi, atol=1e-9)


def test_filtfilt_ragged_matches_sos_form():
    import numpy as np
    from xarray_scipy_spark.kernels import butter_sos, filtfilt_ragged, sos2tf
    from xarray_scipy_spark.kernels.dsp import sosfiltfilt_ragged

    sos = butter_sos(4, 0.3)
    b, a = sos2tf(sos)
    rng = np.random.default_rng(4)
    x = rng.standard_normal((3, 90))
    lens = np.array([90, 60, 75])
    x[1, 60:] = 0.0
    x[2, 75:] = 0.0
    for padtype in ("odd", "even", "constant", None):
        got = filtfilt_ragged(b, a, x, lens, padlen=20, padtype=padtype)
        want = sosfiltfilt_ragged(sos, x, lens, padlen=20, padtype=padtype)
        np.testing.assert_allclose(got, want, atol=1e-7)


def test_window_taps_periodic_forms():
    import numpy as np

    from xarray_scipy_spark.operators.spectral import window_taps

    n = 16
    m = np.arange(n)
    np.testing.assert_allclose(
        window_taps("blackman", n),
        0.42 - 0.5 * np.cos(2 * np.pi * m / n) + 0.08 * np.cos(4 * np.pi * m / n),
    )
    bart = window_taps("bartlett", n)
    # periodic triangle: symmetric (n+1)-point bartlett truncated
    full = 1.0 - np.abs(2.0 * np.arange(n + 1) / n - 1.0)
    np.testing.assert_allclose(bart, full[:n])
    # all periodic windows satisfy the COLA-friendly periodicity
    # w[0] == symmetric-window endpoint (0 for hann/bartlett)
    assert bart[0] == 0.0 and window_taps("hann", n)[0] == 0.0
    import pytest as _pytest

    with _pytest.raises(ValueError, match="blackman"):
        window_taps("kaiser", n)


def test_iir_band_forms_frequency_responses():
    import numpy as np

    from xarray_scipy_spark.kernels import butter_sos, cheby1_sos

    def resp(sos, w):
        z = np.exp(-1j * np.pi * np.asarray(w, dtype=float))
        h = np.ones_like(z, dtype=complex)
        for b0, b1, b2, a0, a1, a2 in sos:
            h *= (b0 + b1 * z + b2 * z**2) / (a0 + a1 * z + a2 * z**2)
        return np.abs(h)

    # highpass: ~0 at DC, ~1 at Nyquist, -3dB at cutoff
    r = resp(butter_sos(4, 0.5, "high"), [0.001, 0.5, 0.999])
    assert r[0] < 1e-8 and abs(r[1] - 2**-0.5) < 1e-6 and abs(r[2] - 1) < 1e-6
    # bandpass: ~0 at both ends, ~1 mid-band, -3dB at the band edges
    r = resp(butter_sos(3, (0.3, 0.6), "bandpass"), [0.001, 0.3, 0.45, 0.6, 0.999])
    assert r[0] < 1e-6 and r[4] < 1e-6
    assert abs(r[1] - 2**-0.5) < 1e-6 and abs(r[3] - 2**-0.5) < 1e-6
    assert r[2] > 0.97
    # bandstop: unity outside, deep notch inside (the exact null sits at
    # the pre-warped analog center, not the digital midpoint)
    bs = butter_sos(3, (0.3, 0.6), "bandstop")
    r = resp(bs, [0.001, 0.999])
    assert abs(r[0] - 1) < 1e-6 and abs(r[1] - 1) < 1e-6
    band = np.linspace(0.40, 0.50, 2000)
    assert resp(bs, band).min() < 1e-6  # a fine grid brackets the null
    assert resp(bs, [0.45])[0] < 1e-3  # deep attenuation at mid-band
    # cheby1 highpass: equiripple within [1-rp dB, 1] in its passband
    r = resp(cheby1_sos(5, 0.5, 0.4, "high"), np.linspace(0.45, 0.99, 50))
    assert r.max() <= 1.0 + 1e-9 and r.min() >= 10 ** (-0.5 / 20) - 1e-6
    # low-pass regression: the original two-arg call is unchanged
    r = resp(butter_sos(4, 0.3), [0.001, 0.3, 0.999])
    assert abs(r[0] - 1) < 1e-9 and abs(r[1] - 2**-0.5) < 1e-6 and r[2] < 1e-8
    import pytest as _pytest

    with _pytest.raises(ValueError, match="band edges"):
        butter_sos(3, (0.6, 0.3), "bandpass")
    with _pytest.raises(ValueError, match="btype"):
        butter_sos(3, 0.5, "notch")


def test_window_taps_extended_family():
    """blackmanharris / flattop / tukey: closed-form identities (scipy
    coefficient forms; tukey limits collapse to boxcar and hann)."""
    import numpy as np

    from xarray_scipy_spark.operators.spectral import window_taps

    n = 64
    bh = window_taps("blackmanharris", n)
    assert bh[0] == pytest.approx(0.35875 - 0.48829 + 0.14128 - 0.01168, abs=1e-12)
    assert bh.max() <= 1.0 + 1e-12 and bh[n // 2] == pytest.approx(1.0, abs=1e-9)
    ft = window_taps("flattop", n)
    assert ft.min() < 0  # the flat-top's signature negative sidelobes
    assert ft[n // 2] == pytest.approx(1.0, abs=1e-6)
    assert np.allclose(window_taps(("tukey", 0.0), n), np.ones(n))
    assert np.allclose(
        window_taps(("tukey", 1.0), n), window_taps("hann", n), atol=1e-12
    )
    mid = window_taps(("tukey", 0.5), n)
    flat = mid[n // 4 : 3 * n // 4]
    assert np.allclose(flat, 1.0)  # the flat middle half
    with pytest.raises(ValueError, match="alpha"):
        window_taps(("tukey", 1.5), n)
    with pytest.raises(ValueError, match="unknown window"):
        window_taps("gauss", n)
