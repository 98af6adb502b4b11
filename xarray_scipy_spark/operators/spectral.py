"""Short-time spectral analysis: STFT, its inverse, and Welch-style
spectral densities.

Engine-native extensions (no direct reference analog — the reference
stops at whole-series transforms, ``/root/reference/xarray_scipy/
signal.py:155-241``): the same per-series grouped-kernel primitive,
but the kernel frames each series into overlapping windows before the
real FFT. This is the scale path for *long* series — a spectrogram
keeps per-output-row work O(frame_len · log frame_len) regardless of
series length, where a whole-series FFT's memory grows with n.

Design notes (100 TB):

- framing happens INSIDE the kernel on the contiguous per-series block
  (``numpy.lib.stride_tricks.sliding_window_view`` — zero-copy views,
  no materialized frame table), so there is still exactly ONE shuffle,
  the same bucket exchange every other operator pays;
- frame/bin positions and their time/frequency coordinates are derived
  NATIVELY in SQL from the flat output index (``frame = idx div n_bins``,
  ``bin = idx % n_bins``) and the group-constant ``offset``/``delta`` —
  no second pass, no Python;
- Welch averages periodograms inside the kernel, so its output is
  n_bins rows per series no matter how long the series — the classic
  map-side reduction of spectral mass.

Each rule is written once: ``_hop`` (the ``frame_len // 2`` default,
checked at call time), ``_frames`` (also used by the streaming
``stft_stream``), ``_fold`` (the one-sided density fold) and
``_cross`` (the cogrouped pass of ``csd`` and ``coherence``).
"""

from __future__ import annotations

from collections.abc import Callable, Sequence

import numpy as np
from pyspark.sql import DataFrame, functions as F

from ..core import apply_cogrouped_kernel, apply_series_kernel, resolve_keep_attrs

__all__ = [
    "stft",
    "istft",
    "spectral_apply",
    "welch",
    "periodogram",
    "csd",
    "coherence",
    "window_taps",
]


def window_taps(window: str | Sequence[float] | None, frame_len: int) -> np.ndarray:
    """Resolve a window spec to taps of length ``frame_len``.

    ``None`` -> boxcar (all ones); ``"hann"`` -> periodic Hann
    ``0.5 - 0.5*cos(2*pi*m/frame_len)`` (the DFT-symmetric form used for
    spectral analysis); ``"hamming"`` -> periodic Hamming; a sequence is
    used verbatim.
    """
    if window is None:
        return np.ones(frame_len)
    if isinstance(window, str):
        m = np.arange(frame_len, dtype=float)
        if window == "hann":
            return 0.5 - 0.5 * np.cos(2.0 * np.pi * m / frame_len)
        if window == "hamming":
            return 0.54 - 0.46 * np.cos(2.0 * np.pi * m / frame_len)
        if window == "blackman":
            return (
                0.42
                - 0.5 * np.cos(2.0 * np.pi * m / frame_len)
                + 0.08 * np.cos(4.0 * np.pi * m / frame_len)
            )
        if window == "bartlett":
            # periodic form: the (frame_len+1)-point symmetric triangle
            # truncated, matching scipy get_window(..., fftbins=True)
            return 1.0 - np.abs(2.0 * m / frame_len - 1.0)
        if window == "blackmanharris":
            # 4-term minimum-sidelobe window (scipy coefficients)
            a = (0.35875, 0.48829, 0.14128, 0.01168)
            ph = 2.0 * np.pi * m / frame_len
            return (
                a[0]
                - a[1] * np.cos(ph)
                + a[2] * np.cos(2 * ph)
                - a[3] * np.cos(3 * ph)
            )
        if window == "flattop":
            # scipy's 5-term flat-top (amplitude-accurate for tones)
            a = (
                0.21557895,
                0.41663158,
                0.277263158,
                0.083578947,
                0.006947368,
            )
            ph = 2.0 * np.pi * m / frame_len
            return (
                a[0]
                - a[1] * np.cos(ph)
                + a[2] * np.cos(2 * ph)
                - a[3] * np.cos(3 * ph)
                + a[4] * np.cos(4 * ph)
            )
        raise ValueError(
            f"unknown window {window!r} (None | 'hann' | 'hamming' | "
            "'blackman' | 'bartlett' | 'blackmanharris' | 'flattop' | "
            "('kaiser', beta) | ('tukey', alpha) | taps)"
        )
    if (
        isinstance(window, tuple)
        and len(window) == 2
        and window[0] == "tukey"
    ):
        # periodic tukey (tapered cosine): symmetric (n+1)-point form
        # truncated; alpha=0 -> boxcar, alpha=1 -> hann
        alpha = float(window[1])
        if not 0.0 <= alpha <= 1.0:
            raise ValueError(f"tukey alpha must be in [0, 1], got {alpha}")
        n1 = frame_len + 1
        mm = np.arange(n1, dtype=float)
        w = np.ones(n1)
        if alpha > 0:
            edge = alpha * (n1 - 1) / 2.0
            lo = mm < edge
            hi = mm > (n1 - 1) - edge
            w[lo] = 0.5 * (
                1 + np.cos(np.pi * (2 * mm[lo] / (alpha * (n1 - 1)) - 1))
            )
            w[hi] = 0.5 * (
                1
                + np.cos(
                    np.pi * (2 * mm[hi] / (alpha * (n1 - 1)) - 2 / alpha + 1)
                )
            )
        return w[:frame_len]
    if (
        isinstance(window, tuple)
        and len(window) == 2
        and window[0] == "kaiser"
    ):
        # periodic kaiser: the (frame_len+1)-point symmetric window
        # truncated (scipy get_window(("kaiser", beta), fftbins=True));
        # I0 is numpy's modized Bessel np.i0 — no scipy needed
        beta = float(window[1])
        m = np.arange(frame_len + 1, dtype=float)
        w = np.i0(
            beta * np.sqrt(1.0 - (2.0 * m / frame_len - 1.0) ** 2)
        ) / np.i0(beta)
        return w[:frame_len]
    taps = np.asarray(window, dtype=float)
    if taps.shape != (frame_len,):
        raise ValueError(f"window taps must have shape ({frame_len},), got {taps.shape}")
    return taps


def _frames(x: np.ndarray, frame_len: int, hop: int) -> np.ndarray:
    """(n_series, n) -> (n_series, n_frames, frame_len) zero-copy frame
    view; the tail shorter than a full frame is dropped (scipy.signal
    .stft with boundary=None/padded=False drops it the same way)."""
    if x.shape[-1] < frame_len:
        return x[:, :0].reshape(x.shape[0], 0, frame_len)
    return np.lib.stride_tricks.sliding_window_view(x, frame_len, axis=-1)[:, ::hop, :]


def _hop(frame_len: int, hop: int | None) -> int:
    """The frame step every framed operator uses: ``frame_len // 2`` by
    default, checked at call time (a zero step fails only inside the
    worker, and a negative one reverses the framing)."""
    hop = frame_len // 2 if hop is None else hop
    if hop < 1 or frame_len < 1:
        raise ValueError("frame_len and hop must be >= 1")
    return hop


def _fold(n: int) -> np.ndarray:
    """One-sided fold of an ``n``-point rfft: every bin counts twice
    except DC and, for even ``n``, the Nyquist bin."""
    fold = np.full(n // 2 + 1, 2.0)
    fold[0] = 1.0
    if n % 2 == 0:
        fold[-1] = 1.0
    return fold


def _bin_frequency(n: int):
    """Frequency of bin ``idx`` of an ``n``-point transform."""
    return F.col("idx").cast("double") / (F.lit(float(n)) * F.col("delta"))


def _overlap_add(
    seg: np.ndarray, taps: np.ndarray, hop: int, weight_eps: float
) -> dict[str, np.ndarray]:
    """Weighted overlap-add of ``(n_series, n_frames, frame_len)``
    frames: ``Σ taps·seg / Σ taps²`` at each sample position ``t``,
    keeping the positions whose window weight exceeds ``weight_eps``.
    Returns the kernel output ``{"t": positions, "val": samples}``."""
    n_series, n_frames, frame_len = seg.shape
    t_len = (n_frames - 1) * hop + frame_len
    num = np.zeros((n_series, t_len))
    den = np.zeros(t_len)
    f_off = hop * np.arange(n_frames)
    for i in range(frame_len):
        # positions i + hop*f are distinct across frames for fixed i
        # (stride hop), so fancy-index += is collision-free
        pos = f_off + i
        num[:, pos] += taps[i] * seg[:, :, i]
        den[pos] += taps[i] * taps[i]
    kept = np.flatnonzero(den > weight_eps)
    val = num[:, kept] / den[kept]
    t_out = np.broadcast_to(kept.astype(np.int64), (n_series, len(kept)))
    return {"t": t_out, "val": val.astype(float)}


def stft(
    df: DataFrame,
    *,
    by: Sequence[str],
    dim: str,
    frame_len: int,
    hop: int | None = None,
    window: str | Sequence[float] | None = "hann",
    values: Sequence[str] = ("value",),
    order: str | Sequence[str] | None = None,
    keep_attrs: bool | None = None,
) -> DataFrame:
    """Short-time Fourier transform of each series.

    Frames of ``frame_len`` samples every ``hop`` (default
    ``frame_len // 2``) are windowed and real-FFT'd. Output: one row per
    (series, frame, bin) with twin ``re``/``im`` columns plus native
    position/coordinate columns::

        frame      = idx div n_bins        (n_bins = frame_len//2 + 1)
        bin        = idx %  n_bins
        frame_time = offset + frame*hop*delta   (frame start time)
        frequency  = bin / (frame_len*delta)

    Series shorter than one frame produce no rows.
    """
    hop = _hop(frame_len, hop)
    taps = window_taps(window, frame_len)
    values = list(values)
    n_bins = frame_len // 2 + 1

    def kernel(*blocks):
        x = blocks[0] if len(blocks) == 1 else blocks[0] + 1j * blocks[1]
        fr = _frames(x, frame_len, hop) * taps
        spec = np.fft.rfft(fr, axis=-1)
        flat = spec.reshape(spec.shape[0], -1)
        return {
            "re": np.real(flat).astype(float),
            "im": np.imag(flat).astype(float),
        }

    res = apply_series_kernel(
        df,
        kernel,
        by=by,
        order=order or dim,
        values=values,
        out_fields="re double, im double",
        keep=resolve_keep_attrs(df, keep_attrs),
    )
    frame = F.floor(F.col("idx") / n_bins).cast("bigint")
    bin_ = (F.col("idx") % n_bins).cast("bigint")
    return (
        res.withColumn("frame", frame)
        .withColumn("bin", bin_)
        .withColumn(
            "frame_time", F.col("offset") + frame.cast("double") * hop * F.col("delta")
        )
        .withColumn(
            "frequency", bin_.cast("double") / (F.lit(float(frame_len)) * F.col("delta"))
        )
    )


def istft(
    df: DataFrame,
    *,
    by: Sequence[str],
    frame_len: int,
    hop: int | None = None,
    window: str | Sequence[float] | None = "hann",
    frame_col: str = "frame",
    bin_col: str = "bin",
    re_col: str = "re",
    im_col: str = "im",
    out: str = "value",
    weight_eps: float = 1e-12,
) -> DataFrame:
    """Inverse STFT by windowed least-squares overlap-add.

    Input: :func:`stft` output (one row per (series, frame, bin) with
    twin ``re``/``im``); ``frame_len``/``hop``/``window`` must match the
    forward transform. Two-stage plan:

    1. per-frame ``irfft`` through the grouped kernel with
       ``(by, frame)`` as the series key and ``bin`` as the core dim —
       one bucket shuffle, one FFT call per block of frames;
    2. the overlap-add itself is a NATIVE aggregation: each frame
       sample lands at ``t = frame·hop + i`` with window weight
       ``w[i]``, and ``x[t] = Σ_f w·y_f / Σ_f w²`` — a groupBy(t) with
       two sums, entirely inside whole-stage codegen. No Python touches
       the reconstruction. This is the scale path for very LONG series:
       frames parallelize across partitions, so no worker ever holds a
       whole series.

    Since ``y_f = w·x`` exactly, the quotient reproduces the original
    samples exactly wherever any covering window tap is nonzero;
    positions with total weight ≤ ``weight_eps`` (e.g. t=0 under a
    periodic Hann whose first tap is 0, and the tail beyond the last
    full frame) are dropped rather than emitted as garbage.
    :func:`spectral_apply` is the one-exchange alternative when the
    caller starts from samples and wants samples back.

    Output: ``[*by, t, <out>]`` with ``t`` the 0-based sample position
    of the original series.
    """
    hop = _hop(frame_len, hop)
    taps = window_taps(window, frame_len)
    by = list(by)

    def kernel(re_block, im_block):
        seg = np.fft.irfft(re_block + 1j * im_block, n=frame_len, axis=-1)
        return {"seg": seg.astype(float)}

    segs = apply_series_kernel(
        df,
        kernel,
        by=[*by, frame_col],
        order=bin_col,
        values=[re_col, im_col],
        out_fields="seg double",
    )
    w_arr = F.array(*[F.lit(float(t)) for t in taps])
    wi = F.element_at(w_arr, (F.col("idx") + 1).cast("int"))
    rec = segs.select(
        *by,
        (F.col(frame_col) * hop + F.col("idx")).alias("t"),
        (wi * F.col("seg")).alias("__num__"),
        (wi * wi).alias("__den__"),
    )
    return (
        rec.groupBy(*by, "t")
        .agg(F.sum("__num__").alias("__num__"), F.sum("__den__").alias("__den__"))
        .filter(F.col("__den__") > weight_eps)
        .select(*by, "t", (F.col("__num__") / F.col("__den__")).alias(out))
    )


def spectral_apply(
    df: DataFrame,
    *,
    by: Sequence[str],
    dim: str,
    frame_len: int,
    hop: int | None = None,
    window: str | Sequence[float] | None = "hann",
    transform: Callable[[np.ndarray], np.ndarray] | None = None,
    values: Sequence[str] = ("value",),
    order: str | Sequence[str] | None = None,
    out: str = "value",
    weight_eps: float = 1e-12,
) -> DataFrame:
    """STFT-domain processing in ONE kernel exchange: frame → window →
    ``rfft`` → ``transform(spectrum)`` → ``irfft`` → least-squares
    overlap-add, all inside a single grouped kernel pass.

    The analysis/modify/resynthesize pattern (spectral masking, noise
    gating, per-bin filtering) normally composes :func:`stft` +
    :func:`istft`, which pays two bucket exchanges — correct, but the
    intermediate (series, frame, bin) frame is pure plumbing when the
    caller only wants the reconstructed signal. Here the spectrum never
    leaves the kernel: one shuffle of the raw samples, one Python
    stage, numpy-vectorized across series. Per-worker memory bound is
    one series plus its spectrum — the same contract as every other
    grouped kernel.

    ``transform`` maps the complex spectrum block ``(n_series,
    n_frames, n_bins)`` to a same-shape array; ``None`` is the
    identity, making this the fused ``istft(stft(x))`` roundtrip —
    bitwise the same semantics as the two-operator composition (the
    ``istft_roundtrip``/``istft_native`` contract queries pin both
    executions to one oracle).

    Output: ``[*by, t, <out>]`` like :func:`istft`; positions whose
    total window weight ≤ ``weight_eps`` are dropped, and the tail
    beyond the last full frame was never framed.
    """
    hop = _hop(frame_len, hop)
    taps = window_taps(window, frame_len)
    n_bins = frame_len // 2 + 1
    by = list(by)
    values = list(values)

    def kernel(*blocks):
        x = blocks[0]
        n_series = x.shape[0]
        fr = _frames(x, frame_len, hop) * taps
        n_frames = fr.shape[1]
        if n_frames == 0:
            z = np.zeros((n_series, 0))
            return {"t": z.astype(np.int64), "val": z}
        spec = np.fft.rfft(fr, axis=-1)
        if transform is not None:
            spec = np.asarray(transform(spec))
            if spec.shape != (n_series, n_frames, n_bins):
                raise ValueError(
                    f"transform must preserve the spectrum shape "
                    f"{(n_series, n_frames, n_bins)}, got {spec.shape}"
                )
        seg = np.fft.irfft(spec, n=frame_len, axis=-1)
        return _overlap_add(seg, taps, hop, weight_eps)

    res = apply_series_kernel(
        df,
        kernel,
        by=by,
        order=order or dim,
        values=values,
        out_fields="t bigint, val double",
        emit_idx=False,
    )
    return res.select(*by, "t", F.col("val").alias(out))


def welch(
    df: DataFrame,
    *,
    by: Sequence[str],
    dim: str,
    frame_len: int,
    hop: int | None = None,
    window: str | Sequence[float] | None = "hann",
    nfft: int | None = None,
    detrend: str | None = None,
    average: str = "mean",
    values: Sequence[str] = ("value",),
    order: str | Sequence[str] | None = None,
    keep_attrs: bool | None = None,
) -> DataFrame:
    """Welch averaged periodogram per series (one row per bin).

    ``average='median'`` (scipy parity): median across frames instead
    of the mean, divided by scipy's median-bias correction
    ``1 + Σ_{k=1..(n-1)//2} (1/(2k+1) − 1/(2k))`` — the robust
    estimator that shrugs off transient bursts a mean would smear
    across the whole PSD.

    ``nfft`` (scipy parity): zero-pad each windowed frame to ``nfft``
    points before the rfft for finer bin spacing (``nfft >=
    frame_len``; default = frame_len). Frequencies become
    ``bin / (nfft·delta)``.

    ``detrend``: ``'constant'`` subtracts each frame's mean BEFORE
    windowing (scipy's welch default). The engine default is ``None``
    because the registered ``welch`` oracle pins the no-detrend
    output; pass ``'constant'`` for strict scipy-default parity.

    ``power[k] = c_k * mean_over_frames |X_f[k]|^2 / sum(w^2)`` with the
    one-sided fold ``c_k = 2`` except DC and (even ``frame_len``) the
    Nyquist bin — i.e. scipy's ``welch(..., scaling="density")`` times
    ``fs``; multiply by the sample spacing for the literal density
    (provided as the native ``psd`` column = ``power * delta``).

    The frame average runs inside the kernel, so output size is
    ``n_bins`` rows per series regardless of series length — the
    reduction happens map-side, before any further aggregation.
    """
    hop = _hop(frame_len, hop)
    nfft = frame_len if nfft is None else int(nfft)
    if nfft < frame_len:
        raise ValueError(f"nfft ({nfft}) must be >= frame_len ({frame_len})")
    taps = window_taps(window, frame_len)
    scale = _fold(nfft) / float(np.sum(taps**2))
    values = list(values)
    if detrend not in (None, "constant"):
        raise ValueError(f"detrend must be None or 'constant', got {detrend!r}")
    if average not in ("mean", "median"):
        raise ValueError(f"average must be 'mean' or 'median', got {average!r}")

    def kernel(*blocks):
        x = blocks[0]
        fr = _frames(x, frame_len, hop)
        if fr.shape[1] == 0:  # series shorter than one frame: no rows
            return {"power": np.zeros((x.shape[0], 0))}
        if detrend == "constant":
            fr = fr - fr.mean(axis=-1, keepdims=True)
        fr = fr * taps
        spec = np.fft.rfft(fr, n=nfft, axis=-1)  # zero-pads to nfft
        per = spec.real**2 + spec.imag**2
        if average == "median":
            # the median of n iid exponential periodogram bins biases
            # low; scipy's published correction (_median_bias) is
            # 1 + Σ_{k=1..(n-1)//2} (1/(2k+1) − 1/(2k))
            n_fr = per.shape[1]
            ii = np.arange(1.0, (n_fr - 1) // 2 + 1)
            bias = 1.0 + np.sum(1.0 / (2 * ii + 1) - 1.0 / (2 * ii))
            pxx = np.median(per, axis=1) / bias
        else:
            pxx = per.mean(axis=1)
        pxx = pxx * scale
        return {"power": pxx.astype(float)}

    res = apply_series_kernel(
        df,
        kernel,
        by=by,
        order=order or dim,
        values=values,
        out_fields="power double",
        keep=resolve_keep_attrs(df, keep_attrs),
    )
    return res.withColumn("frequency", _bin_frequency(nfft)).withColumn(
        "psd", F.col("power") * F.col("delta")
    )


def periodogram(
    df: DataFrame,
    *,
    by: Sequence[str],
    dim: str,
    detrend: str | None = "constant",
    values: Sequence[str] = ("value",),
    order: str | Sequence[str] | None = None,
    keep_attrs: bool | None = None,
) -> DataFrame:
    """Single-segment periodogram per series (``scipy.signal.
    periodogram`` with the default boxcar window: one rfft over the
    WHOLE series, ``detrend='constant'`` subtracting the series mean
    first). Same units convention as :func:`welch` (scipy density × fs
    — multiply by the sample spacing via the provided ``psd`` column):
    ``power[k] = c_k · |X[k]|² / n`` with the one-sided fold ``c_k``.

    Unlike :func:`welch` the output size is ``n//2+1`` rows per
    series — fine for bounded series; for unbounded ones use welch,
    whose map-side frame averaging keeps output size fixed.
    """
    if detrend not in (None, "constant"):
        raise ValueError(f"detrend must be None or 'constant', got {detrend!r}")
    values = list(values)

    def kernel(x):
        n = x.shape[1]
        if detrend == "constant":
            x = x - x.mean(axis=1, keepdims=True)
        spec = np.fft.rfft(x, axis=-1)
        return {"power": (spec.real**2 + spec.imag**2) * (_fold(n) / n)}

    res = apply_series_kernel(
        df,
        kernel,
        by=by,
        order=order or dim,
        values=values,
        out_fields="power double",
        keep=resolve_keep_attrs(df, keep_attrs),
    )
    return res.withColumn(
        "frequency",
        F.col("idx").cast("double") / (F.col("n_in").cast("double") * F.col("delta")),
    ).withColumn("psd", F.col("power") * F.col("delta"))


def _cross(
    df1, df2, stat, out_fields, *, by, dim, frame_len, hop, window, value1, value2, keep=()
):
    """The cogrouped Welch pass shared by :func:`csd` and
    :func:`coherence`: frame, window and rfft both aligned series, then
    ``stat(fx, fy)`` reduces the ``(n_frames, n_bins)`` spectra
    to the ``out_fields`` columns (none for a series shorter than one
    frame). Adds the bin ``frequency`` column."""
    hop = _hop(frame_len, hop)
    taps = window_taps(window, frame_len)
    names = [f.split()[0] for f in out_fields.split(",")]

    def kernel(coords1, x, coords2, y):
        if len(x) != len(y):
            raise ValueError(
                f"csd/coherence need aligned equal-length series, got {len(x)}/{len(y)}"
            )
        fx = np.fft.rfft(_frames(x[None, :], frame_len, hop)[0] * taps, axis=-1)
        fy = np.fft.rfft(_frames(y[None, :], frame_len, hop)[0] * taps, axis=-1)
        if fx.shape[0] == 0:
            return {c: np.zeros(0) for c in names}
        return stat(fx, fy)

    res = apply_cogrouped_kernel(
        df1,
        df2,
        kernel,
        by=by,
        order1=dim,
        order2=dim,
        values1=[value1],
        values2=[value2],
        out_fields=out_fields,
        keep=keep,
    )
    return res.withColumn("frequency", _bin_frequency(frame_len))


def csd(
    df1: DataFrame,
    df2: DataFrame,
    *,
    by: Sequence[str],
    dim: str,
    frame_len: int,
    hop: int | None = None,
    window: str | Sequence[float] | None = "hann",
    value1: str = "value",
    value2: str = "value",
    keep_attrs: bool | None = None,
) -> DataFrame:
    """Welch cross-spectral density of two aligned series per group:
    ``Pxy[k] = c_k · mean_over_frames conj(X_f[k])·Y_f[k] / sum(w²)``
    (one-sided fold like :func:`welch`; multiply by the sample spacing
    for the literal density). Both inputs co-locate through ONE
    cogrouped shuffle; output is twin ``re``/``im`` per bin.
    """
    scale = _fold(frame_len) / float(np.sum(window_taps(window, frame_len) ** 2))

    def stat(fx, fy):
        pxy = (np.conj(fx) * fy).mean(axis=0) * scale
        return {"re": pxy.real.astype(float), "im": pxy.imag.astype(float)}

    return _cross(
        df1, df2, stat, "re double, im double", by=by, dim=dim, frame_len=frame_len,
        hop=hop, window=window, value1=value1, value2=value2,
        keep=resolve_keep_attrs(df1, keep_attrs),
    )


def coherence(
    df1: DataFrame,
    df2: DataFrame,
    *,
    by: Sequence[str],
    dim: str,
    frame_len: int,
    hop: int | None = None,
    window: str | Sequence[float] | None = "hann",
    value1: str = "value",
    value2: str = "value",
) -> DataFrame:
    """Magnitude-squared coherence
    ``γ²[k] = |mean conj(X)·Y|² / (mean|X|² · mean|Y|²)`` — the window
    energy and one-sided fold cancel, so γ² ∈ [0, 1] needs no scaling.
    Requires several frames per series (a single frame gives γ² ≡ 1).
    """
    def stat(fx, fy):
        pxx = (fx.real**2 + fx.imag**2).mean(axis=0)
        pyy = (fy.real**2 + fy.imag**2).mean(axis=0)
        pxy = (np.conj(fx) * fy).mean(axis=0)
        denom = pxx * pyy
        coh = np.where(denom > 0, np.abs(pxy) ** 2 / np.where(denom > 0, denom, 1.0), 0.0)
        return {"coherence": coh.astype(float)}

    return _cross(
        df1, df2, stat, "coherence double", by=by, dim=dim, frame_len=frame_len,
        hop=hop, window=window, value1=value1, value2=value2,
    )
