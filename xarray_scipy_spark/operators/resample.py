"""Rate-changing operators: decimate, resample.

Reference: ``decimate`` at ``/root/reference/xarray_scipy/signal.py:
109-152``, ``resample`` at signal.py:374-400. Both leave output
coordinates broken upstream (TODOs at signal.py:124 and signal.py:383);
here the new equispaced coordinate is emitted natively in SQL
(SURVEY.md §7 M2 "fix what the reference TODO'd").
"""

from __future__ import annotations

from collections.abc import Sequence
from math import gcd

import numpy as np
from pyspark.sql import DataFrame, functions as F

from ..core import apply_series_kernel, resolve_keep_attrs
from ..functions.coords import linear_coord, restore_coord_dtype
from ..kernels.dsp import (
    decimate_ragged,
    resample_fourier,
    resample_fourier_freq,
    resample_poly_ragged,
    upfirdn_ragged,
)
from .filters import ragged_series_op

__all__ = ["decimate", "resample", "resample_poly", "upfirdn"]


def decimate(
    df: DataFrame,
    q: int,
    *,
    by: Sequence[str],
    dim: str,
    value: str = "value",
    n: int | None = None,
    ftype: str = "iir",
    zero_phase: bool = True,
    keep_attrs: bool | None = None,
) -> DataFrame:
    """Anti-alias filter + downsample by integer factor ``q``.

    Output ``[*by, idx, value, <dim>, n_in, offset, delta]`` with the
    recomputed coordinate ``offset + idx·q·delta`` (the filtered signal
    is sampled at positions 0, q, 2q, ...). Output length is
    ``ceil(n/q)`` (scipy semantics; the reference declares ``n//q`` at
    signal.py:143-145 which silently truncates — divergence documented).
    """

    # ragged batch: ONE recursion (or FIR convolution) per bucket over a
    # right-zero-padded matrix, however many series lengths the bucket
    # mixes — exact by causality / implicit conv zero-padding
    # (kernels.dsp.decimate_ragged)
    def fn(x, lengths):
        return decimate_ragged(x, lengths, q, n=n, ftype=ftype, zero_phase=zero_phase)

    new_delta = F.col("delta") * F.lit(float(q))
    return ragged_series_op(
        df, fn, new_delta, by=by, dim=dim, value=value, keep_attrs=keep_attrs
    )


def resample(
    df: DataFrame,
    num: int,
    *,
    by: Sequence[str],
    dim: str,
    value: str = "value",
    window=None,
    domain: str = "time",
    keep_attrs: bool | None = None,
) -> DataFrame:
    """Fourier-method resample to exactly ``num`` samples per series.

    ``window`` is accepted for signature parity and not forwarded —
    the reference has the identical quirk (signal.py:374-400 accepts
    ``window`` and never passes it to scipy).

    ``domain='time'`` (default): ``value`` holds real time samples;
    output ``[*by, idx, value, <dim>, ...]`` with the recomputed
    coordinate ``offset + idx·(n_in·delta/num)`` — the sample spacing
    scales by n/num over the same span (fixes the reference's
    ``TODO: support t=None``, signal.py:383).

    ``domain='freq'`` (scipy signature parity, signal.py:374 forwards
    it): the input is already each series' FULL complex FFT spectrum in
    long form — twin ``re``/``im`` columns ordered by ``dim`` (e.g. the
    ``idx`` output of :func:`~xarray_scipy_spark.operators.fft`). The
    spectrum is resized with the same Nyquist fold/split and
    inverse-transformed; output ``[*by, idx, re, im, ...]`` is the
    complex time signal (imaginary part ~0 when the spectrum came from
    a real series). No time coordinate is emitted — the input's
    offset/delta describe the frequency axis, and scipy's freq-domain
    path likewise returns samples without a time vector.
    """
    del window  # reference-parity quirk: accepted, not forwarded
    if domain not in ("time", "freq"):
        raise ValueError(f"domain must be 'time' or 'freq', got {domain!r}")
    if domain == "freq":

        def fkernel(re_b, im_b):
            y = resample_fourier_freq(re_b + 1j * im_b, num)
            return {"re": y.real, "im": y.imag}

        return apply_series_kernel(
            df,
            fkernel,
            by=by,
            order=dim,
            values=["re", "im"],
            out_fields="re double, im double",
            keep=resolve_keep_attrs(df, keep_attrs),
        )

    def kernel(x):
        return {"value": resample_fourier(x, num)}

    res = apply_series_kernel(
        df,
        kernel,
        by=by,
        order=dim,
        values=[value],
        out_fields="value double",
        keep=resolve_keep_attrs(df, keep_attrs),
    )
    new_delta = F.col("n_in").cast("double") * F.col("delta") / F.lit(float(num))
    coord = linear_coord("idx", "offset", new_delta)
    return res.withColumn(dim, restore_coord_dtype(df, dim, coord))


def resample_poly(
    df: DataFrame,
    up: int,
    down: int,
    *,
    by: Sequence[str],
    dim: str,
    value: str = "value",
    keep_attrs: bool | None = None,
) -> DataFrame:
    """Rational-rate polyphase resampling (``scipy.signal.
    resample_poly`` with the default Hamming anti-aliasing filter and
    zero padding). Unlike the Fourier :func:`resample` this is a pure
    FIR pipeline — O(n·len(h)) per series, no length restriction, and
    streaming-friendly (the filter has finite support), which is the
    rate changer you want at 100 TB: the kernel cost is a short FIR
    per sample, not an FFT over the whole series.

    Output ``[*by, idx, value, <dim>, ...]`` with exactly
    ``ceil(n·up/down)`` rows per series and the recomputed coordinate
    ``offset + idx·delta·down/up`` (the reference's resample leaves
    coordinates TODO, signal.py:383).
    """
    up, down = int(up), int(down)
    if up < 1 or down < 1:
        raise ValueError("up and down must be >= 1")

    def fn(x, lengths):
        return resample_poly_ragged(x, lengths, up, down)

    g = gcd(up, down)
    new_delta = F.col("delta") * F.lit(float(down // g)) / F.lit(float(up // g))
    return ragged_series_op(
        df, fn, new_delta, by=by, dim=dim, value=value, keep_attrs=keep_attrs
    )


def upfirdn(
    df: DataFrame,
    h,
    *,
    by: Sequence[str],
    dim: str,
    up: int = 1,
    down: int = 1,
    value: str = "value",
    keep_attrs: bool | None = None,
) -> DataFrame:
    """Polyphase upsample-filter-downsample with an ARBITRARY FIR
    (``scipy.signal.upfirdn``): zero-stuff by ``up``, FULL convolution
    with ``h``, keep every ``down``-th sample — the primitive under
    :func:`resample_poly`, exposed for callers bringing their own
    filter (matched filters, fractional-delay banks). Output length
    ``ceil(((n-1)·up + len(h)) / down)`` per series; coordinate
    ``offset + idx·delta·down/up`` (the upsampled grid spacing).
    """
    h = np.atleast_1d(np.asarray(h, dtype=float))
    up, down = int(up), int(down)
    if up < 1 or down < 1:
        raise ValueError("up and down must be >= 1")

    def fn(x, lengths):
        return upfirdn_ragged(h, x, lengths, up, down)

    new_delta = F.col("delta") * F.lit(float(down)) / F.lit(float(up))
    return ragged_series_op(
        df, fn, new_delta, by=by, dim=dim, value=value, keep_attrs=keep_attrs
    )
