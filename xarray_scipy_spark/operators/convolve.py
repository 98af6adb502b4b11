"""Convolution operators.

Reference: ``convolve``/``fftconvolve``/``_convolve`` at
``/root/reference/xarray_scipy/signal.py:34-106``.

Two physical strategies, chosen by the caller (the engine's only
"optimizer-like" decision, SURVEY.md §4):

- :func:`fftconvolve` — two distributed signals, co-located by ONE
  shuffle on the broadcast dims (``cogroup().applyInPandas``) and
  convolved per group with the FFT kernel. This is the general path and
  the scale path: both inputs stream through the same hash exchange, no
  driver collection, no broadcast of either side. :func:`correlate`
  runs the same kernel with the second input reversed and conjugated
  (scipy's ``correlate(x, y) = convolve(x, conj(y[::-1]))``), so the
  two share one plan and one body (``_fft_pair``).
- :func:`convolve_fir` — a small fixed FIR tap vector against a big
  signal: PURE SQL window dot-product (lag/lead), fully
  whole-stage-codegen'd, zero Python. At 100 TB this is the one to use
  for small kernels: it is a single window exchange and pipelines with
  neighbouring window ops.

Mode semantics (reference signal.py:71-78): full -> n1+n2-1,
same -> n1 (centered), valid -> max-min+1 (the fully-overlapped lags;
the reference's own valid path is broken, its ``_compute_output_size``
returns the NotImplemented constant). Like the reference
(``exclude_dims=set(dims)`` at signal.py:99 drops the coords), the
convolved dim has no coordinate column — callers can rebuild one with
:func:`~xarray_scipy_spark.functions.coords.linear_coord`.

The reference's ``method`` parameter quirk: accepted but silently
ignored — execution is always FFT-based (signal.py:88-91 forwards only
mode/axes). We keep the argument for API parity and honour it the same
way (documented, not silent).
"""

from __future__ import annotations

from collections.abc import Sequence

import numpy as np
from pyspark.sql import DataFrame, Window, functions as F

from ..core import apply_cogrouped_kernel, apply_series_kernel, resolve_keep_attrs
from ..kernels.dsp import fftconvolve_1d, fftconvolve_nd as _fftconvolve_nd_kernel

__all__ = [
    "convolve",
    "correlate",
    "deconvolve",
    "fftconvolve",
    "fftconvolve_nd",
    "convolve_fir",
]


def _fft_pair(
    df1, df2, *, by, dim, value1, value2, mode, keep_attrs, im1, im2, flip
) -> DataFrame:
    """The one cogrouped FFT kernel behind :func:`fftconvolve` and
    :func:`correlate`: ``flip`` reverses and conjugates the second
    input, the scipy definition ``correlate(x, y) = convolve(x,
    conj(y[::-1]))``. A complex side (``im1``/``im2``) switches the
    output to twin ``re``/``im`` columns."""
    if mode not in ("full", "same", "valid"):
        raise ValueError(f"mode must be full|same|valid, got {mode!r}")
    cplx = im1 is not None or im2 is not None
    n1 = 1 if im1 is None else 2

    def kernel(coords1, *rest):
        a1, a2 = rest[:n1], rest[n1 + 1 :]
        x = a1[0] if im1 is None else a1[0] + 1j * a1[1]
        y = a2[0] if im2 is None else a2[0] + 1j * a2[1]
        out = fftconvolve_1d(x, np.conj(y[::-1]) if flip else y, mode=mode)
        if cplx:
            return {"re": out.real.astype(float), "im": out.imag.astype(float)}
        return {"value": out}

    return apply_cogrouped_kernel(
        df1,
        df2,
        kernel,
        by=by,
        order1=dim,
        order2=dim,
        values1=[value1] + ([im1] if im1 is not None else []),
        values2=[value2] + ([im2] if im2 is not None else []),
        out_fields="re double, im double" if cplx else "value double",
        keep=resolve_keep_attrs(df1, keep_attrs),
    )


def fftconvolve(
    df1: DataFrame,
    df2: DataFrame,
    *,
    by: Sequence[str],
    dim: str,
    value1: str = "value",
    value2: str = "value",
    mode: str = "full",
    keep_attrs: bool | None = None,
    im1: str | None = None,
    im2: str | None = None,
) -> DataFrame:
    """FFT-based convolution of two long-form signals per group.

    Output: ``[*by, idx, value, n_in, offset, delta]``; length per group
    is n1+n2-1 (full), n1 (same), or max-min+1 (valid — the reference's
    own valid path is broken, signal.py:77 returns the NotImplemented
    constant as a size; here it computes the fully-overlapped lags).
    ``keep_attrs`` propagates input 1's ``attrs`` sidecar (reference
    signal.py:10-13 semantics).

    Complex inputs: pass the imaginary-part column as ``im1``/``im2``
    (twin re/im columns, the engine's complex convention — same as the
    FFT family). The reference feeds ``complex128`` arrays straight
    through scipy (signal.py:84); here either side may be complex
    independently, and the output switches to twin ``re``/``im``
    columns whenever one is.
    """
    return _fft_pair(
        df1, df2, by=by, dim=dim, value1=value1, value2=value2, mode=mode,
        keep_attrs=keep_attrs, im1=im1, im2=im2, flip=False,
    )


def fftconvolve_nd(
    df1: DataFrame,
    df2: DataFrame,
    *,
    by: Sequence[str],
    dims: Sequence[str],
    value1: str = "value",
    value2: str = "value",
    mode: str = "full",
) -> DataFrame:
    """N-dimensional convolution over several core dims per group — the
    reference's multi-core-dim path (``fftconvolve(..., dims=[...])``
    spanning >1 dimension, signal.py:41-48, 62-63, 81-105).

    Each input is long-form ``[*by, *dims, value]`` holding a COMPLETE
    dense grid per group (every (d1, ..., dk) combination present —
    the dense-array contract a DataArray block satisfies by
    construction). Output: one row per output cell,
    ``[*by, <dim>_idx per dim, value, n_in, offset, delta]``; per-axis
    length n1+n2-1 (full) or n1 (same, centered). Like the reference
    (``exclude_dims``, signal.py:99), convolved dims carry positional
    indices, not coordinates.
    """
    dims = list(dims)
    if mode not in ("full", "same", "valid"):
        raise ValueError(f"mode must be full|same|valid, got {mode!r}")
    k = len(dims)

    def kernel(*args):
        # layout per apply_cogrouped_kernel: (coords1, *values1, coords2,
        # *values2) with values = [*dims, value] -> k dim columns + data
        dimcols1, x = args[1 : 1 + k], args[1 + k]
        dimcols2, y = args[3 + k : 3 + 2 * k], args[3 + 2 * k]

        def to_grid(dimcols, data):
            shape = [len(np.unique(c)) for c in dimcols]
            if int(np.prod(shape)) != data.size:
                raise ValueError(
                    f"group is not a complete dense grid: shape {shape} "
                    f"vs {data.size} rows"
                )
            # rows arrive sorted by dims (order=...), i.e. C-order
            return data.reshape(shape)

        out = _fftconvolve_nd_kernel(to_grid(dimcols1, x), to_grid(dimcols2, y), mode=mode)
        grids = np.indices(out.shape)
        res = {f"{d}_idx": grids[i].ravel().astype(np.int64) for i, d in enumerate(dims)}
        res["value"] = out.ravel()
        return res

    idx_fields = ", ".join(f"{d}_idx bigint" for d in dims)
    return apply_cogrouped_kernel(
        df1,
        df2,
        kernel,
        by=by,
        order1=dims,
        order2=dims,
        values1=[*dims, value1],
        values2=[*dims, value2],
        out_fields=f"{idx_fields}, value double",
        emit_idx=False,
    )


def convolve(
    df1: DataFrame,
    df2: DataFrame,
    *,
    by: Sequence[str],
    dim: str,
    value1: str = "value",
    value2: str = "value",
    mode: str = "full",
    method: str = "auto",
    keep_attrs: bool | None = None,
    im1: str | None = None,
    im2: str | None = None,
) -> DataFrame:
    """Reference-parity ``convolve`` (signal.py:34-38): a shim over the
    FFT path. ``method`` is accepted for signature parity and ignored,
    matching the reference quirk (signal.py:88-91)."""
    del method  # always FFT-based, like the reference actually is
    return fftconvolve(
        df1, df2, by=by, dim=dim, value1=value1, value2=value2, mode=mode,
        keep_attrs=keep_attrs, im1=im1, im2=im2,
    )


def convolve_fir(
    df: DataFrame,
    taps: Sequence[float],
    *,
    by: Sequence[str],
    dim: str,
    value: str = "value",
    out: str = "value_conv",
) -> DataFrame:
    """'same'-mode convolution with a small FIR tap vector as a pure-SQL
    window dot-product (zero-padded edges). ``y[i] = Σ_j h[j]·x[i-j+c]``
    with ``c = (len(h)-1)//2``."""
    taps = [float(t) for t in taps]
    m = len(taps)
    if m == 0:
        raise ValueError("taps must be non-empty")
    center = (m - 1) // 2
    w = Window.partitionBy(*by).orderBy(dim)
    acc = F.lit(0.0)
    for j, h in enumerate(taps):
        k = center - j  # positive -> later sample (lead), negative -> lag
        if k > 0:
            shifted = F.lead(value, k, 0.0).over(w)
        elif k < 0:
            shifted = F.lag(value, -k, 0.0).over(w)
        else:
            shifted = F.col(value)
        acc = acc + F.lit(h) * shifted
    return df.withColumn(out, acc)


def correlate(
    df1: DataFrame,
    df2: DataFrame,
    *,
    by: Sequence[str],
    dim: str,
    value1: str = "value",
    value2: str = "value",
    mode: str = "full",
    keep_attrs: bool | None = None,
    im1: str | None = None,
    im2: str | None = None,
) -> DataFrame:
    """Cross-correlation of two long-form signals per group — the scipy
    ``signal.correlate`` surface the reference stops short of (it wraps
    only the convolution pair, signal.py:34-106; correlation is the
    same kernel family: ``correlate(x, y) = convolve(x, conj(y[::-1]))``).

    Same physical plan as :func:`fftconvolve` — ONE co-locating shuffle
    of both inputs on the broadcast dims, FFT kernel per group, no
    broadcast/collect of either side — so the scale story is identical.
    Output lag ``idx`` runs 0..n1+n2-2 for ``mode='full'`` (lag
    ``idx-(n2-1)`` in signal terms), matching scipy's output ordering.
    Complex inputs via twin re/im columns (``im1``/``im2``); the second
    input is conjugated, as scipy does.
    """
    return _fft_pair(
        df1, df2, by=by, dim=dim, value1=value1, value2=value2, mode=mode,
        keep_attrs=keep_attrs, im1=im1, im2=im2, flip=True,
    )


def deconvolve(
    df: DataFrame,
    divisor,
    *,
    by: Sequence[str],
    dim: str,
    value: str = "value",
    keep_attrs: bool | None = None,
) -> DataFrame:
    """Per-series polynomial deconvolution by a FIXED divisor kernel
    (``scipy.signal.deconvolve`` semantics): quotient + remainder such
    that ``conv(divisor, quotient) + remainder == signal`` exactly.

    scipy computes the quotient as ``lfilter(signal, divisor,
    impulse)``; the identical power-series division is
    ``lfilter([1], divisor, signal)`` truncated to ``n − d + 1``
    samples, which is what the ragged lfilter kernel already batches —
    so one exchange deconvolves every series, and the remainder is one
    FIR convolution of the truncated quotient.

    Output: ``[*by, idx, quotient, remainder, <dim>, ...]``, one row
    per input sample; ``quotient`` is 0.0 beyond its ``n − d + 1``
    valid samples (the remainder carries everything past that point).
    Series shorter than the divisor have an all-zero quotient and
    ``remainder == signal`` (scipy raises instead; documented
    divergence — per-series raising is not actionable mid-job).
    """
    from ..functions.coords import linear_coord, restore_coord_dtype
    from ..kernels.dsp import lfilter_ragged

    divisor = np.atleast_1d(np.asarray(divisor, dtype=float))
    if divisor[0] == 0.0:
        raise ValueError("divisor[0] must be nonzero")
    d = len(divisor)

    def kernel(x, lengths):
        quot_full, _ = lfilter_ragged([1.0], divisor, x, lengths)
        n_max = x.shape[1]
        t = np.arange(n_max)[None, :]
        nq = np.maximum(lengths - d + 1, 0)[:, None]
        quot = np.where(t < nq, quot_full, 0.0)
        rem = x - fftconvolve_1d(quot, divisor, mode="full")[:, :n_max]
        t_mask = t < lengths[:, None]
        return {
            "quotient": np.where(t_mask, quot, 0.0),
            "remainder": np.where(t_mask, rem, 0.0),
            "__lengths__": lengths,
        }

    kernel.batch_ragged = True

    res = apply_series_kernel(
        df,
        kernel,
        by=by,
        order=dim,
        values=[value],
        out_fields="quotient double, remainder double",
        keep=resolve_keep_attrs(df, keep_attrs),
    )
    coord = linear_coord("idx", "offset", "delta")
    return res.withColumn(dim, restore_coord_dtype(df, dim, coord))
