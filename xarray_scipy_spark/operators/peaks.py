"""Peak width measurement: signal ⋈ peak-indices per group.

Reference: ``peak_widths`` at ``/root/reference/xarray_scipy/signal.py:
330-371`` — marked ``# TODO: BROKEN`` in the reference itself
(signal.py:346); this implementation is designed working and validated
on the reference's own golden binary-track fixtures
(tests/test_signal.py:110-331, re-derived in FIXTURES.md §3).

The two inputs (signal with core dim ``dim``, peak positions with core
dim ``peak``) share the broadcast dims; one cogrouped shuffle co-locates
them exactly like the reference's implicit alignment (signal.py:353-360).
"""

from __future__ import annotations

from collections.abc import Sequence

import numpy as np
from pyspark.sql import DataFrame

from ..core import _fields_of, apply_cogrouped_kernel, map_groups, resolve_keep_attrs
from ..kernels.peaks import peak_widths as _peak_widths_np

__all__ = ["find_peaks", "peak_prominences", "peak_widths"]


def peak_widths(
    xdf: DataFrame,
    peaks_df: DataFrame,
    *,
    by: Sequence[str],
    dim: str,
    value: str = "value",
    peak: str = "peak",
    index: str = "index",
    rel_height: float = 0.5,
    wlen: int | None = None,
    keep_attrs: bool | None = None,
) -> DataFrame:
    """Width of each listed peak at ``rel_height`` of its prominence.

    ``wlen`` bounds the window used for prominence bases (forwarded to
    the kernel — the reference forwards arbitrary ``**kwargs`` to scipy
    at signal.py:330/369; ``rel_height`` and ``wlen`` are the complete
    scipy.signal.peak_widths keyword surface).

    ``xdf``: long-form signal ``[*by, dim, value]``; ``peaks_df``: peak
    positions ``[*by, peak, index]`` (``index`` = sample position of the
    peak along ``dim``). Output one row per peak:
    ``[*by, idx, peak, width, width_height, left_ip, right_ip, ...]`` —
    the four scipy outputs as columns (reference returns four arrays on
    the "peak" core dim, signal.py:362-367).
    """

    def kernel(coords_x, x, coords_p, peak_ids, indices):
        widths, heights, lips, rips = _peak_widths_np(
            x, indices.astype(np.intp), rel_height=rel_height, wlen=wlen
        )
        return {
            "peak": peak_ids.astype(np.int64),
            "width": widths,
            "width_height": heights,
            "left_ip": lips,
            "right_ip": rips,
        }

    return apply_cogrouped_kernel(
        xdf,
        peaks_df,
        kernel,
        by=by,
        order1=dim,
        order2=peak,
        values1=[value],
        values2=[peak, index],
        out_fields="peak bigint, width double, width_height double, "
        "left_ip double, right_ip double",
        keep=resolve_keep_attrs(xdf, keep_attrs),
    )


def find_peaks(
    df: DataFrame,
    *,
    by: Sequence[str],
    dim: str,
    value: str = "value",
    height: float | None = None,
    threshold: float | None = None,
    distance: int | None = None,
    prominence: float | None = None,
    width: float | None = None,
    wlen: int | None = None,
    rel_height: float = 0.5,
) -> DataFrame:
    """Detect strict local maxima per series — the upstream producer for
    :func:`peak_widths` (the reference leaves detection to callers, who
    run ``scipy.signal.find_peaks``; an engine user needs it in-engine).

    Pure Catalyst windows, no UDF, one shuffle (the window sort on the
    series key), with FULL scipy semantics including flat-top peaks:
    a maximal equal-value run is a peak when the immediately preceding
    and following values are both strictly lower, and the emitted
    sample is the run's midpoint ``(left_edge + right_edge) // 2`` —
    exactly ``scipy.signal.find_peaks``'s ``_local_maxima_1d``. Run
    bounds and neighbor-run values come from running
    ``last(..., ignorenulls)`` frames over the series in sample order
    (looking back) and in reverse ``index`` order (looking ahead),
    both within the same partitioning, so plateau support costs a
    local sort but no extra exchange. Series edges
    never qualify (matches scipy). Optional scipy-style filters:
    ``height`` keeps peaks with ``value >= height``; ``threshold``
    requires ``min(value - left, value - right) >= threshold``
    evaluated at the midpoint sample (so any positive threshold drops
    interior plateau midpoints, whose immediate neighbors are equal —
    scipy behaves the same); ``distance`` applies scipy's greedy
    minimal-separation selection (highest peak first, neighbors closer
    than ``distance`` samples dropped; among equal heights the
    later-index peak wins, matching the stable argsort in scipy's
    ``_select_by_peak_distance``). Distance selection is inherently
    sequential, so it runs as a grouped Arrow kernel — but over the
    PEAKS frame only (a few rows per series), never the samples, so
    the Python cost is proportional to peaks found, not data scanned.

    Output: ``[*by, peak, index, <dim>, <value>]`` with ``peak`` the
    0-based rank of the peak within its series (the ``"peak"`` core dim
    of the reference's contract) and ``index`` its 0-based sample
    position along ``dim`` — exactly the frame :func:`peak_widths`
    consumes.
    """
    from pyspark.sql import Window, functions as F

    by = list(by)
    w = Window.partitionBy(*by).orderBy(dim)
    past = w.rowsBetween(Window.unboundedPreceding, 0)
    # the look-ahead runs as a running frame in reverse order: Spark
    # recomputes a frame that ends at unboundedFollowing for every row,
    # O(n^2) per series
    future = (
        Window.partitionBy(*by)
        .orderBy(F.col("index").desc())
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    v = F.col(value)
    lagv = F.lag(value, 1).over(w)
    leadv = F.lead(value, 1).over(w)
    pos = F.row_number().over(w) - 1
    ser = (
        df.withColumn("index", pos)
        .withColumn("__xl__", lagv)
        .withColumn("__xr__", leadv)
    )
    xl, xr = F.col("__xl__"), F.col("__xr__")
    run_first = xl.isNull() | (v != xl)  # first row of its equal-run
    run_last = xr.isNull() | (v != xr)  # last row of its equal-run
    idx = F.col("index")
    # the look-back frames get their own step, so they run on the sort
    # that numbered `index` and rows tied in `dim` keep index order
    ser = ser.withColumns(
        {
            "__rs__": F.last(F.when(run_first, idx), True).over(past),
            "__pv__": F.last(F.when(v != xl, xl), True).over(past),
        }
    )
    run_start, prev_val = F.col("__rs__"), F.col("__pv__")
    run_end = F.last(F.when(run_last, idx), True).over(future)
    next_val = F.last(F.when(v != xr, xr), True).over(future)
    cond = (
        (prev_val < v)
        & (next_val < v)
        & (idx == F.floor((run_start + run_end) / 2))
    )
    if height is not None:
        cond = cond & (v >= F.lit(float(height)))
    if threshold is not None:
        cond = cond & (F.least(v - xl, v - xr) >= F.lit(float(threshold)))
    ser = ser.withColumn("__is_peak__", cond).drop("__xl__", "__xr__", "__rs__", "__pv__")
    wp = Window.partitionBy(*by).orderBy("index")
    peaks = ser.filter(F.col("__is_peak__")).select(*by, "index", dim, value)
    if distance is not None:
        if distance < 1:
            raise ValueError(f"distance must be >= 1, got {distance}")
        dist = int(distance)
        val_col = value

        def sel(pdf):
            pdf = pdf.sort_values("index")
            idx = pdf["index"].to_numpy()
            h = pdf[val_col].to_numpy()
            keep = np.ones(len(idx), dtype=bool)
            for j in np.argsort(h, kind="stable")[::-1]:
                if not keep[j]:
                    continue
                k = j - 1
                while k >= 0 and idx[j] - idx[k] < dist:
                    keep[k] = False
                    k -= 1
                k = j + 1
                while k < len(idx) and idx[k] - idx[j] < dist:
                    keep[k] = False
                    k += 1
            return {c: pdf[c].to_numpy()[keep] for c in pdf.columns}

        peaks = map_groups([peaks], by, sel, _fields_of(peaks, peaks.columns))
    out = peaks.withColumn("peak", F.row_number().over(wp) - 1).select(
        *by, "peak", "index", dim, value
    )
    # scipy's remaining filters compose from the trio's own kernels,
    # applied in scipy's order (prominence, then width) on the
    # survivors of the cheaper filters above; each re-ranks so `peak`
    # stays contiguous. Like `distance`, the kernels run over the
    # peaks frame, not the samples.
    if prominence is not None:
        proms = peak_prominences(
            df, out, by=by, dim=dim, value=value, wlen=wlen
        ).select(*by, "peak", "prominence")
        out = (
            out.join(proms, [*by, "peak"])
            .filter(F.col("prominence") >= F.lit(float(prominence)))
            .drop("prominence")
            .withColumn("peak", F.row_number().over(wp) - 1)
        )
    if width is not None:
        widths = peak_widths(
            df,
            out,
            by=by,
            dim=dim,
            value=value,
            rel_height=rel_height,
            wlen=wlen,
        ).select(*by, "peak", "width")
        out = (
            out.join(widths, [*by, "peak"])
            .filter(F.col("width") >= F.lit(float(width)))
            .drop("width")
            .withColumn("peak", F.row_number().over(wp) - 1)
        )
    return out.select(*by, "peak", "index", dim, value)


def peak_prominences(
    xdf: DataFrame,
    peaks_df: DataFrame,
    *,
    by: Sequence[str],
    dim: str,
    value: str = "value",
    peak: str = "peak",
    index: str = "index",
    wlen: int | None = None,
    keep_attrs: bool | None = None,
) -> DataFrame:
    """Prominence of each listed peak plus its left/right base
    positions (``scipy.signal.peak_prominences`` — the third member of
    the peaks trio, which ``peak_widths`` consumes internally; exposed
    because prominence is the standard peak-ranking signal on its
    own). Same cogrouped one-shuffle plan and input contract as
    :func:`peak_widths`; output one row per peak:
    ``[*by, idx, peak, prominence, left_base, right_base, ...]``."""
    from ..kernels.peaks import peak_prominences as _prom_np

    def kernel(coords_x, x, coords_p, peak_ids, indices):
        proms, lbs, rbs = _prom_np(x, indices.astype(np.intp), wlen=wlen)
        return {
            "peak": peak_ids.astype(np.int64),
            "prominence": proms,
            "left_base": np.asarray(lbs, dtype=np.int64),
            "right_base": np.asarray(rbs, dtype=np.int64),
        }

    return apply_cogrouped_kernel(
        xdf,
        peaks_df,
        kernel,
        by=by,
        order1=dim,
        order2=peak,
        values1=[value],
        values2=[peak, index],
        out_fields="peak bigint, prominence double, left_base bigint, "
        "right_base bigint",
        keep=resolve_keep_attrs(xdf, keep_attrs),
    )
