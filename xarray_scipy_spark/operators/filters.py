"""Stateful IIR filters: sosfilt / sosfiltfilt.

Reference: ``/root/reference/xarray_scipy/signal.py:403-461``. The
recursion is inherently sequential along the core dim; the reference's
answer is ``allow_rechunk=True`` (signal.py:422, 452) — force the whole
time axis into one block per series. Ours is the same concession made
explicit — one shuffle co-locates each full series — but batched: many
series share one bucket, the cascaded-biquad kernel runs once per
bucket over a right-zero-padded ragged batch, numpy-vectorized ACROSS
series, so the per-sample recursion loop is paid once per bucket, not
once per series (:func:`xarray_scipy_spark.core.apply_series_kernel`).

Scale path beyond reference parity (SURVEY.md §7 "hard parts"): for a
single series longer than worker memory, overlap-and-discard chunked
filtering with per-chunk ``zi`` handoff (the kernel returns final
state), or ``applyInPandasWithState`` under Structured Streaming
(:mod:`xarray_scipy_spark.streaming.stateful`).

The SOS coefficient matrix is tiny (n_sections × 6) and rides into the
UDF closure — the moral equivalent of a broadcast join against every
series (the reference aligns it against every slice the same way,
signal.py:415-418).

``zi``: the reference's ``zi`` pass-through is broken by construction
(scipy returns a (y, zf) tuple that violates the declared single output,
signal.py:417-419 — SURVEY.md §2.2 #16). Here ``zi`` IS supported: a
``(n_sections, 2)`` initial state applied to every series (the chunked
long-series scale path needs it); the final state is not emitted in the
long-form result (it is per-series, not per-sample — use the kernel
directly for chunk handoff).
"""

from __future__ import annotations

from collections.abc import Sequence

import numpy as np
from pyspark.sql import DataFrame

from ..core import (
    _BUCKET,
    _ddl,
    _default_buckets,
    _fields_of,
    _padded,
    _series_bounds,
    apply_series_kernel,
    map_groups,
    resolve_keep_attrs,
)
from ..functions.coords import linear_coord, restore_coord_dtype
from ..kernels.dsp import (
    _validate_padtype,
    filtfilt_ragged,
    lfilter_ragged,
    sosfilt_ragged,
    sosfiltfilt_ragged,
)

__all__ = [
    "sosfilt",
    "sosfiltfilt",
    "sosfilt_chunked",
    "sos_from_dataframe",
    "lfilter",
    "filtfilt",
]


def sos_from_dataframe(sos_df: DataFrame) -> np.ndarray:
    """Collect a (section, coefficient, value) long-form coefficient table
    (the reference's DataArray with dims ("section","coefficient"),
    signal.py:404-405) into the tiny numpy matrix the kernel needs.
    Coefficient tables are O(sections×6) — driver collection is the
    broadcast, not a bottleneck."""
    rows = sos_df.select("section", "coefficient", "value").collect()
    n_sections = 1 + max(r["section"] for r in rows)
    sos = np.zeros((n_sections, 6))
    for r in rows:
        sos[r["section"], r["coefficient"]] = r["value"]
    return sos


def _as_sos(sos) -> np.ndarray:
    if isinstance(sos, DataFrame):
        sos = sos_from_dataframe(sos)
    sos = np.atleast_2d(np.asarray(sos, dtype=float))
    if sos.shape[1] != 6:
        raise ValueError(f"sos must be (n_sections, 6), got {sos.shape}")
    return sos


def ragged_series_op(
    df: DataFrame, fn, spacing, *, by, dim, value, keep_attrs
) -> DataFrame:
    """Apply ``fn(x, lengths) -> (y, out_lengths)``, a ragged batch
    kernel over right-zero-padded ``(n_series, n_max)`` series
    (:func:`~xarray_scipy_spark.core.apply_series_kernel` with
    ``batch_ragged``: one call per bucket, whatever lengths it mixes),
    to each series of ``value`` along ``dim``.

    Output ``[*by, idx, value, <dim>, n_in, offset, delta]``; the
    coordinate is ``offset + idx·spacing`` in ``dim``'s own type.
    """

    def kernel(x, lengths):
        y, out_lengths = fn(x, lengths)
        return {"value": y, "__lengths__": out_lengths}

    kernel.batch_ragged = True
    res = apply_series_kernel(
        df,
        kernel,
        by=by,
        order=dim,
        values=[value],
        out_fields="value double",
        keep=resolve_keep_attrs(df, keep_attrs),
    )
    coord = linear_coord("idx", "offset", spacing)
    return res.withColumn(dim, restore_coord_dtype(df, dim, coord))


def sosfilt(
    sos,
    df: DataFrame,
    *,
    by: Sequence[str],
    dim: str,
    value: str = "value",
    zi=None,
    keep_attrs: bool | None = None,
) -> DataFrame:
    """Forward IIR filter in second-order-sections form along ``dim``.

    ``zi``: optional ``(n_sections, 2)`` initial conditions applied to
    each series (scipy's per-series zi shape, broadcast across series).

    Output ``[*by, idx, value, <dim>, n_in, offset, delta]``, length
    preserved, coordinate passed through as ``offset + idx·delta``.
    """
    sos = _as_sos(sos)
    if zi is not None:
        zi = np.asarray(zi, dtype=float)
        if zi.shape != (sos.shape[0], 2):
            raise ValueError(
                f"zi must have shape (n_sections, 2) = {(sos.shape[0], 2)}, "
                f"got {zi.shape}"
            )

    def fn(x, lengths):
        return sosfilt_ragged(sos, x, lengths, zi=zi)[0], lengths

    return ragged_series_op(
        df, fn, "delta", by=by, dim=dim, value=value, keep_attrs=keep_attrs
    )


def sosfiltfilt(
    sos,
    df: DataFrame,
    *,
    by: Sequence[str],
    dim: str,
    value: str = "value",
    padtype: str | None = "odd",
    padlen: int | None = None,
    keep_attrs: bool | None = None,
) -> DataFrame:
    """Zero-phase forward-backward IIR filter (signal.py:433-461).

    ``padtype``/``padlen`` follow scipy: 'odd' (default), 'even',
    'constant', or None (no edge extension, padlen forced to 0); a
    negative ``padlen`` extends nothing — the reference forwards both
    kwargs to scipy verbatim."""
    _validate_padtype(padtype)  # fail at call time, not inside the UDF
    sos = _as_sos(sos)

    # edge extension, both recursion passes and the per-row reversals
    # all run once per bucket (kernels.dsp.sosfiltfilt_ragged)
    def fn(x, lengths):
        return sosfiltfilt_ragged(sos, x, lengths, padlen, padtype), lengths

    return ragged_series_op(
        df, fn, "delta", by=by, dim=dim, value=value, keep_attrs=keep_attrs
    )


def sosfilt_chunked(
    sos,
    df: DataFrame,
    *,
    by: Sequence[str],
    dim: str,
    value: str = "value",
    chunk_rows: int = 4096,
    buckets: int | None = None,
) -> DataFrame:
    """Causal SOS filter for series too long for one worker: sequential
    chunk passes with per-series ``zi`` handoff (the batch twin of
    :func:`~xarray_scipy_spark.streaming.sosfilt_stream`).

    The series splits into ``chunk_rows``-sample chunks; pass ``c``
    filters chunk ``c`` of EVERY series in parallel (bucket-batched,
    vectorized across series), seeded with the section states the
    previous pass left. The state — O(n_series × n_sections × 2)
    doubles, independent of series length — hands off between passes
    as a cogrouped DataFrame on the SAME bucket keys (r7: it
    previously transited the driver via a per-pass ``collect()``,
    O(n_series) driver memory; now the driver only sequences the loop
    and per-worker memory is bounded by ``chunk_rows``, never the
    series length or count). Each pass is ``localCheckpoint``-
    truncated so the lineage stays O(1) deep per pass instead of
    compounding. (The whole-series ``sosfilt`` inherits the
    reference's one-series-per-worker concession, signal.py:422.)
    Results are sample-for-sample identical to whole-series
    :func:`sosfilt` (the recursion is exact, not windowed). Wall-clock
    is ``n_chunks`` sequential cluster passes — the price of the
    recursion's data dependency; with BOTH millions of series and
    unbounded length, use the streaming variant whose state store is
    distributed.

    Output: ``[*by, <dim>, idx, value]`` (``idx`` = global sample
    position per series).
    """
    import pandas as pd
    from pyspark.sql import Window, functions as F

    sos = _as_sos(sos)
    n_sections = sos.shape[0]
    by = list(by)
    w = Window.partitionBy(*by).orderBy(dim)
    dfc = (
        df.withColumn("__pos__", F.row_number().over(w) - 1)
        .withColumn("__chunk__", F.expr(f"__pos__ div {int(chunk_rows)}"))
        .persist()
    )
    max_chunk = dfc.agg(F.max("__chunk__").alias("m")).collect()[0]["m"]
    fields = {**_fields_of(df, by + [dim]), "idx": "bigint", "value": "double"}
    if max_chunk is None:
        dfc.unpersist()
        return df.sparkSession.createDataFrame([], _ddl(fields))
    n_buckets = buckets if buckets is not None else _default_buckets(df)
    bucket = F.pmod(F.xxhash64(*by), F.lit(n_buckets)) if by else F.lit(0)

    # cogrouped signature: left = this pass's chunk rows, right = the
    # per-series section states the previous pass left (empty on pass
    # 0). Both sides group on the same xxhash64 bucket, so the state
    # rows land on the worker that already holds the series — the
    # handoff never touches the driver.
    def run(pdf: pd.DataFrame, st_pdf: pd.DataFrame) -> dict:
        # a NULL bigint key arrives as NaN and NaN != NaN: map every
        # NULL to None so two NULL keys are one series, as in
        # core._series_bounds
        def key(vals):
            return tuple(None if pd.isna(v) else v for v in vals)

        _st = {
            key(r[k] for k in by): np.asarray(r["zf"]).reshape(n_sections, 2)
            for _, r in st_pdf.iterrows()
        }
        pdf = pdf.sort_values(by + ["__pos__"], kind="mergesort")
        starts, ends = _series_bounds(pdf, by)
        lengths = ends - starts
        keys = [pdf[k].to_numpy() for k in by]
        zi = np.stack(
            [
                _st.get(key(a[i] for a in keys), np.zeros((n_sections, 2)))
                for i in starts
            ]
        )
        # one ragged pass: zf is each row's state at its own last sample
        (block,), mask = _padded([pdf[value].to_numpy(dtype=float)], starts, lengths)
        y, zf = sosfilt_ragged(sos, block, lengths, zi=zi)
        zf_col = np.full(len(pdf), None, dtype=object)
        for r, z in zip(ends - 1, zf):
            zf_col[r] = z.ravel().tolist()
        return {
            **{c: pdf[c].to_numpy() for c in by + [dim]},
            "idx": pdf["__pos__"].to_numpy(),
            "value": y[mask],
            "zf": zf_col,
        }

    zf = {"zf": "array<double>"}
    state_df = df.sparkSession.createDataFrame([], _ddl({**_fields_of(df, by), **zf}))
    parts: list[DataFrame] = []
    for c in range(int(max_chunk) + 1):
        left = dfc.filter(F.col("__chunk__") == c).withColumn(_BUCKET, bucket)
        right = state_df.withColumn(_BUCKET, bucket)
        # eager localCheckpoint: materializes this pass (the recursion
        # is sequential anyway) and truncates the lineage so pass c+1
        # plans against stored partitions, not a c-deep DAG
        out = map_groups([left, right], [_BUCKET], run, {**fields, **zf}).localCheckpoint()
        state_df = out.filter("zf IS NOT NULL").select(*by, "zf")
        parts.append(out.select(*by, dim, "idx", "value"))
    # every pass is already materialized (eager checkpoints), so the
    # chunked source cache can go immediately
    dfc.unpersist()
    res = parts[0]
    for p in parts[1:]:
        res = res.unionByName(p)
    return res


def lfilter(
    b,
    a,
    df: DataFrame,
    *,
    by: Sequence[str],
    dim: str,
    value: str = "value",
    zi=None,
    keep_attrs: bool | None = None,
) -> DataFrame:
    """Causal IIR/FIR filter in transfer-function (b, a) form along
    ``dim`` (``scipy.signal.lfilter`` semantics — the (b, a) surface
    the reference's sos-only wrappers stop short of). Same bucketed
    ragged-batch plan as :func:`sosfilt`: one co-locating exchange,
    the direct-form-II-transposed recursion numpy-vectorized across
    every series of a bucket. ``zi``: optional length
    ``max(len(a), len(b)) - 1`` initial state applied to each series.
    """
    b = np.atleast_1d(np.asarray(b, dtype=float))
    a = np.atleast_1d(np.asarray(a, dtype=float))
    if a[0] == 0.0:
        raise ValueError("a[0] must be nonzero")
    ns = max(len(a), len(b)) - 1
    if zi is not None:
        zi = np.asarray(zi, dtype=float)
        if zi.shape != (ns,):
            raise ValueError(f"zi must have shape ({ns},), got {zi.shape}")

    def fn(x, lengths):
        return lfilter_ragged(b, a, x, lengths, zi=zi)[0], lengths

    return ragged_series_op(
        df, fn, "delta", by=by, dim=dim, value=value, keep_attrs=keep_attrs
    )


def filtfilt(
    b,
    a,
    df: DataFrame,
    *,
    by: Sequence[str],
    dim: str,
    value: str = "value",
    padtype: str | None = "odd",
    padlen: int | None = None,
    keep_attrs: bool | None = None,
) -> DataFrame:
    """Zero-phase forward-backward (b, a) filter
    (``scipy.signal.filtfilt`` pad-method semantics: odd/even/constant/
    None edge extension, none either for a negative ``padlen``;
    steady-state ``lfilter_zi`` seeding). Same one-exchange
    ragged-batch plan as :func:`sosfiltfilt`."""
    _validate_padtype(padtype)
    b = np.atleast_1d(np.asarray(b, dtype=float))
    a = np.atleast_1d(np.asarray(a, dtype=float))
    if a[0] == 0.0:
        raise ValueError("a[0] must be nonzero")

    def fn(x, lengths):
        return filtfilt_ragged(b, a, x, lengths, padlen, padtype), lengths

    return ragged_series_op(
        df, fn, "delta", by=by, dim=dim, value=value, keep_attrs=keep_attrs
    )
