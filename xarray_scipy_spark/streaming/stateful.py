"""Stateful streaming twins of batch operators: ``sosfilt``, ``stft``
and ``gapfill`` over an unbounded stream with per-series state carry.

Why this exists (SURVEY.md §7 "hard parts"): the batch ``sosfilt``
inherits the reference's ``allow_rechunk`` concession (whole series in
one worker's memory, ``/root/reference/xarray_scipy/signal.py:422``).
For a series longer than memory — or one that never ends — the cascaded
biquad recursion must instead run *incrementally*: filter each arriving
chunk with the section states (``zi``) left by the previous chunk. The
kernel already returns its final state (``kernels.dsp.sosfilt_1d``);
the STFT carries its partial trailing frame and gapfill its last
observation the same way. Each twin is one ``step`` function over the
batch code (``sosfilt_1d``, ``spectral._frames``, the gapfill
interpolation); :func:`_run_stateful` runs all three through Structured
Streaming's ``applyInPandasWithState`` so Spark manages state storage,
recovery and group routing. Each result is sample-for-sample identical
to the batch operator applied to the fully materialized series
(asserted in ``tests/test_streaming.py``), provided each series' rows
arrive in nondecreasing ``dim`` order across micro-batches — the usual
event-time-ordered ingestion contract.

At scale: state per key is O(n_sections × 2) doubles for ``sosfilt``,
under one frame for ``stft`` and four scalars for ``gapfill``; the
per-batch work is the same vectorized kernel as batch mode. No shuffle
beyond the groupBy exchange each micro-batch.
"""

from __future__ import annotations

from collections.abc import Callable, Iterator, Sequence

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from ..core import _ddl, _fields_of
from ..kernels.dsp import sosfilt_1d
from ..operators.spectral import _frames, _hop, window_taps

__all__ = ["sosfilt_stream", "stft_stream", "gapfill_stream"]


def _run_stateful(
    sdf: DataFrame,
    *,
    by: Sequence[str],
    dim: str,
    out_fields: str,
    state_ddl: str,
    step: Callable[[pd.DataFrame, tuple | None], tuple[dict | None, tuple]],
) -> DataFrame:
    """Run ``step`` once per series and micro-batch, with Spark-managed
    state (``applyInPandasWithState``, append mode, no timeout).

    ``step(pdf, state)`` gets the series' rows of this micro-batch as
    one frame sorted by ``dim`` and the state tuple the previous batch
    left (``None`` on the first). It returns ``(columns, new_state)``:
    ``columns`` is a dict of output arrays in ``out_fields`` order, or
    ``None`` to emit nothing. The key columns ``by`` lead every output
    row, typed as in ``sdf``.
    """
    by = list(by)

    def fn(key, pdfs: Iterator[pd.DataFrame], state: GroupState) -> Iterator[pd.DataFrame]:
        # Arrow chunks within one micro-batch arrive unordered; the
        # recursions need the batch's full sample sequence, so gather
        # and sort once (same memory bound as one batch's worth of the
        # series — the incremental point is across batches).
        pdf = pd.concat(list(pdfs), ignore_index=True).sort_values(dim, kind="mergesort")
        cols, new_state = step(pdf, state.get if state.exists else None)
        state.update(new_state)
        if cols is not None:
            yield pd.DataFrame({**dict(zip(by, key)), **cols})

    return sdf.groupBy(*by).applyInPandasWithState(
        fn,
        outputStructType=", ".join(f for f in (_ddl(_fields_of(sdf, by)), out_fields) if f),
        stateStructType=state_ddl,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def sosfilt_stream(
    sdf: DataFrame,
    sos,
    *,
    by: Sequence[str],
    dim: str,
    value: str = "value",
) -> DataFrame:
    """Forward IIR filter (second-order sections) over a streaming
    DataFrame, carrying per-series ``zi`` between micro-batches.

    Parameters mirror the batch operator
    (:func:`xarray_scipy_spark.operators.filters.sosfilt`): ``by`` keys
    one series per group, ``dim`` orders samples within it. Output per
    row: ``[*by, <dim>, value, idx]`` where ``idx`` is the cumulative
    sample position since the series began (continuous across batches).

    State: ``(zi flattened, n_seen)`` per key — the exact section
    states scipy's ``sosfilt`` would carry, so restarting from a
    checkpoint resumes the recursion bit-for-bit.
    """
    sos = np.atleast_2d(np.asarray(sos, dtype=float))
    if sos.shape[1] != 6:
        raise ValueError(f"sos must be (n_sections, 6), got {sos.shape}")
    n_sections = sos.shape[0]

    def step(pdf, state):
        zi_flat, n_seen = state or (np.zeros(2 * n_sections), 0)
        x = pdf[value].to_numpy(dtype=float)
        y, zi = sosfilt_1d(sos, x, zi=np.asarray(zi_flat, dtype=float).reshape(n_sections, 2))
        idx = n_seen + np.arange(len(x), dtype=np.int64)
        cols = {dim: pdf[dim].to_numpy(), "value": y, "idx": idx}
        return cols, (zi.ravel().tolist(), n_seen + len(x))

    return _run_stateful(
        sdf, by=by, dim=dim,
        out_fields=f"{_ddl(_fields_of(sdf, [dim]))}, value double, idx bigint",
        state_ddl="zi array<double>, n_seen bigint", step=step,
    )


def stft_stream(
    sdf: DataFrame,
    *,
    by: Sequence[str],
    dim: str,
    frame_len: int,
    hop: int | None = None,
    window="hann",
    value: str = "value",
) -> DataFrame:
    """Short-time Fourier transform over a streaming DataFrame,
    carrying the partial trailing frame between micro-batches.

    The batch :func:`~xarray_scipy_spark.operators.spectral.stft`
    needs each whole series co-located; on an unbounded stream that is
    impossible, but STFT state is tiny — the next frame's start is at
    ``frames_emitted·hop``, so only the samples at or past that
    position (< frame_len of them after each emit) must survive the
    batch boundary. State per key: ``(carry values, carry coords,
    frames_emitted)``. Frames are emitted exactly once, with the same
    (frame, bin, re, im) values the batch operator produces — the
    stream-equals-batch test pins that equality.

    Output per row: ``[*by, frame, bin, re, im, frame_time]`` with
    ``frame`` the global frame index since the stream began and
    ``frame_time`` the coordinate of the frame's first sample.
    """
    hop = _hop(frame_len, hop)
    taps = window_taps(window, frame_len)
    n_bins = frame_len // 2 + 1

    def step(pdf, state):
        carry, carry_t, frames = state or ([], [], 0)
        a = np.concatenate([np.asarray(carry, dtype=float), pdf[value].to_numpy(dtype=float)])
        at = np.concatenate([np.asarray(carry_t, dtype=float), pdf[dim].to_numpy(dtype=float)])
        fr = _frames(a[None, :], frame_len, hop)[0] * taps
        n_new = fr.shape[0]
        # the next frame starts at n_new·hop: keep the samples from there
        new_state = (a[n_new * hop :].tolist(), at[n_new * hop :].tolist(), frames + n_new)
        if not n_new:
            return None, new_state
        spec = np.fft.rfft(fr, axis=-1)
        cols = {
            "frame": np.repeat(frames + np.arange(n_new, dtype=np.int64), n_bins),
            "bin": np.tile(np.arange(n_bins, dtype=np.int64), n_new),
            "re": spec.real.ravel(),
            "im": spec.imag.ravel(),
            "frame_time": np.repeat(at[: n_new * hop : hop], n_bins),
        }
        return cols, new_state

    return _run_stateful(
        sdf, by=by, dim=dim,
        out_fields="frame bigint, bin bigint, re double, im double, "
        f"frame_time {dict(sdf.dtypes)[dim]}",
        state_ddl="carry array<double>, carry_t array<double>, frames bigint", step=step,
    )


def gapfill_stream(
    sdf: DataFrame,
    *,
    by: Sequence[str],
    dim: str,
    value: str = "value",
    dt,
    method: str = "linear",
) -> DataFrame:
    """Streaming regular-grid resampling: the batch
    :func:`~xarray_scipy_spark.operators.timegrid.gapfill` semantics
    over an unbounded stream, emitting each grid instant exactly once
    as soon as its bracketing observation arrives.

    State per key is four scalars — the series' grid anchor (its first
    observed instant), the previous observation ``(t, v)``, and the
    next grid index ``k`` — so state size is O(1) regardless of stream
    length, and grid instants are computed as ``anchor + k·dt`` (k an
    integer counter, mirroring the batch ``sequence`` arithmetic
    exactly; no accumulated float drift). Values reproduce the batch
    operator bit-for-bit: observed instants short-circuit to the
    observed value, interior instants interpolate with the identical
    ``v0 + ((v1 − v0)·(g − t0)) / (t1 − t0)`` op order (or carry
    ``v0`` for ``method="ffill"``). The stream-equals-batch test pins
    the equality.

    ``dim`` must be numeric in stream mode (cast timestamps to epoch
    first — the batch operator does this internally; a stream source
    usually carries the epoch column already).

    Output per row: ``[*by, <dim> double, <value> double]``.
    """
    if method not in ("linear", "ffill"):
        raise ValueError(f"method must be 'linear' or 'ffill', got {method!r}")
    spacing = float(dt)
    if spacing <= 0:
        raise ValueError(f"dt must be positive, got {dt!r}")
    linear = method == "linear"

    def step(pdf, state):
        anchor, prev_t, prev_v, k = state or (None, None, None, 0)
        out_t: list[float] = []
        out_v: list[float] = []
        for t, v in zip(pdf[dim].to_numpy(dtype=float), pdf[value].to_numpy(dtype=float)):
            if anchor is None:
                anchor, prev_t, prev_v, k = t, t, v, 1
                out_t.append(t)
                out_v.append(v)
                continue
            g = anchor + k * spacing
            while g <= t:
                if g == prev_t:
                    out_v.append(prev_v)
                elif g == t:
                    out_v.append(v)
                elif linear:
                    out_v.append(prev_v + ((v - prev_v) * (g - prev_t)) / (t - prev_t))
                else:
                    out_v.append(prev_v)
                out_t.append(g)
                k += 1
                g = anchor + k * spacing
            prev_t, prev_v = t, v
        cols = {dim: out_t, value: out_v} if out_t else None
        return cols, (anchor, prev_t, prev_v, k)

    return _run_stateful(
        sdf, by=by, dim=dim, out_fields=f"{dim} double, {value} double",
        state_ddl="anchor double, prev_t double, prev_v double, k bigint", step=step,
    )
