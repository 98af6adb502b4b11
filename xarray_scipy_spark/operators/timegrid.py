"""Regular-grid resampling of irregular time series (gap-fill).

Sensor/event streams arrive at irregular instants; most downstream DSP
(every kernel in this engine that assumes an equispaced ``dim``) and
most feature pipelines want a regular grid. ``gapfill`` snaps each
series onto ``[min(t), max(t)]`` stepped by ``dt`` and fills every grid
instant from its bracketing observations — linear interpolation or
last-observation-carried-forward.

No reference analog: the reference assumes its inputs already sit on
an equispaced coordinate (its `_compute_delta` takes the MEAN spacing,
signal.py:17, silently mis-labelling irregular inputs); regularizing
is the step its users must do upstream in xarray. An engine over raw
event tables needs it in-engine.

Plan shape (scale notes): one tiny per-series min/max aggregation
(shuffle #1, one row per series), a generative ``sequence`` explode
for the grid (no shuffle — rows produced where the series lives), a
union with the observations, and one window partitioning over
``by`` (shuffle #2) computing the bracketing neighbours with running
``last(..., ignorenulls)`` frames, in ``t`` order for the previous
observation and in reverse ``t`` order for the next (a local re-sort,
no exchange; Spark recomputes a frame that ends at unboundedFollowing
for every row, which is O(n^2) per series) — no join node
anywhere, so there is nothing to skew and nothing to broadcast. Cost
is linear in observations + grid points; partitioning is per-series,
the same key layout every kernel operator here uses. Spark's
``sequence`` caps one series' grid at ~2^31 points; pick ``dt``
accordingly (a 100-year span at 1 s is 3.2e9 — split such series by
epoch first).
"""

from __future__ import annotations

from collections.abc import Sequence as _Seq

from pyspark.sql import DataFrame, Window, functions as F

__all__ = ["gapfill", "gapfill_variants", "interp_to"]


def _gapfill_value(method: str):
    """The fill expression for one method over the shared bracketing
    columns (``_t``, ``_v0``, ``_pt``, ``_v1``, ``_nt``)."""
    if method == "ffill":
        return F.col("_v0")
    # exact-hit and trailing-edge cases short-circuit so the
    # formula never divides by zero; the arithmetic order is fixed
    # (diff ratio last) and mirrored by the contract oracle
    return (
        F.when(F.col("_t") == F.col("_pt"), F.col("_v0"))
        .when(F.col("_nt").isNull(), F.col("_v0"))
        .otherwise(
            F.col("_v0")
            + (F.col("_v1") - F.col("_v0"))
            * (F.col("_t") - F.col("_pt")).cast("double")
            / (F.col("_nt") - F.col("_pt")).cast("double")
        )
    )


def _brackets(obs: DataFrame, instants: DataFrame, by: _Seq[str]) -> DataFrame:
    """``[*by, _t, _obs, _v0, _pt, _v1, _nt]`` for each ``[*by, _t]``
    row of ``instants`` from the observations ``obs`` (see
    :func:`_observed`): the last observed value and instant at or
    before each instant, and the first after it, per series."""
    # observations sort BEFORE the grid row at the same instant
    # (_obs desc), so the backward frame sees a collocated observation
    # and the forward frame, the same running frame in the exact
    # reverse order, does not
    part = Window.partitionBy(*by)
    back = part.orderBy(F.col("_t").asc(), F.col("_obs").desc()).rowsBetween(
        Window.unboundedPreceding, 0
    )
    fwd = part.orderBy(F.col("_t").desc(), F.col("_obs").asc()).rowsBetween(
        Window.unboundedPreceding, 0
    )
    obs_t = F.when(F.col("_v").isNotNull(), F.col("_t"))
    fill = instants.select(
        *by, "_t", F.lit(None).cast("double").alias("_v"), F.lit(0).alias("_obs")
    )
    return obs.unionAll(fill).select(
        *by,
        "_t",
        "_obs",
        F.last("_v", ignorenulls=True).over(back).alias("_v0"),
        F.last(obs_t, ignorenulls=True).over(back).alias("_pt"),
        F.last("_v", ignorenulls=True).over(fwd).alias("_v1"),
        F.last(obs_t, ignorenulls=True).over(fwd).alias("_nt"),
    ).filter(F.col("_obs") == 0)


def _observed(df: DataFrame, by: _Seq[str], dim: str, value: str):
    """The prelude of every fill: ``(obs, time, out_dim)``. ``obs`` is
    the observation rows ``[*by, _t, _v, _obs]``; ``time(frame)`` puts a
    frame's ``dim`` on the integer time axis ``_t`` (exact epoch
    microseconds for a timestamp ``dim`` of ``df``, so grid arithmetic
    never round-trips through floats); ``out_dim`` restores ``dim``'s
    type from ``_t``."""
    from ..functions.timeutil import _NTZ_EPOCH, epoch_us

    in_dtype = dict(df.dtypes)[dim]
    is_ts = in_dtype.startswith("timestamp")

    def time(frame: DataFrame):
        return epoch_us(frame, dim) if is_ts else F.col(dim)

    if not is_ts:
        out_dim = F.col("_t")
    elif in_dtype == "timestamp_ntz":
        out_dim = F.expr(f"timestampadd(MICROSECOND, _t, {_NTZ_EPOCH})")
    else:
        out_dim = F.timestamp_micros(F.col("_t"))
    obs = df.select(
        *by,
        time(df).alias("_t"),
        F.col(value).cast("double").alias("_v"),
        F.lit(1).alias("_obs"),
    )
    return obs, time, out_dim.alias(dim)


def _gapfill_core(df: DataFrame, *, by, dim: str, value: str, dt):
    """Shared gapfill machinery: grid generation + the one-shuffle
    window computing the bracketing observations. Returns
    ``(grid, out_dim)`` where ``grid`` carries
    ``[*by, _t, _obs, _v0, _pt, _v1, _nt]`` per grid instant — every
    fill method is a pure projection over it (see
    :func:`_gapfill_value`)."""
    obs, _, out_dim = _observed(df, by, dim, value)
    in_dtype = dict(df.dtypes)[dim]
    if in_dtype.startswith("timestamp"):
        step = int(round(float(dt) * 1_000_000))
        if step <= 0:
            raise ValueError(f"dt must be a positive number of seconds, got {dt!r}")
    else:
        step = dt
    rng = obs.groupBy(*by).agg(
        F.min("_t").alias("_t0"), F.max("_t").alias("_t1")
    )
    if in_dtype in ("double", "float"):
        # fractional dims: sequence() is integral-only, so build the
        # grid as t0 + k·dt over an integer index (the identical
        # arithmetic the streaming variant uses — no accumulated
        # drift). floor((t1-t0)/dt) cannot mis-count: the quotient's
        # double rounding error is orders below the 1-step gap.
        nsteps = F.floor((F.col("_t1") - F.col("_t0")) / F.lit(float(step)))
        grid = rng.select(
            *by,
            "_t0",
            F.explode(F.sequence(F.lit(0), nsteps.cast("bigint"))).alias("_k"),
        ).select(*by, (F.col("_t0") + F.col("_k") * F.lit(float(step))).alias("_t"))
    else:
        grid = rng.select(
            *by,
            F.explode(F.sequence(F.col("_t0"), F.col("_t1"), F.lit(step))).alias("_t"),
        )
    return _brackets(obs, grid, by), out_dim


def gapfill(
    df: DataFrame,
    *,
    by: _Seq[str],
    dim: str,
    value: str = "value",
    dt,
    method: str = "linear",
) -> DataFrame:
    """Resample each series onto the regular grid ``min(t) .. max(t)``
    step ``dt`` along ``dim``, filling values by ``method``:

    - ``"linear"``: ``v0 + (v1 − v0) · (t − t0)/(t1 − t0)`` from the
      bracketing observations; an observation exactly on a grid
      instant passes through bit-identically; past the last
      observation (only the series max itself, by construction) the
      last value carries.
    - ``"ffill"``: last observation at or before the grid instant.

    ``dim`` may be numeric (``dt`` in the same units) or a timestamp
    (``dt`` in SECONDS; the grid is computed on exact epoch
    microseconds — integer arithmetic, no float timestamp round-trip —
    and restored to a timestamp column on output).

    Output: ``[*by, <dim>, <value>]``, one row per grid instant.
    """
    if method not in ("linear", "ffill"):
        raise ValueError(f"method must be 'linear' or 'ffill', got {method!r}")
    grid, out_dim = _gapfill_core(df, by=by, dim=dim, value=value, dt=dt)
    return grid.select(*by, out_dim, _gapfill_value(method).alias(value))


def gapfill_variants(
    df: DataFrame,
    *,
    by: _Seq[str],
    dim: str,
    value: str = "value",
    dt,
    methods: _Seq[str] = ("linear", "ffill"),
    variant_col: str = "variant",
) -> DataFrame:
    """All requested fill ``methods`` from ONE grid + window pass.

    Row-equal to unioning per-method :func:`gapfill` calls (each output
    row tagged with its method in ``variant_col``), but the union form
    re-executes the scan, grid generation and ordered window once PER
    method — every fill method is a pure projection over the same
    bracketing columns, so one inline array + explode emits them all
    from a single pass (r16: the two-variant consumer's plan dropped
    from 4 input scans / 2 windows to 2 scans / 1 window).
    """
    methods = list(methods)
    if not methods:
        raise ValueError("methods must name at least one fill method")
    for m in methods:
        if m not in ("linear", "ffill"):
            raise ValueError(f"method must be 'linear' or 'ffill', got {m!r}")
    grid, out_dim = _gapfill_core(df, by=by, dim=dim, value=value, dt=dt)
    tagged = F.array(
        *[
            F.struct(
                F.lit(m).alias("_m"), _gapfill_value(m).alias("_fv")
            )
            for m in methods
        ]
    )
    return (
        grid.select(*by, out_dim, F.explode(tagged).alias("_p"))
        .select(
            F.col("_p._m").alias(variant_col),
            *by,
            dim,
            F.col("_p._fv").alias(value),
        )
    )


def interp_to(
    df: DataFrame,
    targets: DataFrame,
    *,
    by: _Seq[str],
    dim: str,
    value: str = "value",
    method: str = "linear",
) -> DataFrame:
    """Interpolate each series onto CALLER-SUPPLIED target instants —
    the generalization of :func:`gapfill` from a regular grid to any
    alignment frame (sample sensor A at sensor B's timestamps, score a
    model at event times, join two differently-clocked streams without
    an asof tolerance).

    ``targets``: ``[*by, <dim>]`` rows naming where to evaluate. Same
    plan as gapfill — union the observations with the targets, one
    window shuffle computes the bracketing observations, no join node
    — and the same value semantics: exact passthrough on observed
    instants, ``linear`` interpolation between brackets, ``ffill``
    carry-forward; targets before the first observation return null
    (nothing to carry), targets after the last carry it
    (:func:`gapfill` never sees either case because its grid spans
    min..max).

    Output: ``[*by, <dim>, <value>]`` — one row per target row.
    """
    if method not in ("linear", "ffill"):
        raise ValueError(f"method must be 'linear' or 'ffill', got {method!r}")
    obs, time, out_dim = _observed(df, by, dim, value)
    tgt = targets.select(*by, time(targets).alias("_t"))
    filled = _gapfill_value(method).alias(value)
    return _brackets(obs, tgt, by).select(*by, out_dim, filled)
