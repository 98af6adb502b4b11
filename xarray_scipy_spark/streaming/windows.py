"""Event-time windowed aggregation over streams: tumbling/sliding
windows with a watermark for late data.

The reference is batch-only (SURVEY.md §2.3); this is the Structured-
Streaming shape of the engine's per-series statistics. The aggregation
is fully incremental — Spark keeps one running aggregate per
(key, window) in the state store, emits according to the output mode,
and the watermark bounds state: windows older than
``max(event_time) - watermark`` are finalized and evicted, so state
size is O(keys × windows-in-watermark-horizon) regardless of stream
length.

Batch/stream parity: the same groupBy(window(...)) plan executes on a
static DataFrame, and the contract's DuckDB oracle reproduces it with
epoch bucket arithmetic — the streaming result over a bounded source
(AvailableNow) is identical to the batch aggregate of the materialized
input. Every event-time operator here (and
``pipeline.quality.windowed_constraints``) starts from one prelude,
:func:`~xarray_scipy_spark.functions.timeutil.with_event_time`. The
sketch twins are the batch code itself: :func:`hll_stream` returns
``sketches.hll_registers`` and :func:`countmin_stream` returns
``sketches.countmin_sketch``, both native running aggregates.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, functions as F

from ..functions.timeutil import event_time, with_event_time
from ..pipeline.sketches import countmin_sketch, hll_registers

__all__ = [
    "windowed_stats",
    "session_stats",
    "stream_distinct",
    "hll_stream",
    "countmin_stream",
    "ohlc_stream",
    "latest_stream",
]


def _stats(value: str) -> list:
    """The per-window ``n``, ``sum``, ``avg``, ``min`` and ``max`` of
    :func:`windowed_stats` and :func:`session_stats`."""
    return [
        F.count(F.lit(1)).alias("n"),
        F.sum(value).alias("sum"),
        F.avg(value).alias("avg"),
        F.min(value).alias("min"),
        F.max(value).alias("max"),
    ]


def windowed_stats(
    sdf: DataFrame,
    *,
    by: Sequence[str],
    dim: str,
    value: str = "value",
    window: str = "60 seconds",
    slide: str | None = None,
    watermark: str = "10 minutes",
) -> DataFrame:
    """Per-key tumbling (or sliding) event-time window statistics.

    ``dim`` may be timestamp, timestamp_ntz (the testdata parquet's
    type — interpreted naive-as-UTC, matching DuckDB's epoch
    bucketing), or epoch-nanosecond bigint (the engine's internal
    integer convention — truncation to microseconds cannot move an
    event across a whole-second window boundary). All are normalized
    to a proper TIMESTAMP on the absolute epoch timeline, the type the
    watermark machinery requires. Output per (key, window):
    ``window_start`` (epoch seconds), ``n``, ``sum``, ``avg``,
    ``min``, ``max``.

    Works on both streaming and static DataFrames (identical plan
    semantics); the watermark only takes effect on streams.
    """
    by = list(by)
    work = with_event_time(sdf, dim, watermark)
    win = (
        F.window("__event_time__", window, slide)
        if slide
        else F.window("__event_time__", window)
    )
    agg = work.groupBy(win.alias("w"), *by).agg(*_stats(value))
    return agg.select(
        *by,
        F.col("w.start").cast("long").alias("window_start"),
        "n", "sum", "avg", "min", "max",
    )


def session_stats(
    sdf: DataFrame,
    *,
    by: Sequence[str],
    dim: str,
    value: str = "value",
    gap: str = "30 minutes",
    watermark: str = "1 hour",
) -> DataFrame:
    """Per-key SESSION-window statistics via the native
    ``F.session_window`` operator: a session extends while consecutive
    events arrive within ``gap`` of the previous session end, then
    closes. The dynamic-window analog of :func:`windowed_stats`; the
    batch analog is the lag-based ``sessionize`` demo — a new session
    starts exactly when the inter-event gap reaches ``gap``
    (session-window ends are exclusive, so ``diff >= gap`` splits).

    Incremental on streams: Spark merges per-key candidate sessions in
    the state store and the watermark closes (and evicts) sessions whose
    end is older than the event-time horizon — state is
    O(keys × open-sessions), not stream length. The same plan runs on a
    static DataFrame for batch/stream parity.

    Output per (key, session): ``session_start``/``session_end`` (epoch
    µs, the window bounds), ``n``, ``sum``, ``avg``, ``min``, ``max``.
    """
    by = list(by)
    work = with_event_time(sdf, dim, watermark)
    agg = work.groupBy(F.session_window("__event_time__", gap).alias("w"), *by).agg(
        *_stats(value)
    )
    return agg.select(
        *by,
        F.unix_micros(F.col("w.start")).alias("session_start"),
        F.unix_micros(F.col("w.end")).alias("session_end"),
        "n", "sum", "avg", "min", "max",
    )


def stream_distinct(
    sdf: DataFrame,
    *,
    cols: Sequence[str],
    dim: str | None = None,
    watermark: str | None = None,
) -> DataFrame:
    """Streaming deduplication — first occurrence of each distinct key.

    Two state regimes, chosen by ``watermark``:

    - ``watermark=None``: EXACT global dedup via ``dropDuplicates``.
      State holds one entry per distinct key for the lifetime of the
      stream — the unavoidable cost of exact global semantics (the
      batch analog is ``SELECT DISTINCT``). Right for bounded backfills
      and key spaces that fit the state store (dedup keys are typically
      a hash, ~16 bytes/entry; RocksDB state store for big key spaces).
    - ``watermark + dim``: ``dropDuplicatesWithinWatermark`` — dedups
      re-arrivals within the event-time watermark horizon and EVICTS
      keys older than it, so state is O(keys-per-horizon) regardless of
      stream length. The scale path for unbounded streams where
      duplicates cluster in time (retries, at-least-once sources);
      duplicates farther apart than the horizon pass through — a
      recall/state trade the caller makes explicitly.

    Emits in append mode (a row is emitted exactly once, on first
    arrival). The projection to ``cols`` happens BEFORE the dedup so
    state keys carry only the dedup columns, not the full row.
    """
    cols = list(cols)
    if watermark is not None:
        if dim is None:
            raise ValueError("watermark requires dim (the event-time column)")
        work = sdf.select(*dict.fromkeys(cols + [dim]))
        work = work.withColumn(dim, event_time(work, dim))
        return work.withWatermark(dim, watermark).dropDuplicatesWithinWatermark(cols)
    return sdf.select(*cols).dropDuplicates(cols)


def hll_stream(
    sdf: DataFrame,
    col: str,
    *,
    by: Sequence[str] = (),
    p: int = 12,
) -> DataFrame:
    """Continuous distinct-count sketching over a stream: the
    HyperLogLog REGISTER table (``[*by, bucket, mj]``) as a NATIVE
    streaming aggregation.

    The insight that makes this free: an HLL register is a running
    ``max`` — exactly the aggregate Structured Streaming keeps
    incrementally in the state store. No custom stateful operator, no
    timeout logic; state is bounded at ``groups × 2^p`` rows FOREVER
    (the sketch property), and the register max is monotone so late
    data can never be wrong, only absorbed. Fold the emitted registers
    into an estimate with
    :func:`~xarray_scipy_spark.pipeline.sketches.hll_estimate`
    (streaming queries cannot chain a second aggregation; the fold is
    a cheap batch read of ≤2^p rows per group).

    This IS :func:`~xarray_scipy_spark.pipeline.sketches.hll_registers`
    (the registers :func:`~xarray_scipy_spark.pipeline.sketches.
    hll_state` folds): its ``spread`` probe leaves a stream as it is, so
    a stream's final register table over a bounded source equals the
    batch sketch row-for-row — pinned by test.
    """
    return hll_registers(sdf, col, by=list(by), p=p)


def countmin_stream(
    sdf: DataFrame,
    col: str,
    *,
    depth: int = 4,
    width: int = 1024,
    weight=None,
) -> DataFrame:
    """Continuous frequency sketching over a stream: the count-min
    cell table (``j, cell, cnt``) as a native streaming aggregation —
    a cell is a running SUM, the other aggregate the state store keeps
    incrementally for free. State is bounded at ``depth × width`` rows
    forever; point estimates come from
    :func:`~xarray_scipy_spark.pipeline.sketches.countmin_lookup` over
    the emitted cells. This IS
    :func:`~xarray_scipy_spark.pipeline.sketches.countmin_sketch` run
    on the stream, so the final stream state over a bounded source
    equals the batch sketch row-for-row — pinned by test."""
    return countmin_sketch(sdf, col, depth=depth, width=width, weight=weight)


def ohlc_stream(
    sdf: DataFrame,
    *,
    by: Sequence[str],
    dim: str,
    value: str = "value",
    bar: str = "6 hours",
    watermark: str = "1 day",
) -> DataFrame:
    """Streaming twin of :func:`~xarray_scipy_spark.operators.tsstats.
    ohlc_bars` (OHLC + count + mean): continuous bar rollup as a
    NATIVE windowed aggregation — ``min_by``/``max_by`` are
    declarative aggregates the state store merges incrementally, so no
    custom stateful operator and state is O(keys × open bars),
    watermark-evicted forever.

    The TWAP column is batch-only: its holding times need each
    sample's SUCCESSOR (``lead``), which a stream only learns later —
    an incremental version would hold every bar's last sample in
    per-key state (the gapfill_stream machinery) and emit corrections;
    the batch operator is the system of record for it. Everything this
    emits is value-identical to the batch operator on the same rows
    (stream-equals-batch pinned in tests/test_streaming.py).

    Output per (key, bar): ``bar_start`` (epoch seconds), ``n``,
    ``open``, ``high``, ``low``, ``close``, ``mean``.
    """
    by = list(by)
    work = with_event_time(sdf, dim, watermark)
    v = F.col(value).cast("double")
    agg = work.groupBy(F.window("__event_time__", bar).alias("w"), *by).agg(
        F.count(F.lit(1)).alias("n"),
        F.min_by(v, F.col("__event_time__")).alias("open"),
        F.max(v).alias("high"),
        F.min(v).alias("low"),
        F.max_by(v, F.col("__event_time__")).alias("close"),
        F.avg(v).alias("mean"),
    )
    return agg.select(
        *by,
        F.col("w.start").cast("long").alias("bar_start"),
        "n",
        "open",
        "high",
        "low",
        "close",
        "mean",
    )


def latest_stream(
    sdf: DataFrame,
    *,
    keys: Sequence[str],
    dim: str,
    values: Sequence[str],
    watermark: str = "1 day",
) -> DataFrame:
    """Streaming twin of :func:`~xarray_scipy_spark.pipeline.dedup.
    latest_by_key`: the continuously-maintained latest record per key,
    as a NATIVE ``max_by`` aggregation — the state store keeps one
    (order key, payload) pair per group and merges incrementally, the
    same max(struct) argument as the batch operator. Run it in
    update/complete mode; the same plan on a static frame equals the
    batch operator row-for-row (pinned in tests/test_streaming.py).

    Output: ``[*keys, <dim>, *values]`` — the winning row's timestamp
    and payload columns.
    """
    keys = list(keys)
    values = list(values)
    work = with_event_time(sdf, dim, watermark)
    payload = F.struct(F.col(dim).alias(dim), *[F.col(c) for c in values])
    agg = work.groupBy(*keys).agg(
        F.max_by(payload, F.col("__event_time__")).alias("_w")
    )
    return agg.select(*keys, *[F.col(f"_w.{c}").alias(c) for c in (dim, *values)])
