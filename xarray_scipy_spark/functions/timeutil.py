"""Time-column normalization: one definition of "epoch integer of a
time column", shared by every relational query that does arithmetic on
event time, and one event-time prelude (:func:`with_event_time`) for
every watermarked windowed operator.

The driver's parquet stores time as ``timestamp[us]`` (verified with
pyarrow at every sf), which Spark reads as TIMESTAMP_NTZ. DuckDB reads
the same bytes as a naive timestamp and its ``epoch_us()``/``epoch_ns``
treat the wall-clock digits as-is. The only conversion that matches
that on the Spark side *independently of the session timezone* is pure
NTZ arithmetic — ``timestampdiff(MICROSECOND, NTZ '1970-01-01', col)``
— not ``unix_micros(cast(col as timestamp))``, whose NTZ→LTZ cast
shifts by the session zone.

The reference handles datetime coordinates the same way in spirit
(signal.py:316-321 converts datetimes to integers before linspace);
here the conversion is a Catalyst expression, so it stays JVM-side and
inside whole-stage codegen — no UDF, scale-free.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

__all__ = ["epoch_us", "event_time", "with_event_time"]

_NTZ_EPOCH = "TIMESTAMP_NTZ '1970-01-01 00:00:00'"


def epoch_us(df: DataFrame, col: str) -> Column:
    """Epoch-microseconds BIGINT of ``df[col]``, for any supported time
    representation:

    - ``timestamp_ntz`` (the testdata parquet): naive-as-UTC via NTZ
      subtraction — session-timezone-independent, matches DuckDB's
      ``epoch_us(col)`` exactly;
    - ``timestamp`` (LTZ): ``unix_micros``;
    - ``bigint``/``long``: assumed epoch-nanoseconds (the engine's
      internal integer convention) — integer div by 1000, exact;
    - ``date``: days × 86 400 000 000.
    """
    dtype = dict(df.dtypes).get(col)
    if dtype is None:
        raise KeyError(f"no column {col!r} in {df.columns}")
    if dtype == "timestamp_ntz":
        return F.expr(f"timestampdiff(MICROSECOND, {_NTZ_EPOCH}, `{col}`)")
    if dtype == "timestamp":
        return F.unix_micros(F.col(col))
    if dtype in ("bigint", "long"):
        return F.expr(f"`{col}` div 1000")
    if dtype == "date":
        # DATE→BIGINT cast is disallowed on Spark 4.x; unix_date gives
        # days-since-epoch as INT, which is safe to widen.
        return F.unix_date(F.col(col)).cast("bigint") * F.lit(86_400_000_000)
    raise TypeError(f"column {col!r} has non-time dtype {dtype}")


def event_time(df: DataFrame, col: str) -> Column:
    """``df[col]`` as a proper TIMESTAMP (LTZ) on the absolute epoch
    timeline — the type Structured Streaming's watermark/window
    machinery wants. Round-trips through :func:`epoch_us` so NTZ input
    is interpreted naive-as-UTC regardless of session timezone, and
    window boundaries land on the same epoch buckets DuckDB computes."""
    if dict(df.dtypes).get(col) == "timestamp":
        return F.col(col)
    return F.timestamp_micros(epoch_us(df, col))


def with_event_time(df: DataFrame, col: str, watermark: str) -> DataFrame:
    """``df`` plus the ``__event_time__`` column (:func:`event_time` of
    ``col``), watermarked by ``watermark`` when ``df`` is a stream — the
    prelude of every event-time windowed operator, which runs the same
    plan on a static frame."""
    work = df.withColumn("__event_time__", event_time(df, col))
    return work.withWatermark("__event_time__", watermark) if work.isStreaming else work
