"""Event-sequence analytics: ordered funnels and retention cohorts.

The classic product-analytics pair, built Spark-first:

- :func:`funnel_times` finds each group's ordered step-completion
  times WITHOUT a per-event state machine: step i's completion is a
  cascaded running window minimum — ``min(ts where cond_i AND ts >
  running_t_{i-1}) over (partition by group order by ts)``. All k
  cascades share ONE window spec, so Catalyst plans a single
  exchange+sort and the whole cascade runs in generated code (no
  Python, no ``collect_list`` of a user's history, no
  ``applyInPandas``). Correctness of the cascade: rows arrive in
  ``dim`` order, so at any row the running ``t_{i-1}`` already equals
  its final value for every candidate row later than it — the proof is
  an induction the module tests pin against a per-user reference walk.
- :func:`funnel_counts` reduces those times to the per-step
  user counts + conversion rates.
- :func:`retention_cohorts` buckets each group by its FIRST event
  period (the cohort) and counts distinct groups active at each period
  offset — two map-side-combinable aggregations and one group-keyed
  join, no window over raw events.

At 100 TB: the funnel pays one shuffle of the event table (the sort
exchange); retention pays a first-seen aggregate (combines map-side to
one row per group) + one co-keyed join + one distinct-aggregate whose
width is groups × active periods, never raw events.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window, functions as F

__all__ = ["funnel_times", "funnel_counts", "retention_cohorts"]


def _conds(steps) -> list[Column]:
    out = []
    for s in steps:
        out.append(F.expr(s) if isinstance(s, str) else s)
    if not out:
        raise ValueError("steps must name at least one predicate")
    return out


def funnel_times(
    df: DataFrame,
    steps: Sequence[Column | str],
    *,
    by: str = "user_id",
    dim: str = "ts",
) -> DataFrame:
    """Per-``by``-group ordered funnel completion times.

    ``steps`` are boolean predicates (Columns or SQL strings) over the
    event row. Step 1's time is the group's earliest event satisfying
    ``steps[0]``; step i's time is the earliest event satisfying
    ``steps[i-1]`` STRICTLY after step i-1's time (ties at the same
    ``dim`` instant do not advance the funnel — deterministic under
    reordering of equal timestamps). Output: one row per group with
    nullable ``t1..tk`` columns typed like ``dim`` (null = the funnel
    stalled before that step).
    """
    conds = _conds(steps)
    w = (
        Window.partitionBy(by)
        .orderBy(dim)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    t_prev = None
    names = []
    for i, cond in enumerate(conds, 1):
        if t_prev is not None:
            cond = cond & (F.col(dim) > t_prev)
        name = f"_t{i}"
        df = df.withColumn(name, F.min(F.when(cond, F.col(dim))).over(w))
        t_prev = F.col(name)
        names.append(name)
    # each running min is non-increasing, so the group minimum IS the
    # final (last-row) value; min() also skips the leading nulls
    return df.groupBy(by).agg(
        *[F.min(n).alias(f"t{i}") for i, n in enumerate(names, 1)]
    )


def funnel_counts(
    df: DataFrame,
    steps: Sequence[Column | str],
    *,
    by: str = "user_id",
    dim: str = "ts",
) -> DataFrame:
    """Funnel summary: per step, how many groups completed it and the
    conversion fraction from the previous step (1.0 for step 1 when
    any group entered; null where the previous step had no
    completions). Output: ``(step, n_completed, conversion)`` with
    ``step`` 1-based, one row per step in order."""
    times = funnel_times(df, steps, by=by, dim=dim)
    k = len(_conds(steps))
    agg = times.agg(
        *[F.count(f"t{i}").alias(f"n{i}") for i in range(1, k + 1)]
    )
    rows = None
    for i in range(1, k + 1):
        if i == 1:
            conv = F.lit(1.0)
        else:
            prev = F.col(f"n{i - 1}")
            conv = F.when(prev > 0, F.col(f"n{i}") / prev)
        r = agg.select(
            F.lit(i).alias("step"),
            F.col(f"n{i}").alias("n_completed"),
            conv.cast("double").alias("conversion"),
        )
        rows = r if rows is None else rows.unionAll(r)
    return rows


def retention_cohorts(
    df: DataFrame,
    *,
    by: str = "user_id",
    dim: str = "ts",
    period_seconds: int = 7 * 86_400,
) -> DataFrame:
    """Cohort retention table: groups are cohorted by the period of
    their FIRST event; each (cohort, offset) cell counts distinct
    groups with any event in that period. Periods are fixed
    ``period_seconds`` buckets of the epoch (deterministic, timezone-
    free — integer µs arithmetic, TIMESTAMP_NTZ-safe). Output:
    ``(cohort_period, period_offset, n_active)`` where
    ``cohort_period`` is the epoch-period index of the cohort and
    offset 0 is the cohort period itself.

    Plan (r10 rewrite, r12 glue fix): deduplicate to (group, period)
    pairs FIRST — the distinct is a codegen'd hash aggregate whose
    map-side partials shrink the one event-volume shuffle to
    per-partition-unique pairs. The per-group cohort is then a
    whole-partition ``min`` WINDOW over the pairs frame, not a
    groupBy+join: the r12 decomposition (tools/retention_decompose.py
    at 71b8918, @1000x) measured the join shape's small-frame glue at
    1.25 s of a 2.86 s total — three pair-volume exchanges (first-agg, both join
    sides re-keyed) where the window pays one; the rewrite measured
    3.93 -> 2.85 s interleaved same-session with identical output.
    The previous shapes lost worse: raw-events join (two event-volume
    shuffles, 30.9 s) and collect_set single-aggregation
    (ObjectHashAggregate, outside whole-stage codegen, 42 s) at the
    1000x tier."""
    if period_seconds <= 0:
        raise ValueError(f"period_seconds must be positive, got {period_seconds}")
    from pyspark.sql import Window

    from ..functions.timeutil import epoch_us

    per_us = int(period_seconds) * 1_000_000
    p = F.floor(epoch_us(df, dim) / per_us).cast("bigint")
    pairs = df.select(F.col(by).alias("_g"), p.alias("_p")).distinct()
    w = Window.partitionBy("_g")
    return (
        pairs.withColumn("_cohort", F.min("_p").over(w))
        .select(
            F.col("_cohort").alias("cohort_period"),
            (F.col("_p") - F.col("_cohort")).alias("period_offset"),
        )
        .groupBy("cohort_period", "period_offset")
        .agg(F.count(F.lit(1)).alias("n_active"))
    )
