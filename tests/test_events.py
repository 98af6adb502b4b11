"""operators.events — funnel cascade parity against a per-user
reference walk, conversion math, retention bucketing, and plan shape."""

from __future__ import annotations

import datetime as dt
import random

import pytest
from pyspark.sql import functions as F

from xarray_scipy_spark.operators import (
    funnel_counts,
    funnel_times,
    retention_cohorts,
)


def _mkdf(spark, seed=4, users=30, letters="svcp"):
    random.seed(seed)
    base = dt.datetime(2025, 1, 1)
    rows = []
    for u in range(users):
        t = 0
        for _ in range(random.randint(0, 25)):
            t += random.randint(1, 3600 * 30)
            rows.append((u, base + dt.timedelta(seconds=t), random.choice(letters)))
    return rows, spark.createDataFrame(
        rows, "user_id long, ts timestamp_ntz, et string"
    )


def _walk(rows, order="svp"):
    """Reference: earliest event of each step strictly after the
    previous step's time."""
    from collections import defaultdict

    ev = defaultdict(list)
    for u, ts, et in rows:
        ev[u].append((ts, et))
    out = {}
    for u, es in ev.items():
        es.sort()
        want = [None] * len(order)
        for i, tgt in enumerate(order):
            if i > 0 and want[i - 1] is None:
                break
            for ts, et in es:
                if et == tgt and (i == 0 or ts > want[i - 1]):
                    want[i] = ts
                    break
        out[u] = tuple(want)
    return out


def test_funnel_times_matches_reference_walk(spark):
    rows, df = _mkdf(spark)
    steps = [F.col("et") == c for c in "svp"]
    got = {
        r["user_id"]: (r["t1"], r["t2"], r["t3"])
        for r in funnel_times(df, steps, by="user_id", dim="ts").collect()
    }
    assert got == _walk(rows)


def test_funnel_same_timestamp_does_not_advance(spark):
    t0 = dt.datetime(2025, 1, 1)
    df = spark.createDataFrame(
        [(1, t0, "a"), (1, t0, "b"), (1, t0 + dt.timedelta(seconds=1), "b")],
        "user_id long, ts timestamp_ntz, et string",
    )
    r = funnel_times(
        df, [F.col("et") == "a", F.col("et") == "b"], by="user_id", dim="ts"
    ).collect()[0]
    assert r["t1"] == t0
    assert r["t2"] == t0 + dt.timedelta(seconds=1)  # the tied b is skipped


def test_funnel_counts_conversions(spark):
    rows, df = _mkdf(spark)
    steps = [F.col("et") == c for c in "svp"]
    got = {r["step"]: (r["n_completed"], r["conversion"]) for r in
           funnel_counts(df, steps).collect()}
    walk = _walk(rows)
    n = [sum(1 for w in walk.values() if w[i] is not None) for i in range(3)]
    assert got[1] == (n[0], 1.0)
    assert got[2][0] == n[1] and got[2][1] == pytest.approx(n[1] / n[0])
    assert got[3][0] == n[2] and got[3][1] == pytest.approx(n[2] / n[1])
    with pytest.raises(ValueError, match="at least one"):
        funnel_times(df, [])


def test_retention_cohorts_reference(spark):
    rows, df = _mkdf(spark, seed=9)
    per = 7 * 86_400
    got = {
        (r["cohort_period"], r["period_offset"]): r["n_active"]
        for r in retention_cohorts(df, period_seconds=per).collect()
    }
    from collections import defaultdict

    epoch = dt.datetime(1970, 1, 1)
    pmap = defaultdict(set)
    first = {}
    for u, ts, _ in rows:
        p = int((ts - epoch).total_seconds() * 1e6) // (per * 1_000_000)
        first[u] = min(first.get(u, p), p)
        pmap[u].add(p)
    want = defaultdict(int)
    for u, ps in pmap.items():
        for p in ps:
            want[(first[u], p - first[u])] += 1
    assert got == dict(want)
    with pytest.raises(ValueError, match="period_seconds"):
        retention_cohorts(df, period_seconds=0)


def test_funnel_is_single_sort_exchange(spark):
    """All k cascade steps share one Window node: exactly one hash
    exchange before the per-user aggregate, no joins, no Python."""
    rows, df = _mkdf(spark)
    steps = [F.col("et") == c for c in "svp"]
    plan = (
        funnel_times(df, steps)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "Python" not in plan and "Arrow" not in plan
    assert "Join" not in plan
    assert plan.count("Exchange hashpartitioning") <= 2  # window + agg
    assert plan.count("Sort ") <= 1 or plan.count("Sort") <= 2


def test_retention_cohorts_plan_is_join_free(spark):
    """r12 plan lock: the cohort is a whole-partition min() WINDOW
    over the deduplicated pairs frame, not a groupBy+join — the r12
    decomposition measured the join shape at 3 pair-volume exchanges
    where the window pays 1 (tools/retention_decompose.py at
    71b8918, -27% same-session). Empty input stays well-formed."""
    df = spark.createDataFrame(
        [(1, "2024-01-01 00:00:00"), (1, "2024-01-09 00:00:00")],
        "user_id long, ts string",
    ).selectExpr("user_id", "CAST(ts AS TIMESTAMP_NTZ) AS ts")
    plan = (
        retention_cohorts(df, period_seconds=7 * 86400)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "Join" not in plan, plan
    assert plan.count("Exchange") <= 3, plan
    empty = retention_cohorts(df.filter("user_id < 0"), period_seconds=7 * 86400)
    assert empty.count() == 0
    assert empty.columns == ["cohort_period", "period_offset", "n_active"]
