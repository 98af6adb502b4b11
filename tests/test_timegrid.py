"""gapfill (operators/timegrid.py): linear / ffill semantics against
numpy.interp, timestamp exactness, and partitioning independence."""

from __future__ import annotations

import datetime as dt

import numpy as np
import pytest
from pyspark.sql import functions as F

from xarray_scipy_spark import operators as ops


@pytest.fixture(scope="module")
def irregular(spark):
    # two series with irregular integer instants and known values
    rows = []
    for ch, (ts, vs) in {
        0: ([0, 3, 4, 9, 15], [1.0, 4.0, -2.0, 5.0, 5.5]),
        1: ([2, 8], [10.0, -10.0]),
    }.items():
        rows += [(ch, t, v) for t, v in zip(ts, vs)]
    return spark.createDataFrame(rows, "ch int, t long, value double")


def test_linear_matches_numpy_interp(spark, irregular):
    res = ops.gapfill(
        irregular, by=["ch"], dim="t", dt=1, method="linear"
    ).toPandas()
    for ch, (ts, vs) in {
        0: ([0, 3, 4, 9, 15], [1.0, 4.0, -2.0, 5.0, 5.5]),
        1: ([2, 8], [10.0, -10.0]),
    }.items():
        sub = res[res.ch == ch].sort_values("t")
        grid = np.arange(ts[0], ts[-1] + 1)
        assert list(sub.t) == list(grid)
        np.testing.assert_allclose(
            sub.value.to_numpy(), np.interp(grid, ts, vs), rtol=0, atol=1e-12
        )


def test_observations_pass_through_bit_identically(spark, irregular):
    res = ops.gapfill(irregular, by=["ch"], dim="t", dt=1, method="linear")
    obs = {(r["ch"], r["t"]): r["value"] for r in irregular.collect()}
    got = {(r["ch"], r["t"]): r["value"] for r in res.collect()}
    for k, v in obs.items():
        assert got[k] == v  # exact, not approx


def test_ffill_carries_last_observation(spark, irregular):
    res = ops.gapfill(
        irregular.filter("ch = 1"), by=["ch"], dim="t", dt=3, method="ffill"
    ).toPandas()
    # grid 2,5,8: values 10 (obs), 10 (carried), -10 (obs)
    assert list(res.sort_values("t").value) == [10.0, 10.0, -10.0]


def test_single_observation_series(spark):
    df = spark.createDataFrame([(0, 5, 7.5)], "ch int, t long, value double")
    res = ops.gapfill(df, by=["ch"], dim="t", dt=10, method="linear").collect()
    assert len(res) == 1 and res[0]["t"] == 5 and res[0]["value"] == 7.5


def test_timestamp_dim_restores_exact_micros(spark):
    base = dt.datetime(2024, 1, 1)
    rows = [
        (0, base, 1.0),
        (0, base + dt.timedelta(seconds=90), 4.0),
    ]
    df = spark.createDataFrame(rows, "ch int, ts timestamp, value double")
    res = (
        ops.gapfill(df, by=["ch"], dim="ts", dt=30, method="linear")
        .orderBy("ts")
        .collect()
    )
    assert [r["ts"] for r in res] == [
        base + dt.timedelta(seconds=30 * k) for k in range(4)
    ]
    assert [r["value"] for r in res] == [1.0, 2.0, 3.0, 4.0]
    assert isinstance(res[0]["ts"], dt.datetime)


def test_partitioning_independent(spark, irregular):
    a = ops.gapfill(
        irregular.coalesce(1), by=["ch"], dim="t", dt=2, method="linear"
    ).collect()
    b = ops.gapfill(
        irregular.repartition(16), by=["ch"], dim="t", dt=2, method="linear"
    ).collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))


def test_validates_args(spark, irregular):
    with pytest.raises(ValueError, match="method"):
        ops.gapfill(irregular, by=["ch"], dim="t", dt=1, method="cubic")
    ts_df = irregular.select(
        "ch", F.timestamp_micros(F.col("t") * 1_000_000).alias("ts"), "value"
    )
    with pytest.raises(ValueError, match="dt"):
        ops.gapfill(ts_df, by=["ch"], dim="ts", dt=0, method="linear")


# --- interp_to (arbitrary target instants) ---------------------------------


def test_interp_to_matches_numpy_interp_and_edges(spark, irregular):
    from xarray_scipy_spark.operators import interp_to

    # targets include: before-first (null), exact obs instants
    # (bit-exact passthrough), interior points, after-last (carry)
    tpts = [-5, 0, 2, 3, 7, 11, 15, 20]
    targets = spark.createDataFrame(
        [(ch, t) for ch in (0, 1) for t in tpts], "ch int, t long"
    )
    res = interp_to(irregular, targets, by=["ch"], dim="t").collect()
    got = {(r["ch"], r["t"]): r["value"] for r in res}
    assert len(got) == len(tpts) * 2
    series = {
        0: ([0, 3, 4, 9, 15], [1.0, 4.0, -2.0, 5.0, 5.5]),
        1: ([2, 8], [10.0, -10.0]),
    }
    for ch, (ts, vs) in series.items():
        for t in tpts:
            v = got[(ch, t)]
            if t < ts[0]:
                assert v is None, (ch, t)
            elif t > ts[-1]:
                assert v == vs[-1], (ch, t)  # carry past the end
            else:
                assert v == pytest.approx(
                    float(np.interp(t, ts, vs)), abs=1e-12
                ), (ch, t)
    # exact observation instants pass through bit-identically
    assert got[(0, 3)] == 4.0 and got[(1, 2)] == 10.0


def test_interp_to_ffill_and_validation(spark, irregular):
    from xarray_scipy_spark.operators import interp_to

    targets = spark.createDataFrame(
        [(1, 5), (1, 9)], "ch int, t long"
    )
    res = {
        r["t"]: r["value"]
        for r in interp_to(
            irregular.filter("ch = 1"), targets, by=["ch"], dim="t", method="ffill"
        ).collect()
    }
    assert res == {5: 10.0, 9: -10.0}
    with pytest.raises(ValueError, match="method"):
        interp_to(irregular, targets, by=["ch"], dim="t", method="nearest")


@pytest.mark.parametrize("method", ["linear", "ffill"])
def test_interp_to_on_gapfill_grid_equals_gapfill(spark, method):
    """``interp_to`` onto ``gapfill``'s own grid is ``gapfill``: the two
    share one fill rule, also where the first observation is NULL and
    the grid instants before the next one have nothing to carry."""
    from xarray_scipy_spark.operators import interp_to

    df = spark.createDataFrame(
        [(0, 0, None), (0, 3, 4.0), (0, 4, -2.0), (0, 9, 5.0), (0, 15, 5.5),
         (1, 2, 10.0), (1, 8, -10.0)],
        "ch int, t long, value double",
    )
    filled = ops.gapfill(df, by=["ch"], dim="t", dt=1, method=method)
    onto = interp_to(df, filled.select("ch", "t"), by=["ch"], dim="t", method=method)
    want = sorted(map(tuple, filled.collect()))
    assert sorted(map(tuple, onto.collect())) == want
    assert (0, 1, None) in want  # nothing observed yet
