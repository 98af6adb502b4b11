"""Differential test of the two core primitives against a local pandas
``groupby(by, dropna=False).apply`` of the same numpy kernels.

The fixture covers the bucket-layout rules stated in the ``core`` module
docstring: a series of length 1, NaN and NULL samples (NULL reaches the
kernel as NaN and propagates), a NULL series key (one series, as Spark's
``groupBy`` has it; it never pairs in the cogrouped primitive), keys
present on one side only, and duplicate coordinates broken by a
tie-break column in ``order``.
"""

import numpy as np
import pandas as pd
import pytest

from xarray_scipy_spark.core import apply_cogrouped_kernel, apply_series_kernel

NAN = float("nan")

# key -> [(t, tie, x)]; x None is a NULL sample
LEFT = {
    1: [(0.0, 0, 1.5)],
    2: [(0.0, 0, 1.0), (0.5, 1, -3.0), (0.5, 0, 2.0), (1.0, 0, NAN), (1.5, 0, 4.0)],
    3: [(10.0 + i, 0, None if i == 3 else float(i)) for i in range(7)],
    4: [(0.25 * i, 0, float(i * i)) for i in range(5)],
    5: [(2.0, 0, 1.0), (4.0, 0, 2.0), (6.0, 0, 3.0)],
    None: [(float(i), 0, i - 1.5) for i in range(4)],
}
RIGHT = {
    1: [(0.0, 0, 2.0), (1.0, 0, -1.0)],
    2: [(0.0, 0, 0.5)],
    3: [(1.0, 1, 1.0), (1.0, 0, 3.0), (2.0, 0, NAN)],
    6: [(0.0, 0, 1.0), (1.0, 0, 1.0)],
    None: [(0.0, 0, 1.0)],
}


def _kernels():
    """The three kernels, built in a function so the Python workers get
    them by value (a test module is not importable there)."""

    def ragged_cumsum(x, lengths):
        return {"y": np.cumsum(x, axis=1), "__lengths__": lengths}

    ragged_cumsum.batch_ragged = True

    def reversed_cumsum(x):
        return {"y": np.cumsum(x[:, ::-1], axis=1)}

    def pair_convolve(c1, x1, c2, x2):
        return {"y": np.convolve(x1, x2)}

    return ragged_cumsum, reversed_cumsum, pair_convolve


def _frame(spark, series, key_type, seed):
    cast = str if key_type == "string" else int
    rows = [
        (None if k is None else cast(k), t, tie, x)
        for k, samples in series.items()
        for t, tie, x in samples
    ]
    rows = [rows[i] for i in np.random.default_rng(seed).permutation(len(rows))]
    df = spark.createDataFrame(rows, f"k {key_type}, t double, tie int, x double")
    return df.repartition(3), df.toPandas()


def _rows(g, y):
    """One oracle series: kernel output ``y`` plus the grid attrs of ``g``."""
    t = g["t"].to_numpy()
    n = len(t)
    return pd.DataFrame(
        {
            "k": g["k"].iloc[0],
            "idx": np.arange(len(y)),
            "y": y,
            "n_in": n,
            "offset": t[0],
            "delta": abs(t[-1] - t[0]) / (n - 1) if n > 1 else 0.0,
        }
    )


def _series_oracle(pdf, kernel):
    def one(g):
        g = g.sort_values(["t", "tie"])
        x = g["x"].to_numpy(dtype=float)[None, :]
        if getattr(kernel, "batch_ragged", False):
            y = kernel(x, lengths=np.array([x.shape[1]]))["y"][0]
        else:
            y = kernel(x)["y"][0]
        return _rows(g, y)

    return pdf.groupby("k", dropna=False)[list(pdf.columns)].apply(one)


def _cogrouped_oracle(pdf1, pdf2, kernel):
    right = {
        k: g.sort_values(["t", "tie"])
        for k, g in pdf2.groupby("k", dropna=True)
    }

    def one(g):
        g = g.sort_values(["t", "tie"])
        r = right.get(g["k"].iloc[0])
        if r is None:  # one side only, or a NULL key: inner alignment drops it
            return None
        y = kernel(
            g["t"].to_numpy(), g["x"].to_numpy(dtype=float),
            r["t"].to_numpy(), r["x"].to_numpy(dtype=float),
        )["y"]
        return _rows(g, y)

    return pdf1.groupby("k", dropna=False)[list(pdf1.columns)].apply(one)


def _canon(pdf):
    """Keys as ints with NULL -> -1, rows in (k, idx) order."""
    pdf = pdf.reset_index(drop=True)[["k", "idx", "y", "n_in", "offset", "delta"]]
    pdf["k"] = [-1 if pd.isna(k) else int(k) for k in pdf["k"]]
    return pdf.sort_values(["k", "idx"]).reset_index(drop=True).astype(
        {"idx": "int64", "n_in": "int64"}
    )


@pytest.mark.parametrize("key_type", ["bigint", "string"])
def test_core_primitives_match_pandas_groupby(spark, key_type):
    df1, pdf1 = _frame(spark, LEFT, key_type, seed=1)
    df2, pdf2 = _frame(spark, RIGHT, key_type, seed=2)
    ragged_cumsum, reversed_cumsum, pair_convolve = _kernels()
    common = dict(out_fields="y double", buckets=2)

    for kernel in (ragged_cumsum, reversed_cumsum):
        got = apply_series_kernel(
            df1, kernel, by=["k"], order=["t", "tie"], values=["x"], **common
        ).toPandas()
        pd.testing.assert_frame_equal(
            _canon(got), _canon(_series_oracle(pdf1, kernel)), rtol=1e-12
        )

    got = apply_cogrouped_kernel(
        df1, df2, pair_convolve, by=["k"], order1=["t", "tie"],
        order2=["t", "tie"], values1=["x"], values2=["x"], **common
    ).toPandas()
    want = _cogrouped_oracle(pdf1, pdf2, pair_convolve)
    assert sorted(set(_canon(want)["k"])) == [1, 2, 3]
    pd.testing.assert_frame_equal(_canon(got), _canon(want), rtol=1e-12)


def test_runners_match_local_pandas(spark):
    """The three runners against local pandas: ``map_batches`` over a
    frame with empty partitions (an empty batch emits nothing), a
    self-cogroup through ``map_groups`` (both sides share lineage, so
    the right side needs fresh attributes), a cogroup key on the right
    side only (emits nothing), and ``sum_batches`` against numpy sums
    with NULL rows present (skipped, and not counted)."""
    from xarray_scipy_spark.core import map_batches, map_groups, sum_batches

    rng = np.random.default_rng(7)
    pdf = pd.DataFrame({"k": rng.integers(0, 3, 40), "x": rng.standard_normal(40)})
    # 8 partitions for 3 keys: at least 5 are empty
    df = spark.createDataFrame(pdf).repartition(8, "k")

    def per_batch(b):
        return {"n": [len(b)], "s": [b["x"].sum()]}

    got = map_batches(df, per_batch, {"n": "bigint", "s": "double"}).toPandas()
    assert (got["n"] > 0).all() and got["n"].sum() == len(pdf)
    assert got["s"].sum() == pytest.approx(pdf["x"].sum(), rel=1e-12)

    class Batches:
        """Hands map_batches' batch function an empty batch, which an
        empty Spark partition does not send."""

        def mapInPandas(self, run, schema):
            return [len(out) for out in run(iter([pdf.iloc[:0], pdf]))]

    assert map_batches(Batches(), per_batch, {"n": "bigint", "s": "double"}) == [1]

    def doubled(b):
        keep = b["x"].to_numpy() > 0
        return {"k": b["k"].to_numpy()[keep], "y": 2 * b["x"].to_numpy()[keep]}

    got = map_batches(df, doubled, {"k": "bigint", "y": "double"}).toPandas()
    want = pd.DataFrame(doubled(pdf))
    pd.testing.assert_frame_equal(
        got.sort_values(["k", "y"]).reset_index(drop=True),
        want.sort_values(["k", "y"]).reset_index(drop=True),
    )

    def pair(left, right):
        return {
            "k": left["k"].to_numpy()[:1],
            "n_left": [len(left)],
            "n_right": [len(right)],
            "x_right": [right["x"].sum()],
        }

    fields = {"k": "bigint", "n_left": "bigint", "n_right": "bigint", "x_right": "double"}
    only_right = spark.createDataFrame(pd.DataFrame({"k": [3, 3], "x": [1.0, 2.0]}))
    for right in (df, df.unionByName(only_right)):
        # the projection prunes the output, which on a shared lineage
        # would prune the right input down to the key
        got = map_groups([df, right], ["k"], pair, fields).select("k", "n_right", "x_right")
        got = got.toPandas().sort_values("k").reset_index(drop=True)
        rpdf = right.toPandas()
        want = pd.DataFrame(
            [pair(g, rpdf[rpdf["k"] == k]) for k, g in pdf.groupby("k")]
        ).explode(list(fields))[list(got.columns)]
        pd.testing.assert_frame_equal(got, want.astype(got.dtypes.to_dict()).reset_index(drop=True))

    rows = [(float(a), [float(a), float(b)]) for a, b in rng.standard_normal((30, 2))]
    nulls = [(None, [1.0, 2.0]), (1.0, None)]
    sdf = spark.createDataFrame(rows + nulls, "a double, v array<double>").repartition(3)

    def moments(b):
        v = np.array(b["v"].tolist(), dtype=float)
        return {"a": b["a"].sum(), "v": v.sum(axis=0), "vv": v.T @ v}

    sums = sum_batches(sdf, moments)
    v = np.array([r[1] for r in rows])
    assert sums["n"] == len(rows)
    assert sums["a"] == pytest.approx([sum(r[0] for r in rows)], rel=1e-12)
    np.testing.assert_allclose(sums["v"], v.sum(axis=0), rtol=1e-12)
    np.testing.assert_allclose(sums["vv"], (v.T @ v).ravel(), rtol=1e-12)
    assert sum_batches(sdf.where("a IS NULL"), moments) is None


def test_python_worker_calls_only_in_core():
    """One Python-worker boundary: ``applyInPandas``, ``mapInPandas``,
    ``applyInArrow`` and ``mapInArrow`` are called in ``core.py`` only.
    ``contract.py``'s three fixture and probe calls are pinned by count;
    ``stateful``'s ``applyInPandasWithState`` is another name, pinned by
    ``test_stream_twins_are_the_batch_code``."""
    import ast
    import pathlib
    from collections import Counter

    import xarray_scipy_spark

    root = pathlib.Path(xarray_scipy_spark.__file__).parent
    names = {"applyInPandas", "mapInPandas", "applyInArrow", "mapInArrow"}
    calls = Counter()
    for path in sorted(root.rglob("*.py")):
        for node in ast.walk(ast.parse(path.read_text())):
            if isinstance(node, ast.Call) and getattr(node.func, "attr", None) in names:
                calls[path.relative_to(root).as_posix()] += 1
    assert calls == {"core.py": 3, "contract.py": 3}, calls
