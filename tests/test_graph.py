"""pipeline.graph.pagerank — numpy power-iteration parity, the
Σ rank = 1 invariant, dangling handling, bad input, a lazy build, and
argument gates."""

from __future__ import annotations

import numpy as np
import pytest

from xarray_scipy_spark.pipeline import pagerank


def _numpy_pagerank(edges, n_iter=10, d=0.85):
    nodes = sorted({v for e in edges for v in e})
    idx = {v: i for i, v in enumerate(nodes)}
    n = len(nodes)
    out: dict[int, list[int]] = {i: [] for i in range(n)}
    for s, t in edges:
        out[idx[s]].append(idx[t])
    r = np.full(n, 1.0 / n)
    for _ in range(n_iter):
        new = np.full(n, (1.0 - d) / n)
        dm = sum(r[v] for v in range(n) if not out[v])
        new += d * dm / n
        for v, ds in out.items():
            for u in ds:
                new[u] += d * r[v] / len(ds)
        r = new
    return {v: r[idx[v]] for v in nodes}


def test_pagerank_matches_numpy_power_iteration(spark):
    edges = [(0, 1), (0, 2), (1, 2), (2, 0), (4, 2), (4, 3)]
    df = spark.createDataFrame(edges, "src long, dst long")
    got = {r["node"]: r["rank"] for r in pagerank(df, iterations=12).collect()}
    exp = _numpy_pagerank(edges, n_iter=12)
    assert set(got) == set(exp)
    for v in exp:
        assert got[v] == pytest.approx(exp[v], abs=1e-12)
    assert sum(got.values()) == pytest.approx(1.0, abs=1e-9)


def test_pagerank_larger_random_graph_parity(spark):
    rng = np.random.default_rng(3)
    edges = list(
        {
            (int(s), int(t))
            for s, t in zip(
                rng.integers(0, 40, 300), rng.integers(0, 40, 300)
            )
        }
    )
    df = spark.createDataFrame(edges, "src long, dst long")
    got = {r["node"]: r["rank"] for r in pagerank(df, iterations=10).collect()}
    exp = _numpy_pagerank(edges, n_iter=10)
    for v in exp:
        assert got[v] == pytest.approx(exp[v], abs=1e-11)


def test_pagerank_all_dangling_stays_uniform(spark):
    # one edge into a sink: after many iterations ranks still sum to 1
    df = spark.createDataFrame([(1, 2)], "src long, dst long")
    got = {r["node"]: r["rank"] for r in pagerank(df, iterations=7).collect()}
    assert sum(got.values()) == pytest.approx(1.0, abs=1e-12)
    assert got[2] > got[1]  # the sink receives, never sends


def test_pagerank_zero_iterations_is_uniform(spark):
    df = spark.createDataFrame([(0, 1), (1, 0)], "src long, dst long")
    got = {r["node"]: r["rank"] for r in pagerank(df, iterations=0).collect()}
    assert got == {0: pytest.approx(0.5), 1: pytest.approx(0.5)}


def test_pagerank_argument_gates(spark):
    df = spark.createDataFrame([(0, 1)], "src long, dst long")
    with pytest.raises(ValueError, match="iterations"):
        pagerank(df, iterations=-1)
    with pytest.raises(ValueError, match="damping"):
        pagerank(df, damping=1.0)


# multi-edges (0→1 twice), a self-loop (3→3), dangling vertices (2, 5)
_SHAPED_EDGES = [(0, 1), (0, 1), (0, 2), (1, 0), (1, 3), (3, 3), (3, 5), (4, 0)]


@pytest.mark.parametrize("iterations", [0, 1, 2, 10, 25])
def test_pagerank_parity_every_history_length(spark, iterations):
    df = spark.createDataFrame(_SHAPED_EDGES, "src long, dst long")
    got = {
        r["node"]: r["rank"]
        for r in pagerank(df, iterations=iterations).collect()
    }
    exp = _numpy_pagerank(_SHAPED_EDGES, n_iter=iterations)
    assert set(got) == set(exp)
    for v in exp:
        assert got[v] == pytest.approx(exp[v], abs=1e-12)
    assert sum(got.values()) == pytest.approx(1.0, abs=1e-12)


def test_pagerank_build_starts_no_job(spark):
    sc = spark.sparkContext
    df = spark.createDataFrame(_SHAPED_EDGES, "src long, dst long")
    group = "test_pagerank_build_starts_no_job"
    sc.setJobGroup(group, group)
    try:
        pagerank(df, iterations=10)
        jobs = list(sc.statusTracker().getJobIdsForGroup(group))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert jobs == []


def test_pagerank_drops_null_endpoints(spark):
    edges = [(0, 1), (1, 2), (2, 0), (2, 3)]
    df = spark.createDataFrame(
        edges + [(None, 1), (3, None), (None, None)], "src long, dst long"
    )
    got = {r["node"]: r["rank"] for r in pagerank(df, iterations=6).collect()}
    exp = _numpy_pagerank(edges, n_iter=6)
    assert set(got) == set(exp)  # no NULL vertex, N = 4
    for v in exp:
        assert got[v] == pytest.approx(exp[v], abs=1e-12)


def test_pagerank_empty_edges_is_empty(spark):
    df = spark.createDataFrame([], "src long, dst long")
    assert pagerank(df, iterations=3).collect() == []
    only_null = spark.createDataFrame([(None, 1)], "src long, dst long")
    out = pagerank(only_null, iterations=0)
    assert out.columns == ["node", "rank"]
    assert out.collect() == []


# --- triangle_count --------------------------------------------------------


def _brute_triangles(edges):
    import itertools

    und = {frozenset(e) for e in edges if e[0] != e[1]}
    nodes = sorted({v for e in und for v in e})
    exp: dict[int, int] = {}
    for x, y, z in itertools.combinations(nodes, 3):
        if {frozenset((x, y)), frozenset((y, z)), frozenset((x, z))} <= und:
            for v in (x, y, z):
                exp[v] = exp.get(v, 0) + 1
    return exp


def test_triangle_count_matches_brute_force(spark):
    import random

    from xarray_scipy_spark.pipeline import triangle_count

    rng = random.Random(17)
    edges = set()
    while len(edges) < 200:
        a, b = rng.randrange(45), rng.randrange(45)
        edges.add((a, b))  # keeps some self-loops on purpose
    df = spark.createDataFrame(sorted(edges), "src long, dst long")
    got = {r["node"]: r["n_tri"] for r in triangle_count(df).collect()}
    assert got == _brute_triangles(edges)


def test_triangle_count_bipartite_is_empty(spark):
    from xarray_scipy_spark.pipeline import triangle_count

    # complete bipartite K33 has plenty of 4-cycles and zero triangles
    edges = [(a, b) for a in (0, 1, 2) for b in (10, 11, 12)]
    df = spark.createDataFrame(edges, "src long, dst long")
    assert triangle_count(df).count() == 0


def test_triangle_count_complete_graph_and_direction_invariance(spark):
    from xarray_scipy_spark.pipeline import triangle_count

    # K5: every node is in C(4,2) = 6 triangles; duplicate/reversed
    # edges and self-loops must not change anything
    edges = [(a, b) for a in range(5) for b in range(5) if a != b]
    edges += [(0, 0), (1, 2), (2, 1)]
    df = spark.createDataFrame(edges, "src long, dst long")
    got = {r["node"]: r["n_tri"] for r in triangle_count(df).collect()}
    assert got == {v: 6 for v in range(5)}
