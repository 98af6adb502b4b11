"""Integration smoke against the driver's real parquet (TESTDATA.md).

Round 2 shipped three queries that planned fine on synthetic bigint
fixtures but threw AnalysisException on the actual testdata, whose time
columns are timestamp[us] → TIMESTAMP_NTZ (VERDICT r3 "What's wrong").
This module closes that gap: every contract query must at least PLAN
AND EXECUTE against the real tables at the smallest scale factor. No
oracle here — value correctness is the driver's DuckDB gate
(tools/check_correctness.py locally); this is the cheap local tripwire
for schema/type drift between the engine and its inputs.

Skipped wholesale if the testdata directory is absent (e.g. running the
suite outside the driver container).
"""

from __future__ import annotations

import os

import pytest

from xarray_scipy_spark.contract import ORACLES, QUERIES

SF_DIR = os.environ.get("SPARK_GRAFT_SMOKE_SF_DIR", "/root/testdata/sf0.001")

pytestmark = pytest.mark.skipif(
    not os.path.isdir(SF_DIR), reason=f"driver testdata not present at {SF_DIR}"
)


@pytest.mark.parametrize("name", sorted(QUERIES))
def test_query_runs_on_driver_parquet(spark, name):
    df = QUERIES[name](spark, SF_DIR)
    # a full count (not just planning) so runtime type errors inside
    # UDFs/streaming sinks surface too
    assert df.count() >= 0
    assert df.columns, f"{name} returned no columns"


def test_every_oracle_has_a_query():
    assert set(ORACLES) <= set(QUERIES)


def test_registry_capped_at_100():
    """With a 50-slot driver head, every name is driver-checked at
    least every other round only while N <= 100. A 101st registration
    would leave some name unchecked for longer, so it fails here: a
    new REGISTRY row must be paired with folding a redundant name into
    a variant-tag union under a surviving base."""
    assert len(QUERIES) <= 100, (
        f"{len(QUERIES)} registered queries exceeds the cap of 100 — "
        "fold a redundant query into a union before adding a row"
    )


def _entry_module():
    import importlib.util

    path = os.path.join(
        os.path.dirname(os.path.dirname(__file__)), "__spark_entry__.py"
    )
    spec = importlib.util.spec_from_file_location("__spark_entry__", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def test_driver_head_is_exactly_50():
    """The driver's correctness gate checks the FIRST 50 queries()
    entries. The tail is the key order of the newest CORRECTNESS_r<N>
    file (the names the driver checked last), so the head is exactly
    the other 50."""
    import glob
    import json
    import re

    root = os.path.dirname(os.path.dirname(__file__))
    rounds = {
        int(m.group(1)): f
        for f in glob.glob(os.path.join(root, "CORRECTNESS_r*.json"))
        if (m := re.search(r"CORRECTNESS_r(\d+)\.json$", f))
    }
    with open(rounds[max(rounds)]) as fh:
        newest = list(json.load(fh))
    qs = list(_entry_module().queries())
    assert set(newest) <= set(QUERIES), sorted(set(newest) - set(QUERIES))
    assert qs[50:] == newest
    assert len(qs[:50]) == len(set(qs[:50])) == 50
    assert sorted(qs) == sorted(QUERIES)


def test_contract_registry_is_written_once():
    """The registry is one literal table: no function in contract.py
    reads or writes ORACLES/QUERIES by key, so no oracle builder can
    depend on what was registered before it ran."""
    import ast

    import xarray_scipy_spark.contract as C

    with open(C.__file__) as fh:
        tree = ast.parse(fh.read())
    hits = [
        (fn.name, node.lineno)
        for fn in ast.walk(tree)
        if isinstance(fn, ast.FunctionDef)
        for node in ast.walk(fn)
        if isinstance(node, ast.Subscript)
        and isinstance(node.value, ast.Name)
        and node.value.id in ("ORACLES", "QUERIES")
    ]
    assert hits == []
    assert list(C.QUERIES) == list(C.REGISTRY) == list(C.ORACLES)


def test_stream_twins_are_the_batch_code():
    """The streaming twins run the batch code: the package has one
    ``applyInPandasWithState`` call site (the stateful runner), and no
    module under ``streaming/`` reaches into the sketch expressions
    (``_hll_rank_ladder_sql``, ``_cm_cell``) — ``hll_stream`` and
    ``countmin_stream`` return the batch sketches."""
    import ast
    import pathlib

    import xarray_scipy_spark

    root = pathlib.Path(xarray_scipy_spark.__file__).parent
    calls, refs = [], []
    for path in sorted(root.rglob("*.py")):
        rel = path.relative_to(root).as_posix()
        for node in ast.walk(ast.parse(path.read_text())):
            if isinstance(node, ast.Call) and getattr(node.func, "attr", None) == (
                "applyInPandasWithState"
            ):
                calls.append((rel, node.lineno))
            name = getattr(node, "id", None) or getattr(node, "attr", None)
            if isinstance(node, ast.alias):
                name = node.name
            if rel.startswith("streaming/") and name in ("_hll_rank_ladder_sql", "_cm_cell"):
                refs.append((rel, name))
    assert [rel for rel, _ in calls] == ["streaming/stateful.py"], calls
    assert refs == []


@pytest.mark.parametrize("name", sorted(ORACLES))
def test_tail_queries_match_oracle(spark, name):
    """Every registered query, not only the 50 the driver checks this
    round, keeps VALUE-level verification here: Spark result vs DuckDB
    oracle at sf0.001, byte-exact after the same normalization the
    local check_correctness tool applies (sorted columns, sorted rows,
    widened numeric dtypes). Parametrized over the whole registry so
    the test ids do not move when the driver head rotates."""
    import duckdb
    import numpy as np

    sdf = QUERIES[name](spark, SF_DIR).toPandas()
    con = duckdb.connect()
    for t in (
        "region nation customer supplier part orders lineitem events "
        "documents embeddings"
    ).split():
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'")
    odf = con.sql(ORACLES[name]).df()
    assert len(sdf) == len(odf), f"{name}: rows {len(sdf)} vs {len(odf)}"
    assert sorted(sdf.columns) == sorted(odf.columns)

    def norm(df):
        df = df[sorted(df.columns)].copy()
        for c in df.columns:
            k = df[c].dtype.kind
            if k in "iu":
                df[c] = df[c].astype("int64")
            elif k == "f":
                df[c] = df[c].astype("float64")
            else:
                df[c] = df[c].astype(str)
        return df.sort_values(list(df.columns), kind="mergesort").reset_index(
            drop=True
        )

    a, b = norm(sdf), norm(odf)
    for c in a.columns:
        av, bv = a[c].to_numpy(), b[c].to_numpy()
        if av.dtype.kind == "f":
            assert av.tobytes() == bv.tobytes(), (
                f"{name}.{c}: max_abs_diff="
                f"{float(np.nanmax(np.abs(av - bv))) if len(av) else 0}"
            )
        else:
            assert (av == bv).all(), f"{name}.{c} differs"


def test_entry_smoke(spark):
    mod = _entry_module()
    out = mod.entry(spark)
    assert out.count() >= 0
    assert set(mod.oracle_sql()) <= set(mod.queries())


def test_time_queries_are_session_timezone_independent(spark):
    """The driver runs the contract on ITS OWN session, whose timezone
    we don't control. Every epoch conversion goes through
    functions.timeutil (pure NTZ arithmetic), so results must be
    byte-identical under any session timezone — this runs the
    time-arithmetic queries under a hostile zone and compares to the
    UTC run."""
    from xarray_scipy_spark import contract as C

    # session_window_stats and range_join are plain branches of the
    # stream_window_stats and asof_join unions
    fns = {
        "sessionize": C.QUERIES["sessionize"],
        "session_window_stats": C.q_session_window_stats,
        "asof_join": C.QUERIES["asof_join"],
        "range_join": C.q_range_join,
        "stream_window_stats": C.QUERIES["stream_window_stats"],
    }
    names = list(fns)
    old = spark.conf.get("spark.sql.session.timeZone")

    def run_all():
        return {
            n: sorted(map(tuple, fns[n](spark, SF_DIR).collect()))
            for n in names
        }

    try:
        spark.conf.set("spark.sql.session.timeZone", "UTC")
        utc = run_all()
        spark.conf.set("spark.sql.session.timeZone", "America/New_York")
        ny = run_all()
    finally:
        spark.conf.set("spark.sql.session.timeZone", old)
    for n in names:
        assert utc[n] == ny[n], f"{n} drifted with the session timezone"


def test_bench_headline_names_all_resolve():
    """bench.py silently skips a HEADLINE name that contract.plain
    cannot resolve, so folding a name into a union without keeping its
    plain function would drop its BENCH row instead of failing here."""
    import bench
    from xarray_scipy_spark.contract import plain

    missing = [n for n in bench.HEADLINE if plain(n) is None]
    assert not missing, f"HEADLINE names with no resolvable plan: {missing}"


def test_bench_load_gate_both_paths(monkeypatch):
    """bench._await_quiet_host (VERDICT r12 #2 + the r13 load5 blind
    spot): returns 'ok' only when BOTH load1 and load5 are under the
    gate; waits on either being hot; returns 'EXCEEDED' when the host
    never settles; degrades (not crashes) on a mid-wait getloadavg
    failure — all without real sleeping."""
    import bench

    # quiet host: immediate ok, no sleep
    monkeypatch.setattr(bench.os, "getloadavg", lambda: (1.5, 2.0, 2.5))
    slept = []
    monkeypatch.setattr(bench.time, "sleep", lambda s: slept.append(s))
    la, status = bench._await_quiet_host()
    assert status == "ok" and la == [1.5, 2.0] and slept == []

    # the r13 blind spot: load1 settled but load5 still hot — the old
    # gate passed this and shipped a uniformly smeared battery
    seq = iter([(2.5, 5.9, 5.0), (2.2, 4.5, 4.8), (2.0, 3.1, 4.0)])
    monkeypatch.setattr(bench.os, "getloadavg", lambda: next(seq))
    la, status = bench._await_quiet_host()
    assert status == "ok" and la == [2.0, 3.1] and len(slept) == 2

    # hot host that never settles: EXCEEDED after the bounded tries
    slept.clear()
    monkeypatch.setattr(bench.os, "getloadavg", lambda: (9.9, 9.9, 9.9))
    la, status = bench._await_quiet_host()
    assert status == "EXCEEDED" and la[0] == 9.9
    assert len(slept) == bench._LOAD_TRIES

    # transient getloadavg failure mid-wait (ADVICE r13 #3): keep the
    # last good sample and stop waiting instead of crashing
    slept.clear()
    calls = {"n": 0}

    def flaky():
        calls["n"] += 1
        if calls["n"] == 1:
            return (9.0, 9.0, 9.0)
        raise OSError("loadavg unavailable")

    monkeypatch.setattr(bench.os, "getloadavg", flaky)
    la, status = bench._await_quiet_host()
    assert status == "EXCEEDED" and la == [9.0, 9.0] and len(slept) == 1


def test_bench_sentinel_norm_needs_all_three_sentinels():
    """bench.sentinel_norm: norm_total exists only when all three
    sentinels ran with a positive time, and norm_ok additionally needs
    none of them flagged."""
    import bench

    times = {"audio_spectral": 1.0, "dedup_ngram_spans": 2.0, "sosfiltfilt": 2.0}
    times["rfft"] = 10.0
    total = sum(times.values())

    # clean anchors: normalized and trusted
    assert bench.sentinel_norm(total, times, []) == (5.0, 3.0, True)
    # a flagged sentinel: normalized but not trusted
    assert bench.sentinel_norm(total, times, ["sosfiltfilt"]) == (5.0, 3.0, False)
    # a flag on a non-sentinel row does not matter
    assert bench.sentinel_norm(total, times, ["rfft"])[2] is True

    # a missing sentinel: no figure at all, even with no flags
    missing = {k: v for k, v in times.items() if k != "dedup_ngram_spans"}
    assert bench.sentinel_norm(13.0, missing, []) == (3.0, None, False)
    # a failed sentinel (bench records -1.0): likewise
    failed = {**times, "audio_spectral": -1.0}
    assert bench.sentinel_norm(total, failed, []) == (4.0, None, False)
