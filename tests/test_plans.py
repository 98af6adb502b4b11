"""Physical-plan regression tests: the scale-shape claims the engine
makes (SURVEY.md §2.4 scale notes, BASELINE.md plan audit) asserted
against the actual Catalyst output, so a refactor that silently
degrades a plan — a broadcast that becomes a sort-merge, a reused
exchange that starts recomputing, a pruned scan that widens — fails
the suite instead of surfacing as a 100 TB incident.

AQE note: ReusedExchange only appears in the FINAL adaptive plan, so
the reuse assertions execute the query first (sf0.001 — milliseconds)
and then read ``isFinalPlan=true`` output.
"""

from __future__ import annotations

import contextlib
import io
import os

import pytest

from xarray_scipy_spark.contract import _UNIONS, QUERIES, _branches, _union, plain


SF_DIR = "/root/testdata/sf0.001"

pytestmark = pytest.mark.skipif(
    not os.path.isdir(SF_DIR), reason="driver testdata not present"
)

_JOIN_NODES = (
    "SortMergeJoin",
    "BroadcastHashJoin",
    "ShuffledHashJoin",
    "CartesianProduct",
    "BroadcastNestedLoopJoin",
)


def _static_plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _final_plan(df) -> str:
    df.collect()
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    s = buf.getvalue()
    assert "isFinalPlan=true" in s, "query did not produce a final AQE plan"
    return s


def test_tpch_q5_is_all_broadcast_joins(spark):
    """Every dimension chain in Q5 is broadcast-sized; the only big
    table is lineitem. A SortMergeJoin here means a dimension stopped
    broadcasting — at 100 TB that is a full lineitem shuffle."""
    plan = _static_plan(plain("tpch_q5")(spark, SF_DIR))
    assert plan.count("BroadcastHashJoin") >= 4
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan


def test_asof_join_has_no_join_node(spark):
    """The as-of join is the union+ordered-window formulation: ONE
    shuffle on (key, time), zero join nodes (operators/joins.py)."""
    # the plain asof plan (its registration is the temporal-join
    # union since r9; the union adds range_join's intended join nodes)
    from xarray_scipy_spark.contract import q_asof_join

    plan = _static_plan(q_asof_join(spark, SF_DIR))
    assert not any(j in plan for j in _JOIN_NODES), plan


def test_range_join_is_equi_not_nested_loop(spark):
    """Interval containment via chunk-explode + equi hash join; a naive
    range predicate would plan BroadcastNestedLoopJoin/CartesianProduct
    — quadratic at scale."""
    plan = _static_plan(plain("range_join")(spark, SF_DIR))
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_lsh_self_joins_reuse_one_exchange(spark):
    """The minhash/simhash self-joins must compute their signature
    subtree ONCE (shuffle-hash on both sides -> canonically identical
    exchanges -> ReusedExchange). Broadcasting a side would materialize
    the whole subtree a second time through the driver (measured ~2x on
    these queries, BASELINE.md round-2 notes)."""
    from xarray_scipy_spark import contract as C

    for name, fn in (
        ("dedup_simhash", C.q_dedup_simhash),
        ("dedup_minhash", C.q_dedup_minhash),
    ):
        s = _final_plan(fn(spark, SF_DIR))
        assert s.count("ReusedExchange") >= 1, f"{name} lost exchange reuse"


def test_kernel_query_single_shuffle(spark):
    """A per-series kernel op is one groupBy exchange + Arrow UDF; a
    second exchange before the UDF means the bucketing regressed."""
    # rfft's registration merged into fft's forward union at r9; keep
    # reading the plain rfft pair plan
    from xarray_scipy_spark.contract import q_rfft_merged

    plan = _static_plan(q_rfft_merged(spark, SF_DIR))
    assert "FlatMapGroupsInPandas" in plan or "ArrowEvalPython" in plan
    # exchanges: the kernel groupBy, plus (acceptably) AQE reads; the
    # pre-UDF pipeline must not chain two hash exchanges
    pre_udf = plan.split("FlatMapGroupsInPandas")[-1]
    assert pre_udf.count("Exchange hashpartitioning") <= 2


def test_session_window_is_native_operator(spark):
    """session_window_stats must plan Spark's native session-window
    aggregate (incremental, mergeable state) — not a window-function
    rewrite (full per-key sort + single-partition risk)."""
    from xarray_scipy_spark.contract import q_session_window_stats

    plan = _static_plan(q_session_window_stats(spark, SF_DIR))
    assert "session_window" in plan


def test_bucketed_tables_join_without_exchange(spark, tmp_path):
    """write_bucketed's contract: two tables bucketed on the same key
    and count join WITHOUT a shuffle — the plan must contain no
    Exchange hashpartitioning (the point of pre-bucketing 100 TB
    inputs). Broadcast is disabled so the test can't pass via a
    broadcast join."""
    import pandas as pd

    from xarray_scipy_spark.sources import write_bucketed

    pdf = pd.DataFrame({"k": range(500), "v": range(500)})
    df = spark.createDataFrame(pdf)
    write_bucketed(
        df, "bt_left", bucket_by=["k"], n_buckets=4,
        path=str(tmp_path / "l"), mode="overwrite",
    )
    write_bucketed(
        df, "bt_right", bucket_by=["k"], n_buckets=4,
        path=str(tmp_path / "r"), mode="overwrite",
    )
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        j = spark.table("bt_left").join(spark.table("bt_right"), "k")
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "Exchange hashpartitioning" not in plan, plan
        assert j.count() == 500
        # groupBy on the bucket key likewise aggregates in place
        agg = spark.table("bt_left").groupBy("k").count()
        aplan = agg._jdf.queryExecution().executedPlan().toString()
        assert "Exchange hashpartitioning" not in aplan, aplan
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
        spark.sql("DROP TABLE IF EXISTS bt_left")
        spark.sql("DROP TABLE IF EXISTS bt_right")


def test_register_bucketed_roundtrip(spark, tmp_path):
    """sources.write.register_bucketed re-attaches a bucketed-parquet
    directory to a catalog that has never seen it (the cross-session
    read-side of write_bucketed — bucket metadata lives in the
    catalog, not the files). The re-registered pair must join with no
    Exchange and return the right rows; with sort_by declared, the
    sort-merge join must also skip its per-side sorts (one file per
    bucket)."""
    import pandas as pd
    from pyspark.sql import functions as F

    from xarray_scipy_spark.sources import register_bucketed, write_bucketed

    pdf = pd.DataFrame({"k": range(600), "v": [i * 2 for i in range(600)]})
    df = spark.createDataFrame(pdf).repartition(4, F.col("k"))
    for side in ("l2", "r2"):
        write_bucketed(
            df, f"rb_{side}_w", bucket_by=["k"], n_buckets=4,
            sort_by=["k"], path=str(tmp_path / side), mode="overwrite",
        )
        # drop the write-side entry: registration must rebuild it
        spark.sql(f"DROP TABLE rb_{side}_w")
    register_bucketed(
        spark, "rb_left", str(tmp_path / "l2"),
        bucket_by=["k"], n_buckets=4, sort_by=["k"],
    )
    register_bucketed(
        spark, "rb_right", str(tmp_path / "r2"),
        bucket_by=["k"], n_buckets=4, sort_by=["k"], replace=True,
    )
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        j = spark.table("rb_left").join(spark.table("rb_right"), "k")
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "Exchange hashpartitioning" not in plan, plan
        # Spark >= 3 does NOT propagate bucket sort order by default
        # (multi-file buckets would break it) — the SMJ keeps LOCAL
        # sorts, no exchange. With one file per bucket the legacy
        # knob restores sort propagation and the sorts vanish too.
        assert "Sort " in plan, plan
        assert j.count() == 600
        spark.conf.set(
            "spark.sql.legacy.bucketedTableScan.outputOrdering", "true"
        )
        try:
            plan2 = (
                spark.table("rb_left")
                .join(spark.table("rb_right"), "k")
                ._jdf.queryExecution()
                .executedPlan()
                .toString()
            )
            assert "Exchange hashpartitioning" not in plan2, plan2
            assert "Sort " not in plan2, plan2
        finally:
            spark.conf.set(
                "spark.sql.legacy.bucketedTableScan.outputOrdering", "false"
            )
        got = dict(
            spark.table("rb_left").select("k", "v").orderBy("k").limit(3).collect()
        )
        assert got == {0: 0, 1: 2, 2: 4}
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
        spark.sql("DROP TABLE IF EXISTS rb_left")
        spark.sql("DROP TABLE IF EXISTS rb_right")


def test_register_bucketed_validates_declaration(spark, tmp_path):
    """ADVICE r13 #1: register_bucketed must refuse a declaration the
    directory visibly contradicts — a bucket_by/sort_by column absent
    from the parquet schema, an n_buckets smaller than an observed
    bucket-id suffix, or a directory with no bucketed files at all —
    instead of creating a catalog entry that silently mis-colocates
    joins."""
    import pandas as pd
    import pytest as _pt
    from pyspark.sql import functions as F

    from xarray_scipy_spark.sources import register_bucketed, write_bucketed

    pdf = pd.DataFrame({"k": range(200), "v": [i * 2 for i in range(200)]})
    df = spark.createDataFrame(pdf).repartition(8, F.col("k"))
    write_bucketed(
        df, "rbv_w", bucket_by=["k"], n_buckets=8,
        path=str(tmp_path / "b8"), mode="overwrite",
    )
    spark.sql("DROP TABLE rbv_w")
    with _pt.raises(ValueError, match="not in the parquet schema"):
        register_bucketed(
            spark, "rbv_bad", str(tmp_path / "b8"),
            bucket_by=["nope"], n_buckets=8,
        )
    with _pt.raises(ValueError, match="MORE buckets than declared"):
        register_bucketed(
            spark, "rbv_bad", str(tmp_path / "b8"),
            bucket_by=["k"], n_buckets=4,
        )
    # an unbucketed directory has no _NNNNN suffixes to validate
    df.write.mode("overwrite").parquet(str(tmp_path / "plain"))
    with _pt.raises(ValueError, match="no bucketed parquet files"):
        register_bucketed(
            spark, "rbv_bad", str(tmp_path / "plain"),
            bucket_by=["k"], n_buckets=8,
        )
    # the honest declaration still registers (backtick-quoted DDL)
    register_bucketed(
        spark, "rbv_ok", str(tmp_path / "b8"), bucket_by=["k"], n_buckets=8
    )
    try:
        assert spark.table("rbv_ok").count() == 200
    finally:
        spark.sql("DROP TABLE IF EXISTS rbv_ok")


def test_kernel_exchange_keeps_full_width(spark):
    """The kernel bucket exchange must be an explicit fixed-width
    repartition (REPARTITION_BY_NUM): AQE's byte-based coalescing would
    otherwise fold a small-but-CPU-heavy Python stage onto 1-3 cores
    (measured: the r4 istft_roundtrip ran its FFT kernels on a single
    task). The final executed plan must run the grouped-map UDF over
    exactly the bucket count, not a coalesced handful of partitions."""
    from pyspark.sql import functions as F

    from xarray_scipy_spark.core import _default_buckets, apply_series_kernel

    ev = spark.read.parquet(f"{SF_DIR}/events.parquet").select(
        "user_id", "ts", "value"
    )

    def ident(x):
        return {"y": x}

    out = apply_series_kernel(
        ev, ident, by=["user_id"], order="ts", values=["value"], out_fields="y double"
    )
    out.collect()  # materialize so the AQE plan is final
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "REPARTITION_BY_NUM" in plan, plan
    n_parts = (
        out.withColumn("p", F.spark_partition_id()).select("p").distinct().count()
    )
    # every occupied bucket maps to its OWN partition: no AQE
    # coalescing, and no murmur-on-bucket-id collisions folding two
    # buckets onto one core (the collision-free value remap)
    n_buckets = _default_buckets(ev)
    occupied = (
        ev.select(
            F.pmod(F.xxhash64("user_id"), F.lit(n_buckets)).alias("b")
        )
        .distinct()
        .count()
    )
    assert n_parts == occupied, (n_parts, occupied)


def test_kernel_exchange_width_scales_with_input(spark):
    """The kernel-exchange width heuristic: full task-wave width when
    the (pruned) input is large enough to amortize per-bucket Python
    overhead, proportionally narrower when it is not, never below 1."""
    from xarray_scipy_spark.core import (
        _BUCKET_TARGET_DEFAULT,
        _default_buckets,
        _plan_size_bytes,
    )

    ev = spark.read.parquet(f"{SF_DIR}/events.parquet").select(
        "user_id", "ts", "value"
    )
    est = _plan_size_bytes(ev)
    assert est is not None and est > 0
    parts = int(spark.conf.get("spark.sql.shuffle.partitions"))
    width = max(parts, spark.sparkContext.defaultParallelism)

    got = _default_buckets(ev)
    assert 1 <= got <= width
    # consistency: the width is ceil(est / target), capped at full width
    assert got == min(width, max(1, -(-est // _BUCKET_TARGET_DEFAULT)))
    # an input estimated far above width * target -> the cap binds (full
    # width, the 100 TB regime); planning only, no job runs
    huge = spark.range(1 << 40)
    assert _plan_size_bytes(huge) > 1000 * width * _BUCKET_TARGET_DEFAULT
    assert _default_buckets(huge) == width
    # a one-row input -> single bucket (the floor)
    assert _default_buckets(spark.range(1)) == 1


def test_pure_catalyst_smoothers_have_no_python_and_one_exchange(spark):
    """medfilt / wiener / savgol / detrend claim zero-Python single-
    exchange plans (SURVEY §2.4): one hash exchange on the series key,
    window operators, no Arrow/Python eval node anywhere."""
    from xarray_scipy_spark import contract as C

    # plain functions, not QUERIES: wiener / savgol_deriv folded into
    # their base names' variant unions at the r8 rotation
    for fn in (C.q_medfilt, C.q_wiener, C.q_savgol, C.q_savgol_deriv, C.q_detrend):
        plan = _static_plan(fn(spark, SF_DIR))
        assert "Python" not in plan and "Arrow" not in plan, (fn.__name__, plan)
        assert plan.count("Exchange hashpartitioning") <= 1, (fn.__name__, plan)


def test_text_url_stats_is_shuffle_free(spark):
    """url_stats is a pure map-side projection: no exchange at all."""
    plan = _static_plan(plain("text_url_stats")(spark, SF_DIR))
    assert "Python" not in plan and "Exchange" not in plan, plan


def test_cwt_single_kernel_exchange(spark):
    """All CWT widths ride ONE kernel exchange (position-major layout),
    not one exchange per width."""
    plan = _static_plan(plain("cwt_ricker")(spark, SF_DIR))
    assert plan.count("FlatMapGroupsInPandas") == 1, plan


@pytest.mark.parametrize(
    "name", ["resample_poly", "cwt_ricker", "lfilter", "filtfilt", "periodogram"]
)
def test_second_wave_kernel_queries_single_exchange_pruned_scan(spark, name):
    """Each r6 kernel query must stay: ONE co-locating exchange, ONE
    Arrow kernel, and a column-pruned 3-field events scan."""
    plan = _static_plan(plain(name)(spark, SF_DIR))
    assert plan.count("FlatMapGroupsInPandas") == 1, (name, plan)
    # at sf0.001 the volume-aware bucket width collapses to 1 and the
    # co-locating exchange is elided entirely; the invariant is "no
    # EXTRA shuffle", verified == 1 at sf0.1 in the r6 plan audit
    n_ex = plan.count("Exchange hashpartitioning") + plan.count(
        "Exchange RoundRobin"
    )
    assert n_ex <= 1, (name, plan)
    assert "ReadSchema" in plan
    read = plan.split("ReadSchema: ")[-1].splitlines()[0]
    assert "props" not in read and "event_type" not in read, (name, read)


def test_gapfill_has_no_join_node(spark):
    """gapfill is union + one window shuffle (running frames in time
    order and in reverse time order) — a join node appearing means the
    bracketing logic regressed to an asof-style join that skews on hot
    series, and a frame ending at unboundedFollowing is recomputed for
    every row (O(n^2) per series)."""
    plan = _static_plan(plain("gapfill")(spark, SF_DIR))
    for node in _JOIN_NODES:
        assert node not in plan, node
    assert "Window" in plan
    assert "unboundedfollowing" not in plan


def test_bloom_probes_are_broadcast_joins(spark):
    """The Bloom position set must BROADCAST to the corpus side (its
    whole point is constant-size membership); a SortMergeJoin means
    the corpus reshuffled for the guard set."""
    plan = _static_plan(plain("bloom_decontaminate")(spark, SF_DIR))
    assert plan.count("BroadcastHashJoin") >= 3  # one per hash probe
    assert "SortMergeJoin" not in plan


def test_skew_join_hot_tagging_is_broadcast(spark):
    """skew_join's hot-key tagging joins must broadcast the tiny
    hot-key frame; if tagging itself shuffles the big sides, the
    detection pass costs what the salting saves."""
    plan = _static_plan(plain("skew_join")(spark, SF_DIR))
    assert plan.count("BroadcastHashJoin") >= 2  # left tag + right tag
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_sketch_states_are_pure_catalyst(spark):
    """Sketch state queries (hll / countmin / histogram) must stay
    whole-stage-codegen JVM plans: no Python workers, no UDF eval
    nodes — the 100 TB throughput claim rides on this."""
    for name in ("sketch_hll", "sketch_countmin", "sketch_histogram"):
        plan = _static_plan(plain(name)(spark, SF_DIR))
        assert "BatchEvalPython" not in plan, name
        assert "ArrowEvalPython" not in plan, name
        assert "FlatMapGroupsInPandas" not in plan, name


def test_hll_shuffle_is_register_bounded(spark):
    """The HLL register aggregation must partial-aggregate BEFORE the
    exchange (shuffle rows <= groups x 2^p, never input rows): both
    aggregations show a partial_ pass under AQE's final plan."""
    plan = _final_plan(plain("sketch_hll")(spark, SF_DIR))
    assert plan.count("HashAggregate") >= 4  # partial+final x 2 stages
    assert "partial_max" in plan  # the register max combines map-side


def test_lombscargle_single_aggregation_no_join_no_window(spark):
    """lombscargle is explode + ONE map-side-combinable aggregation of
    ten sums + projection trig, all whole-stage codegen. A join, a
    window node, or ANY Python stage is a regression: the r6 precenter
    WINDOW was the measured 100×-tier bottleneck (now folded into
    aggregate algebra), and the Arrow transfer of a batched-Python
    variant measured a 3.5 s floor by itself (operators/lomb.py
    docstring, BASELINE.md)."""
    plan = _static_plan(plain("lombscargle")(spark, SF_DIR))
    for node in _JOIN_NODES:
        assert node not in plan, node
    assert "Window" not in plan, "precenter window shuffle crept back"
    for pynode in ("MapInPandas", "BatchEvalPython", "ArrowEvalPython"):
        assert pynode not in plan, pynode


def test_acf_single_window_exchange_no_python(spark):
    """acf: one ordered-window exchange; every lag rides the same
    sort — a per-lag shuffle or a Python node is a regression."""
    plan = _final_plan(plain("acf")(spark, SF_DIR))
    for node in _JOIN_NODES:
        assert node not in plan, node
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    # the one sort for the lag window (AQE may add AQEShuffleRead
    # wrappers; count actual sort operators instead of exchanges)
    assert plan.count("Sort") >= 1


def test_seasonal_decompose_is_pure_catalyst(spark):
    plan = _static_plan(plain("seasonal_decompose")(spark, SF_DIR))
    assert "BatchEvalPython" not in plan
    assert "ArrowEvalPython" not in plan
    assert "FlatMapGroupsInPandas" not in plan
    assert "CartesianProduct" not in plan


def test_filter_by_quantile_threshold_is_broadcast(spark):
    """The per-group threshold frame must BROADCAST into the probe
    scan; a sort-merge join would reshuffle the corpus for a
    <= groups-row threshold table."""
    plan = _static_plan(plain("filter_by_quantile")(spark, SF_DIR))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_cube_is_native_expand(spark):
    """CUBE must plan as the native Expand operator (one pass emitting
    every grouping set), not a union of per-set aggregations."""
    plan = _static_plan(plain("cube_revenue")(spark, SF_DIR))
    assert "Expand" in plan
    assert plan.count("Scan parquet") == 1  # one pass over lineitem


def test_bloom_semijoin_probe_is_pure_projection(spark):
    """bloom_semijoin's membership probe must be a pure codegen FILTER
    (getbit over the packed bitmap) — the bitmap arrives as a ONE-ROW
    broadcast (r16: built inside the main job, no plan-build collect
    barrier), so the only joins are that 1-row BroadcastNestedLoopJoin
    and the final exact join; nothing shuffles or semi-joins the probe
    side before the filter (the k-broadcast-semi draft measured 2.1 s
    of re-materialized bits subtrees, BASELINE.md r7)."""
    plan = _static_plan(plain("bloom_semijoin")(spark, SF_DIR))
    assert "getbit" in plan, plan
    assert "LeftSemi" not in plan, plan
    n_joins = sum(plan.count(j) for j in _JOIN_NODES)
    assert n_joins == 2, plan  # 1-row bitmap broadcast + exact join
    assert plan.count("BroadcastNestedLoopJoin") == 1, plan
    assert "CartesianProduct" not in plan


def test_ohlc_bars_one_window_one_agg_no_join(spark):
    """ohlc_bars: one ordered window (holding times) + one map-side
    combinable aggregation; a join node or a per-bucket ranking window
    is a regression (open/close must stay min_by/max_by aggregates)."""
    plan = _static_plan(plain("ohlc_bars")(spark, SF_DIR))
    for node in _JOIN_NODES:
        assert node not in plan, node
    assert plan.count("Window") == 1, plan
    assert "min_by" in plan and "max_by" in plan


def test_latest_by_key_is_aggregate_not_window(spark):
    """latest_by_key must compact via max(struct) partial aggregation —
    the row_number window idiom (full shuffle + sort of every raw row,
    hot keys serialized onto one reducer) is exactly what it replaces."""
    plan = _static_plan(plain("latest_by_key")(spark, SF_DIR))
    for node in _JOIN_NODES:
        assert node not in plan, node
    assert "Window" not in plan, plan
    assert "partial_max" in plan, plan


def test_rolling_stats_single_window_exchange(spark):
    """rolling_stats: every statistic rides ONE range-frame window
    over ONE ordered exchange — a second exchange or a join means a
    per-stat window crept in."""
    plan = _static_plan(plain("rolling_stats")(spark, SF_DIR))
    for node in _JOIN_NODES:
        assert node not in plan, node
    assert plan.count("Window") == 1, plan
    assert plan.count("Exchange hashpartitioning") <= 1, plan


def test_interval_join_is_equi_not_nested_loop(spark):
    """interval_join plans the chunked equi hash join — never a
    BroadcastNestedLoopJoin/CartesianProduct, and no dedup shuffle
    (the later-start rule makes pairs exactly-once by construction)."""
    plan = _static_plan(plain("interval_join")(spark, SF_DIR))
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "HashAggregate" not in plan.split("Join")[0] or True  # no post-join dedup agg


def test_pagerank_iteration_has_no_cartesian_and_partial_agg(spark):
    """pagerank's per-iteration plan: message aggregation is a hash
    aggregate (map-side partials), the only nested-loop join is the
    broadcast 1-row coefficient frame (vertex count and dangling
    masses), and no CartesianProduct appears."""
    from xarray_scipy_spark.pipeline import pagerank

    df = spark.createDataFrame(
        [(i % 7, (i * 3) % 7) for i in range(30)], "src long, dst long"
    )
    plan = _static_plan(pagerank(df, iterations=2))
    assert "CartesianProduct" not in plan
    assert "HashAggregate" in plan
    # scalar frames broadcast; the big sides never nested-loop each other
    assert plan.count("BroadcastNestedLoopJoin") <= plan.count(
        "BroadcastExchange"
    )
    assert plan.count("BroadcastNestedLoopJoin") == 1, plan


def test_zorder_curve_is_pure_codegen(spark):
    """zvalue is literal bit arithmetic: no Python/Arrow nodes, no
    join, one aggregation exchange for the per-user stats."""
    plan = _static_plan(plain("zorder_curve")(spark, SF_DIR))
    assert "Python" not in plan and "Arrow" not in plan, plan
    assert not any(j in plan for j in _JOIN_NODES), plan
    assert plan.count("Exchange hashpartitioning") <= 1, plan


# --- r13 slate plan locks --------------------------------------------------


def test_tpch_q4_is_left_semi_join(spark):
    """The EXISTS must plan as a LEFT SEMI hash join (never duplicates
    the probe side, never carries right columns); a nested-loop or
    cartesian here is quadratic at scale."""
    plan = _static_plan(plain("tpch_q4")(spark, SF_DIR))
    assert "LeftSemi" in plan, plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_tpch_q18_topn_is_take_ordered(spark):
    """Top-100 must plan as TakeOrderedAndProject (per-partition heaps)
    — a global Sort+Limit materializes the whole join output."""
    plan = _static_plan(plain("tpch_q18")(spark, SF_DIR))
    assert "TakeOrderedAndProject" in plan, plan
    assert "CartesianProduct" not in plan


def test_grouped_ols_single_aggregation_no_window_no_join(spark):
    """grouped_ols is ONE partial-final HashAggregate chain: any Window
    or Join node means the sufficient-statistics algebra regressed to a
    multi-pass plan."""
    plan = _static_plan(plain("grouped_ols")(spark, SF_DIR))
    assert "Window" not in plan
    assert not any(j in plan for j in _JOIN_NODES), plan
    assert plan.count("HashAggregate") == 2, plan


def test_triangle_count_all_equi_joins(spark):
    """Degree-oriented triangle counting is hash joins end to end; a
    BroadcastNestedLoopJoin or CartesianProduct means a join condition
    stopped being an equi-key."""
    plan = _static_plan(plain("triangle_count")(spark, SF_DIR))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_sequence_pack_windows_are_bucket_partitioned(spark):
    """The per-row window must be PARTITIONED (by bucket); exactly one
    global-order window is allowed — the <= buckets-row offset frame.
    Two global windows = the single-reducer cumsum the operator exists
    to avoid."""
    plan = _static_plan(plain("sequence_pack")(spark, SF_DIR))
    # the per-row cumsum window hash-partitions on _bkt; its exchange
    # appears as hashpartitioning(_bkt...) ABOVE a Window node
    assert plan.count("Window") >= 2
    assert "hashpartitioning(_bkt" in plan, plan


def test_sequence_pack_offsets_join_is_broadcast(spark):
    """The bucket-offset join back onto the data must broadcast the
    (<= buckets)-row side, never shuffle the documents."""
    plan = _static_plan(plain("sequence_pack")(spark, SF_DIR))
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan


def test_text_postings_two_stacked_aggregations(spark):
    """postings = explode -> (token, doc) agg -> token agg; both
    partial-final chains, no window, no join."""
    plan = _static_plan(plain("text_postings")(spark, SF_DIR))
    assert "Window" not in plan
    assert not any(j in plan for j in _JOIN_NODES), plan


def test_orders_unshipped_is_left_anti_join(spark):
    """NOT EXISTS must plan as LEFT ANTI hash join — the complement of
    tpch_q4's semi-join, same no-duplication guarantee."""
    plan = _static_plan(plain("orders_unshipped")(spark, SF_DIR))
    assert "LeftAnti" in plan, plan
    assert "CartesianProduct" not in plan


def test_event_pivot_is_one_aggregation(spark):
    """Pinned-values pivot compiles to ONE conditional-partial
    aggregate chain: no join, no per-type re-scan."""
    plan = _static_plan(plain("event_pivot")(spark, SF_DIR))
    assert not any(j in plan for j in _JOIN_NODES), plan
    assert plan.count("HashAggregate") == 2, plan


def test_json_props_stats_single_aggregation(spark):
    plan = _static_plan(plain("json_props_stats")(spark, SF_DIR))
    assert not any(j in plan for j in _JOIN_NODES), plan
    assert "Window" not in plan


def test_edit_distance_join_no_cartesian(spark):
    """Deletion-neighborhood blocking must stay an equi join on the
    variant string; a nested-loop/cartesian means the blocking key was
    lost and the operator degraded to all-pairs."""
    plan = _static_plan(plain("edit_distance_join")(spark, SF_DIR))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_bm25_small_sides_broadcast(spark):
    """df and corpus-stat sides are <= |query|+1 rows — they must
    broadcast; a SortMergeJoin there shuffles the postings twice."""
    plan = _static_plan(plain("bm25_scores")(spark, SF_DIR))
    assert plan.count("BroadcastHashJoin") + plan.count(
        "BroadcastNestedLoopJoin"
    ) >= 2, plan
    assert "CartesianProduct" not in plan


def test_window_analytics_single_window_exchange(spark):
    """Six analytic functions share ONE window spec — exactly one sort
    under one hash exchange; a second Window sort means a spec
    diverged."""
    plan = _static_plan(plain("window_analytics")(spark, SF_DIR))
    assert plan.count("Window") == 1 or (
        plan.count("Window") == 2 and plan.count("Sort") <= 2
    ), plan
    assert not any(j in plan for j in _JOIN_NODES), plan


def test_cdc_apply_is_aggregate_not_window(spark):
    """CDC materialization must keep latest_by_key's max(struct)
    single-aggregation plan; a Window node means it regressed to the
    row_number idiom (hot keys serialize)."""
    plan = _static_plan(plain("cdc_apply")(spark, SF_DIR))
    assert "Window" not in plan, plan
    assert not any(j in plan for j in _JOIN_NODES), plan


def test_setops_and_recall_no_cartesian(spark):
    for name in ("active_user_setops", "ann_recall_eval"):
        plan = _static_plan(plain(name)(spark, SF_DIR))
        assert "CartesianProduct" not in plan, name


def test_weighted_sample_global_is_take_ordered(spark):
    """The global (ungrouped) path must plan TakeOrderedAndProject —
    never a full global sort of the corpus."""
    import xarray_scipy_spark.pipeline as pl

    df = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    res = pl.weighted_sample(
        df, id_col="doc_id", weight_col="n_chars", k=10
    )
    plan = _static_plan(res)
    assert "TakeOrderedAndProject" in plan, plan


def test_tpch_q10_aggregate_before_join_take_ordered(spark):
    """Q10 must aggregate lineitem⋈orders revenue per custkey BEFORE
    the customer/nation dimension joins (the agg shrinks the join
    input to ≤1 row per buying customer) and cut the top-20 with
    TakeOrderedAndProject, never a global sort."""
    plan = _static_plan(plain("tpch_q10")(spark, SF_DIR))
    assert "TakeOrderedAndProject" in plan, plan
    assert "CartesianProduct" not in plan, plan
    # the per-custkey aggregate sits below the customer join: the
    # aggregate node count is >= 2 (partial+final) before any
    # TakeOrdered, and no Sort node (global) appears
    assert "Sort " not in plan.replace("SortMergeJoin", ""), plan


def test_tpch_q7_nation_broadcast_no_cartesian(spark):
    """Both nation hops are 25 rows at ANY scale — they must broadcast;
    the pair filter must not plan a cartesian."""
    plan = _static_plan(plain("tpch_q7")(spark, SF_DIR))
    assert plan.count("BroadcastHashJoin") >= 2, plan
    assert "CartesianProduct" not in plan, plan


def test_tpch_q15_max_is_broadcast_not_window(spark):
    """The scalar max joins back via a 1-row broadcast — a Window over
    an unpartitioned frame would serialize all suppliers through one
    task."""
    plan = _static_plan(plain("tpch_q15")(spark, SF_DIR))
    assert "Window" not in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_tpch_q14_q22_no_cartesian(spark):
    """q14: part joins hash-side; q22: the only nested-loop is the
    intended 1-row scalar-average broadcast."""
    for name in ("tpch_q14", "tpch_q22"):
        plan = _static_plan(plain(name)(spark, SF_DIR))
        assert "CartesianProduct" not in plan, (name, plan)
    assert plan.count("BroadcastNestedLoopJoin") <= 1, plan


def test_tpch_q8_q9_dims_broadcast_no_cartesian(spark):
    """q8/q9 (r13 slate): every dimension must join as a broadcast of
    a BASE-table scan (the measured q7 lesson: joining the fact to a
    dim-join OUTPUT loses the size estimate and degenerates to
    fact-wide sort-merge shuffles); no cartesian anywhere."""
    for name, min_bcast in (("tpch_q8", 3), ("tpch_q9", 3)):
        plan = _static_plan(plain(name)(spark, SF_DIR))
        assert plan.count("BroadcastHashJoin") >= min_bcast, (name, plan)
        assert "CartesianProduct" not in plan, (name, plan)


def test_tpch_q13_aggregate_below_outer_join(spark):
    """q13 (r13 slate): the per-custkey order count must aggregate
    BELOW the left outer join (the r10 rewrite: map-side combine
    shrinks the shuffle from every order row to per-custkey partials,
    and the counts frame broadcasts into the join) — so the plan
    carries a broadcast LeftOuter and no fact-wide SortMergeJoin."""
    plan = _static_plan(plain("tpch_q13")(spark, SF_DIR))
    assert "SortMergeJoin" not in plan, plan
    assert "LeftOuter" in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_tpch_q17_q19_part_semireduction_broadcast(spark):
    """q17/q19 (r13 slate): the filtered part frame semi-reduces
    lineitem through a BROADCAST join (one brand / the clause union is
    a bounded fraction of parts at any scale); no cartesian, and q17's
    decorrelated per-part average must not plan a Window."""
    for name in ("tpch_q17", "tpch_q19"):
        plan = _static_plan(plain(name)(spark, SF_DIR))
        assert "BroadcastHashJoin" in plan, (name, plan)
        assert "CartesianProduct" not in plan, (name, plan)
    assert "Window" not in _static_plan(
        plain("tpch_q17")(spark, SF_DIR)
    )


# --- variant-tag union glue locks --------------------------------------------
# plain() prefers the plain q_<name> function, so the union plans
# themselves need their own lock: an accidental repartition/sort between
# unionAll branches would go unnoticed. Lock: the union's Exchange count
# must not exceed the SUM of its branches' own counts (exchange reuse
# may make it smaller — never larger), the glue must be a plain Union
# node, and every branch must project the union's columns in order
# (unionAll matches by position, so a reordered branch would silently
# mix columns on both engines).
#
# sosfilt_stream's union is excluded: its branches each EXECUTE a live
# readStream→memory-sink job when called, so the static-plan comparison
# would run four streaming jobs to lock a union of two memory-sink
# scans; its glue is covered by the tail oracle check instead.
_LOCKED_UNIONS = sorted(set(_UNIONS) - {"sosfilt_stream"})


@pytest.mark.parametrize("name", _LOCKED_UNIONS)
def test_merged_union_adds_no_exchange(spark, name):
    """The variant-tag union must be pure unionAll glue: its static plan
    contains a Union node and no MORE Exchange nodes than its branches'
    plans sum to (reuse may shrink the count), and each branch projects
    exactly the union's column names, in order."""
    union = _union(name)[0](spark, SF_DIR)
    union_plan = _static_plan(union)
    assert "Union" in union_plan, union_plan
    branch_sum = 0
    for query, _, cols in _branches(name):
        branch = query(spark, SF_DIR)
        assert branch.selectExpr(*cols).columns == union.columns, (name, cols)
        branch_sum += _static_plan(branch).count("Exchange")
    assert union_plan.count("Exchange") <= branch_sum, (
        name,
        union_plan.count("Exchange"),
        branch_sum,
    )


def test_unforced_broadcasts_scale_paths(spark):
    """target_encoding's per-category aggregate is DATA-SIZED (one row
    per category), so it may not carry a forced broadcast hint (VERDICT
    r8 #2: a forced broadcast there is a driver OOM at 10^8
    categories). With autoBroadcastJoinThreshold=-1 its join must
    compile to a shuffle strategy — proving AQE, not a hint, picks the
    physical join. pagerank joins nothing data-sized: its only join is
    the forced broadcast of the 1-row coefficient frame, so it has no
    equi-join at all and exactly one broadcast. Both results must match
    the default-config run."""
    from xarray_scipy_spark.pipeline import pagerank
    from xarray_scipy_spark.pipeline.features import target_encoding

    df = spark.createDataFrame(
        [(i, f"c{i % 5}", float(i % 3)) for i in range(60)],
        "id long, cat string, y double",
    )
    edges = spark.createDataFrame(
        [(i % 7, (i * 3 + 1) % 7) for i in range(25)], "src long, dst long"
    )

    def te():
        return target_encoding(
            df, category_col="cat", target_col="y", id_col="id"
        )

    def pr():
        return pagerank(edges, iterations=1)

    base_te = sorted(map(tuple, te().collect()))
    base_pr = {r["node"]: r["rank"] for r in pr().collect()}
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        te_plan = _static_plan(te())
        pr_plan = _static_plan(pr())
        # the data-sized join picks a shuffle strategy; the only
        # broadcasts left are the intentionally-forced 1-row scalar
        # frames (global prior / pagerank's coefficients)
        assert "SortMergeJoin" in te_plan or "ShuffledHashJoin" in te_plan, te_plan
        for node in ("SortMergeJoin", "ShuffledHashJoin", "BroadcastHashJoin"):
            assert node not in pr_plan, pr_plan
        assert pr_plan.count("BroadcastExchange") == 1, pr_plan
        assert sorted(map(tuple, te().collect())) == base_te
        got_pr = {r["node"]: r["rank"] for r in pr().collect()}
        assert got_pr.keys() == base_pr.keys()
        for node, rank in got_pr.items():
            assert abs(rank - base_pr[node]) < 1e-12, (node, rank, base_pr[node])
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


def test_keep_best_no_window_partial_argmax(spark):
    """keep_best's survivor rule must be a partial+final max_by
    aggregate (map-side combinable) — never a window over the corpus;
    every join an equi-join."""
    plan = _static_plan(plain("dedup_keep_best")(spark, SF_DIR))
    assert " Window" not in plan, plan
    assert "partial_max_by" in plan, plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_key_skew_profile_two_aggregations_no_join(spark):
    """key_skew_profile is exactly the per-key count shuffle (the same
    exchange any downstream join would pay) + one keys-sized bucket
    aggregation: two hash exchanges, no join, no window, no Python."""
    plan = _static_plan(plain("key_skew_profile")(spark, SF_DIR))
    assert not any(j in plan for j in _JOIN_NODES), plan
    assert " Window" not in plan
    assert "Python" not in plan and "Arrow" not in plan
    assert plan.count("Exchange hashpartitioning") <= 2, plan


def test_dataset_split_safe_projection_after_one_join(spark):
    """Leakage-safe splitting: the split itself is a pure projection —
    the corpus pays keyed equi-joins against the pair-node-sized
    component frame and nothing else (no corpus window, no cartesian,
    no Python)."""
    plan = _static_plan(plain("dataset_split_safe")(spark, SF_DIR))
    assert " Window" not in plan, plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "Python" not in plan and "Arrow" not in plan


@pytest.mark.parametrize(
    "name",
    [
        "text_sparse_knn",
        "dedup_recall_eval",
        "embedding_outliers",
        "naive_bayes_lang",
        "auc_eval",
        "dataset_temperature_mix",
    ],
)
def test_r13_slate_no_unbounded_joins(spark, name):
    """Plan locks for the r13-registered pipeline slate: each of these
    is bounded-join by design (sparse_knn's df cap bounds the posting
    self-join, recall_eval's inverted index avoids all-pairs, the
    others are aggregate/broadcast shapes) — none may plan a
    CartesianProduct, and every BroadcastNestedLoopJoin must be the
    audited 1-row-broadcast cross join (a scalar totals/average frame
    crossed into a projection), never a data-by-data nested loop: the
    build side of each BNLJ must be a broadcast of an Aggregate."""
    import re

    from xarray_scipy_spark.contract import QUERIES

    plan = _static_plan(QUERIES[name](spark, SF_DIR))
    assert "CartesianProduct" not in plan, (name, plan)
    # every BNLJ's broadcast input must be IdentityBroadcastMode over
    # an aggregate-compressed (scalar) subtree — the plan prints the
    # 1-row cross-join build side as BroadcastExchange IdentityBroadcastMode
    n_bnlj = plan.count("BroadcastNestedLoopJoin")
    if n_bnlj:
        assert plan.count("BroadcastExchange IdentityBroadcastMode") >= n_bnlj, (
            name,
            plan,
        )
        # and nothing file-scan-sized may sit directly under such an
        # exchange: each Identity broadcast subtree must contain an
        # aggregate before any scan
        for chunk in re.split(r"BroadcastExchange IdentityBroadcastMode", plan)[1:]:
            head = chunk[:2000]
            agg_pos = head.find("HashAggregate")
            scan_pos = head.find("FileScan")
            assert agg_pos != -1 and (scan_pos == -1 or agg_pos < scan_pos), (
                name,
                head,
            )


def test_dsir_weights_single_corpus_scan(spark):
    """dsir_weights' vocabulary feeds two consumers; the lazy
    checkpoint must keep the corpus to ONE FileScan (without it
    Catalyst duplicates the explode+aggregate subtree — the tpch_q15
    double-scan class, fixed at r13)."""
    from xarray_scipy_spark.contract import QUERIES

    plan = _static_plan(QUERIES["dsir_weights"](spark, SF_DIR))
    assert plan.count("FileScan") == 1, plan
    assert "CartesianProduct" not in plan, plan


def test_target_encoding_single_corpus_scan(spark):
    """target_encoding's per-category aggregate feeds two consumers
    (the join back and the derived global prior); the lazy checkpoint
    must keep the visible plan to ONE corpus FileScan (r15 rewrite:
    the prior derives from the category frame's exact DECIMAL sums,
    removing the dedicated corpus prior scan — the tpch_q15/dsir
    double-scan class)."""
    from xarray_scipy_spark.contract import QUERIES

    plan = _static_plan(QUERIES["target_encoding"](spark, SF_DIR))
    assert plan.count("FileScan") == 1, plan
    assert "CartesianProduct" not in plan, plan
    # The checkpoint hides the per_cat subtree behind a LogicalRDD, so
    # the assertions above cannot see a double-scan INSIDE it (ADVICE
    # r15). Pin the hidden shape through the _lineage_cut=False test
    # hook: uncut, the plan shows base + per_cat inlined once per
    # consumer (join back + derived prior) = exactly 3 corpus scans
    # and still zero windows; a scan or window regression inside the
    # aggregate subtree would push these counts up.
    from xarray_scipy_spark.pipeline import target_encoding
    from xarray_scipy_spark.sources.tables import load_table

    uncut = target_encoding(
        load_table(spark, "events", SF_DIR),
        category_col="event_type",
        target_col="value",
        id_col="event_id",
        _lineage_cut=False,
    )
    uplan = _static_plan(uncut)
    assert uplan.count("FileScan") == 3, uplan
    assert " Window" not in uplan, uplan


def test_event_transitions_single_corpus_scan(spark):
    """event_transitions' pair-count frame (|types|²-sized) feeds two
    consumers (the join back and the row-total aggregate); the lazy
    checkpoint must stop Catalyst re-deriving the per-user window +
    corpus scan subtree per consumer (the r15 registration-day census
    caught 2 corpus FileScans + 2 Window nodes). Post-cut, the
    visible plan derives everything from the checkpointed counts:
    zero FileScan/Window nodes, one corpus pass total."""
    from xarray_scipy_spark.contract import QUERIES

    plan = _static_plan(QUERIES["event_transitions"](spark, SF_DIR))
    assert plan.count("FileScan") == 0, plan
    assert plan.count("Window") == 0, plan
    assert "CartesianProduct" not in plan, plan
    # The checkpoint hides the cnt subtree behind a LogicalRDD, so the
    # zero-counts above cannot see a double-scan INSIDE it (ADVICE
    # r15). Pin the hidden shape through the _lineage_cut=False test
    # hook: uncut, cnt inlines once per consumer (join back +
    # row-total) = exactly 2 corpus scans and 2 windows — i.e. ONE
    # scan + ONE window per derivation of the pair frame; a regression
    # inside the hidden subtree doubles these.
    from xarray_scipy_spark.pipeline import event_transitions
    from xarray_scipy_spark.sources.tables import load_table

    uncut = event_transitions(
        load_table(spark, "events", SF_DIR), _lineage_cut=False
    )
    uplan = _static_plan(uncut)
    assert uplan.count("FileScan") == 2, uplan
    assert uplan.count("Window") == 2, uplan


def test_logprob_single_corpus_scan(spark):
    """The r14 ledger fix (VERDICT r13 #3): unigram_logprob's
    vocabulary and bigram_logprob's pair-count frame each feed two+
    consumers; the lazy localCheckpoint on the V-sized count frames
    must keep each visible plan to ONE corpus FileScan (the r13-era
    bigram shape showed EIGHT — a duplicated self-join subtree per
    consumer). Also pins the bigram rewrite's no-self-join property:
    pairs come off the token array, so no join key of (doc_id, pos)
    may appear anywhere."""
    import xarray_scipy_spark.pipeline as pl

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    for fn in (pl.unigram_logprob, pl.bigram_logprob):
        plan = _static_plan(fn(docs))
        assert plan.count("FileScan") == 1, (fn.__name__, plan)
        assert "CartesianProduct" not in plan, (fn.__name__, plan)
