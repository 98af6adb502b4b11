"""The engine's core primitive: grouped per-series kernel application.

The reference library is one pattern applied seventeen ways —
``xr.apply_ufunc(kernel, input_core_dims=[dim], dask="parallelized",
allow_rechunk=True)`` (``/root/reference/xarray_scipy/signal.py:84, 126,
186, 292, 353, 384, 408, 438``): partition by the broadcast dims, apply a
1-D kernel along the core dim per slice, reassemble, recompute coords.

Spark translation (SURVEY.md §2.1):

- broadcast dims  -> ``groupBy`` keys,
- ``allow_rechunk`` (make the core dim contiguous per worker) -> the
  shuffle that ``groupBy().applyInPandas`` performs,
- the scipy kernel -> a numpy kernel running on Arrow batches inside the
  grouped-map pandas UDF,
- ``output_sizes``/``output_dtypes`` -> the UDF's declared returnType,
- coordinate recomputation -> **native Catalyst expressions** on
  group-constant columns (``n_in``/``offset``/``delta``) that the UDF
  emits for free, so no second shuffle or join is ever needed for
  coordinates.

Batched execution (the 100 TB design):

A naive translation keys the shuffle by the broadcast dims directly —
one pandas group per series — which pays Arrow + pandas + kernel-call
overhead once PER SERIES. With millions of short series that overhead
dominates. Instead, the single-input primitive shuffles by
``hash(broadcast dims) % n_buckets``: one pandas group per BUCKET, each
holding many complete series. Inside the UDF the bucket is sorted once,
series boundaries are found vectorized, equal-length series are stacked
into ``(n_series, n)`` blocks, and the kernel runs once per block —
numpy-vectorized ACROSS series (this is what makes the sequential IIR
recursion scale: the per-sample loop runs once per block, not once per
series). Still exactly ONE shuffle; bucket count scales with the
cluster (default: 2x shuffle partitions), and AQE coalesces or splits
buckets as sizes demand. A single series never spans buckets, so the
per-worker memory bound is unchanged from the reference's own
``allow_rechunk`` concession (one series must fit one worker).
"""

from __future__ import annotations

from collections.abc import Callable, Sequence

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F

__all__ = [
    "apply_series_kernel",
    "apply_cogrouped_kernel",
    "resolve_keep_attrs",
    "GROUP_ATTR_FIELDS",
]

# group-constant columns emitted by every kernel application; used by the
# operator layer to build coordinate expressions natively in SQL
GROUP_ATTR_FIELDS = "n_in bigint, offset double, delta double"

_BUCKET = "__bucket__"

# bucket id -> exchange value such that hashpartitioning sends value i
# to partition i. Plain `repartition(n, bucket)` murmur-hashes the
# bucket id AGAIN, so n bucket values land on ~n(1-1/e) ≈ 0.63n
# partitions (balls-in-bins) and the worst partition carries 3-4
# buckets — a third of the cluster idles through every kernel stage.
# The probe job below asks Spark's own hash (Murmur3, the exact
# function HashPartitioning applies to a BIGINT column) for
# representative values, one per target partition; cached per n for
# the session's lifetime.
_BUCKET_REPS: dict[int, list[int]] = {}


def _collision_free_bucket_values(spark, n: int) -> list[int]:
    reps = _BUCKET_REPS.get(n)
    if reps is None:
        span = 64 * n
        byp: dict[int, int] = {}
        while len(byp) < n:
            rows = spark.range(0, span).selectExpr(
                "id", f"pmod(hash(id), {n}) AS p"
            ).collect()
            for r in rows:
                byp.setdefault(r["p"], r["id"])
            span *= 2
        reps = [int(byp[i]) for i in range(n)]
        _BUCKET_REPS[n] = reps
    return reps


def _bucket_expr(spark, by: Sequence[str], n_buckets: int):
    """hash(series key) -> one of n_buckets collision-free exchange
    values (BIGINT), so the explicit repartition gives exactly one
    bucket per partition."""
    reps = _collision_free_bucket_values(spark, n_buckets)
    arr = F.array(*[F.lit(v).cast("bigint") for v in reps])
    idx = (F.pmod(F.xxhash64(*by), F.lit(n_buckets)) + 1).cast("int")
    return F.element_at(arr, idx)


def _ddl_of(df: DataFrame, cols: Sequence[str]) -> str:
    by_field = {f.name: f.dataType.simpleString() for f in df.schema.fields}
    return ", ".join(f"{c} {by_field[c]}" for c in cols)


def resolve_keep_attrs(df: DataFrame, keep_attrs: bool | None) -> list[str]:
    """The reference resolves a per-call/global attrs-propagation flag
    (``_keep_attrs``, signal.py:10-13). Here: per-call ``keep_attrs``
    falls back to the session conf ``spark.xarray_scipy_spark.keep_attrs``;
    when on and the frame carries an ``attrs`` sidecar column
    (group-constant map of metadata), it rides through the kernel."""
    if keep_attrs is None:
        keep_attrs = (
            str(
                df.sparkSession.conf.get("spark.xarray_scipy_spark.keep_attrs", "false")
            ).lower()
            == "true"
        )
    return ["attrs"] if keep_attrs and "attrs" in df.columns else []


def _coord_floats(col: pd.Series) -> np.ndarray:
    """Coordinate column -> float64 array; datetimes become epoch-ns
    (the reference special-cases datetime coords the same way its
    ``hilbert`` does at signal.py:316-321 — numeric internally)."""
    if str(col.dtype).startswith("datetime64"):
        return col.to_numpy().astype("datetime64[ns]").view("int64").astype(float)
    return col.to_numpy(dtype=float)


def _series_bounds(pdf: pd.DataFrame, by: Sequence[str]) -> tuple[np.ndarray, np.ndarray]:
    """Start/end row offsets of each series in a bucket sorted by
    ``by + order``: a new series starts where any key column changes."""
    changed = np.zeros(len(pdf), dtype=bool)
    changed[0] = True
    for c in by:
        a = pdf[c].to_numpy()
        changed[1:] |= a[1:] != a[:-1]
    starts = np.flatnonzero(changed)
    ends = np.r_[starts[1:], len(pdf)]
    return starts, ends


# Per-bucket input-volume target for the kernel exchange width
# heuristic (Catalyst-estimated bytes of the PRUNED kernel input, not
# raw file bytes). Tunable per session for unusual work-per-byte
# kernels; the default was measured across the operator families at
# sf0.1 and the 10x tier.
_BUCKET_TARGET_CONF = "spark.xarray_scipy_spark.kernel.bucketTargetBytes"
_BUCKET_TARGET_DEFAULT = 96 * 1024
# Catalyst reports Long.MaxValue-ish sizes for relations it cannot
# estimate (e.g. RDD-backed local relations): treat those as unknown.
_SIZE_UNKNOWN = 1 << 60


def _plan_size_bytes(df: DataFrame) -> int | None:
    """Catalyst's optimizer estimate of the frame's size in bytes
    (column-pruned — the caller selects the kernel columns first).
    None when the estimate is unavailable or a sentinel 'unknown'."""
    try:
        est = int(str(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()))
    except Exception:
        return None
    return est if 0 < est < _SIZE_UNKNOWN else None


def _default_buckets(df: DataFrame) -> int:
    """Kernel-exchange width: one bucket per shuffle partition, reduced
    when the input is too small to amortize per-bucket Python overhead.

    The exchange itself stays an explicit fixed-width repartition (AQE's
    byte-based coalescing is the wrong heuristic for a CPU-bound Python
    stage — measured folding FFT kernels onto 1-3 cores in r4), but the
    WIDTH is sized to the data: every bucket pays real per-task costs
    (python-worker attach, Arrow stream setup, scheduling — about
    65 ms/task of wall time on local[1] on a 4-CPU host: a 512-row
    identity-kernel job at 33 buckets minus the same job at 1 bucket,
    divided by 32, median of 9, with ``_zipcache`` keeping workers from
    re-reading pyspark.zip per task), so a bucket should carry at
    least ``bucketTargetBytes`` of input before another one is worth
    opening. At real scale the estimate far exceeds
    ``width * target`` and the exchange is always full-width (capped at
    shuffle partitions, which the user sizes so a partition fits an
    executor); the reduction only engages on small inputs, exactly the
    regime where per-bucket overhead dominates kernel work.
    Pass ``buckets=`` explicitly to override per call.
    """
    sess = df.sparkSession
    parts = int(sess.conf.get("spark.sql.shuffle.partitions", "200"))
    width = max(parts, sess.sparkContext.defaultParallelism)
    target = int(sess.conf.get(_BUCKET_TARGET_CONF, str(_BUCKET_TARGET_DEFAULT)))
    est = _plan_size_bytes(df)
    if est is not None and target > 0:
        width = min(width, max(1, -(-est // target)))
    return width


def apply_series_kernel(
    df: DataFrame,
    kernel: Callable[..., dict[str, np.ndarray]],
    *,
    by: Sequence[str],
    order: str | Sequence[str],
    values: Sequence[str],
    out_fields: str,
    emit_idx: bool = True,
    keep: Sequence[str] = (),
    buckets: int | None = None,
) -> DataFrame:
    """Apply a batched numpy kernel to every series group.

    Parameters
    ----------
    df : long-form DataFrame (one row per sample).
    kernel : ``kernel(*blocks) -> dict[name, np.ndarray]`` where each
        block is a ``(n_series, n)`` float64 matrix (one row per series,
        equal length ``n`` within a call) and every returned array is
        ``(n_series, m)`` — the kernel must be vectorized across rows
        (numpy ops on the last axis are). A kernel with attribute
        ``batch_ragged = True`` instead receives ONE call per bucket:
        ``kernel(*blocks, lengths=...)`` with right-zero-padded
        ``(n_series, n_max)`` blocks and the per-row true lengths, and
        must return padded ``(n_series, m_max)`` arrays plus a
        ``"__lengths__"`` entry of per-row output lengths (the tail
        beyond each row's length is discarded). This is the mode for
        recursion kernels (IIR filters), where a per-sample Python loop
        per distinct length would dominate: causality makes the zero
        padding exact, and the loop then runs once per bucket no matter
        how many lengths the bucket mixes.
    by : broadcast-dim columns (the series key — reference's loop dims).
    order : core-dim coordinate column (+ optional tie-break columns);
        the first entry supplies offset/delta (datetime ok — epoch-ns).
    values : value columns handed to the kernel as float64 blocks.
    out_fields : DDL for the kernel's output columns,
        e.g. ``"re double, im double"``.
    emit_idx : add ``idx bigint`` = 0..m-1 output position per series.
    keep : group-constant columns passed through unchanged (attrs
        sidecar, auxiliary metadata).
    buckets : shuffle-key cardinality (default 2x shuffle partitions).

    Returns a long-form DataFrame with columns
    ``[*by, *keep, idx?, *out_fields, n_in, offset, delta]``.
    """
    order = [order] if isinstance(order, str) else list(order)
    by = list(by)
    keep = list(keep)
    # prune to the columns the kernel actually reads BEFORE the bucket
    # exchange — upstream operators often hand over frames with derived
    # coordinate columns (frame_time/frequency/n_in/...) that would
    # otherwise ride the shuffle for nothing
    needed = list(dict.fromkeys(by + keep + order + list(values)))
    df = df.select(*needed)
    idx_field = "idx bigint, " if emit_idx else ""
    keep_ddl = (_ddl_of(df, keep) + ", ") if keep else ""
    by_ddl = (_ddl_of(df, by) + ", ") if by else ""
    schema = f"{by_ddl}{keep_ddl}{idx_field}{out_fields}, {GROUP_ATTR_FIELDS}"
    out_names = [f.strip().split()[0] for f in out_fields.split(",")]
    n_buckets = buckets if buckets is not None else _default_buckets(df)

    def run(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(by + order, kind="mergesort")
        starts, ends = _series_bounds(pdf, by)
        lengths = ends - starts
        coords = _coord_floats(pdf[order[0]])
        offsets = coords[starts]
        lasts = coords[ends - 1]
        deltas = np.where(
            lengths > 1, np.abs(lasts - offsets) / np.maximum(lengths - 1, 1), 0.0
        )
        vals = [pdf[v].to_numpy(dtype=float) for v in values]

        if getattr(kernel, "batch_ragged", False) and len(starts):
            n_max = int(lengths.max())
            jj = np.arange(n_max)
            gather = np.minimum(starts[:, None] + jj[None, :], ends[:, None] - 1)
            mask = jj[None, :] < lengths[:, None]
            blocks = [np.where(mask, v[gather], 0.0) for v in vals]
            out = kernel(*blocks, lengths=lengths)
            out_lens = np.asarray(out.pop("__lengths__"), dtype=np.int64)
            m_max = np.atleast_2d(next(iter(out.values()))).shape[1]
            sel = np.arange(m_max)[None, :] < out_lens[:, None]
            rep = np.repeat(starts, out_lens)
            res = pd.DataFrame(index=np.arange(len(rep)))
            for c in by + keep:
                res[c] = pdf[c].to_numpy()[rep]
            if emit_idx:
                res["idx"] = np.broadcast_to(
                    np.arange(m_max, dtype=np.int64), sel.shape
                )[sel]
            for name in out_names:
                res[name] = np.atleast_2d(out[name])[sel]
            res["n_in"] = np.repeat(lengths, out_lens)
            res["offset"] = np.repeat(offsets, out_lens)
            res["delta"] = np.repeat(deltas, out_lens)
            return res

        pieces: list[dict[str, np.ndarray]] = []
        for n in np.unique(lengths):
            sel = np.flatnonzero(lengths == n)
            s = starts[sel]
            row_idx = (s[:, None] + np.arange(n)).ravel()
            blocks = [v[row_idx].reshape(len(s), n) for v in vals]
            out = kernel(*blocks)
            first = next(iter(out.values()))
            m = np.atleast_2d(first).shape[1]
            piece = {
                "__rep__": np.repeat(s, m),  # row index of each series head
                "n_in": np.full(len(s) * m, n, dtype=np.int64),
                "offset": np.repeat(offsets[sel], m),
                "delta": np.repeat(deltas[sel], m),
            }
            if emit_idx:
                piece["idx"] = np.tile(np.arange(m, dtype=np.int64), len(s))
            for name in out_names:
                piece[name] = np.atleast_2d(out[name]).ravel()
            pieces.append(piece)

        cat = {
            k: np.concatenate([p[k] for p in pieces])
            for k in pieces[0]
        } if pieces else {}
        rep = cat.pop("__rep__", np.array([], dtype=np.int64))
        res = pd.DataFrame(index=np.arange(len(rep)))
        for c in by + keep:
            res[c] = pdf[c].to_numpy()[rep]
        if emit_idx:
            res["idx"] = cat["idx"] if pieces else np.array([], dtype=np.int64)
        for name in out_names:
            res[name] = cat[name] if pieces else np.array([], dtype=float)
        for g in ("n_in", "offset", "delta"):
            res[g] = cat[g] if pieces else np.array([], dtype=float)
        return res

    # no broadcast dims (the reference's scalar / nchannels=None shape,
    # tests/test_signal.py:36-38): the whole frame is ONE series — one
    # bucket, exactly the reference's single-block concession
    bucket = (
        _bucket_expr(df.sparkSession, by, n_buckets) if by else F.lit(0)
    )
    out = df.withColumn(_BUCKET, bucket)
    if by:
        # Explicit fixed-width exchange instead of the groupBy's implicit
        # one: the kernel stage is CPU-bound Python whose work-per-byte is
        # far above a SQL stage's, so AQE's byte-based partition
        # coalescing (which would fold a small-but-expensive shuffle onto
        # 1-3 cores) is the wrong heuristic here. HashPartitioning on the
        # bucket column satisfies the grouping distribution, so no second
        # exchange is inserted; n_buckets already scales with the session's
        # shuffle sizing at real scale.
        out = out.repartition(n_buckets, F.col(_BUCKET))
    return out.groupBy(_BUCKET).applyInPandas(run, schema=schema)


def apply_cogrouped_kernel(
    df1: DataFrame,
    df2: DataFrame,
    kernel: Callable[..., dict[str, np.ndarray]],
    *,
    by: Sequence[str],
    order1: str | Sequence[str],
    order2: str | Sequence[str],
    values1: Sequence[str],
    values2: Sequence[str],
    out_fields: str,
    emit_idx: bool = True,
    keep: Sequence[str] = (),
    buckets: int | None = None,
) -> DataFrame:
    """Two-input variant (convolution's pair of signals, peak_widths'
    signal ⋈ peak-indices pairing, reference signal.py:84-105, 353-360).

    Both inputs are shuffled ONCE on ``hash(by) % buckets`` and
    co-located (``cogroup().applyInPandas``) — one pandas invocation
    per BUCKET of many complete series pairs, not per pair, so
    Arrow/pandas overhead amortizes exactly like
    :func:`apply_series_kernel`. Inside a bucket both sides are sorted
    once and paired by their ``by`` tuple; keys present on only one
    side are skipped (inner alignment).
    ``kernel(coords1, *arrays1, coords2, *arrays2) -> dict`` of 1-D
    arrays (per-pair call — pair shapes differ too much to block-batch).
    Group attrs (n_in/offset/delta) describe input 1.
    """
    order1 = [order1] if isinstance(order1, str) else list(order1)
    order2 = [order2] if isinstance(order2, str) else list(order2)
    by = list(by)
    keep = list(keep)
    # prune both sides to what the kernel reads (see apply_series_kernel)
    df1 = df1.select(*dict.fromkeys(by + keep + order1 + list(values1)))
    # Fresh attribute IDs on the right side: when both inputs share lineage
    # (self-convolution, two filters of one cache), Spark's self-join
    # dedup otherwise prunes the right cogroup input down to the key.
    needed2 = list(dict.fromkeys(by + order2 + list(values2)))
    df2 = df2.select(*[F.col(c).alias(c) for c in needed2])
    idx_field = "idx bigint, " if emit_idx else ""
    keep_ddl = (_ddl_of(df1, keep) + ", ") if keep else ""
    by_ddl = (_ddl_of(df1, by) + ", ") if by else ""
    schema = f"{by_ddl}{keep_ddl}{idx_field}{out_fields}, {GROUP_ATTR_FIELDS}"
    out_names = [f.strip().split()[0] for f in out_fields.split(",")]
    all_names = (
        by + keep + (["idx"] if emit_idx else []) + out_names
        + ["n_in", "offset", "delta"]
    )
    n_buckets = buckets if buckets is not None else _default_buckets(df1)

    def run(left: pd.DataFrame, right: pd.DataFrame) -> pd.DataFrame:
        empty = pd.DataFrame({c: [] for c in all_names}).iloc[0:0]
        if left.empty or right.empty:
            return empty
        left = left.sort_values(by + order1, kind="mergesort")
        right = right.sort_values(by + order2, kind="mergesort")
        ls, le = _series_bounds(left, by)
        rs, re_ = _series_bounds(right, by)
        lkeys = [left[c].to_numpy() for c in by]
        rkeys = [right[c].to_numpy() for c in by]
        rindex = {
            tuple(a[s] for a in rkeys): (s, e) for s, e in zip(rs, re_)
        }
        all_coords1 = _coord_floats(left[order1[0]])
        lvals = [left[v].to_numpy(dtype=float) for v in values1]
        rvals = [right[v].to_numpy(dtype=float) for v in values2]
        all_coords2 = _coord_floats(right[order2[0]])
        # accumulate raw arrays per pair and assemble ONE DataFrame at
        # the end — building a pandas frame per pair dominates the
        # kernel cost for buckets of many small series
        outs: dict[str, list[np.ndarray]] = {name: [] for name in out_names}
        heads: list[int] = []
        ms: list[int] = []
        ns: list[int] = []
        offs: list[float] = []
        dels: list[float] = []
        for s, e in zip(ls, le):
            hit = rindex.get(tuple(a[s] for a in lkeys))
            if hit is None:
                continue
            coords1 = all_coords1[s:e]
            coords2 = all_coords2[hit[0] : hit[1]]
            n = len(coords1)
            arrays1 = [v[s:e] for v in lvals]
            arrays2 = [v[hit[0] : hit[1]] for v in rvals]
            out = kernel(coords1, *arrays1, coords2, *arrays2)
            m = len(next(iter(out.values()))) if out else 0
            for name in out_names:
                outs[name].append(np.asarray(out[name]))
            heads.append(s)
            ms.append(m)
            ns.append(n)
            offs.append(float(coords1[0]) if n else 0.0)
            dels.append(
                abs(float(coords1[-1] - coords1[0])) / (n - 1) if n > 1 else 0.0
            )
        if not heads:
            return empty
        ms_arr = np.asarray(ms, dtype=np.int64)
        rep = np.repeat(np.asarray(heads, dtype=np.int64), ms_arr)
        res = pd.DataFrame(index=np.arange(int(ms_arr.sum())))
        for c in by + keep:
            res[c] = left[c].to_numpy()[rep]
        if emit_idx:
            res["idx"] = np.concatenate(
                [np.arange(m, dtype=np.int64) for m in ms]
            ) if ms else np.array([], dtype=np.int64)
        for name in out_names:
            res[name] = np.concatenate(outs[name]) if outs[name] else np.array([])
        res["n_in"] = np.repeat(np.asarray(ns, dtype=np.int64), ms_arr)
        res["offset"] = np.repeat(np.asarray(offs), ms_arr)
        res["delta"] = np.repeat(np.asarray(dels), ms_arr)
        return res

    bucket_expr = (
        _bucket_expr(df1.sparkSession, by, n_buckets) if by else F.lit(0)
    )
    left = df1.withColumn(_BUCKET, bucket_expr)
    right = df2.withColumn(_BUCKET, bucket_expr)
    if by:
        # same explicit exchange as apply_series_kernel: keep the
        # CPU-bound cogrouped kernel stage at full width instead of
        # letting byte-based AQE coalescing serialize it
        left = left.repartition(n_buckets, F.col(_BUCKET))
        right = right.repartition(n_buckets, F.col(_BUCKET))
    return (
        left.groupBy(_BUCKET)
        .cogroup(right.groupBy(_BUCKET))
        .applyInPandas(run, schema=schema)
    )
