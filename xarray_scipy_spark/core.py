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

Bucket layout (every path — ragged, per-length, cogrouped — shares it):
sort the bucket by ``by + order`` → :func:`_series_bounds` (a new series
starts where a key changes; two NULL keys are equal, so a NULL key is ONE
series, as Spark's ``groupBy`` treats it) → :func:`_grid` (``n_in`` /
``offset`` / ``delta`` per series) → kernel → :func:`_assemble` (the
output rows). Ties in ``order`` left unbroken keep arrival order, which
Spark does not fix: pass a tie-break column for a deterministic result.
NULL samples reach the kernel as NaN and propagate like NaN samples. The
cogrouped path pairs series by key with inner alignment: a key on one
side only is dropped, and a NULL key never pairs (as in a SQL join).

One boundary: every pandas-UDF call in the package goes through three
runners here. :func:`map_batches` maps Arrow batches (an empty batch
emits nothing); :func:`sum_batches` reduces per-batch partials on the
driver and skips rows with a NULL in any input column; :func:`map_groups`
runs one grouped or two cogrouped frames (an empty first input emits
nothing). Each takes its output fields as ``{name: ddl type}`` and builds
the frame from the ``{name: values}`` its function returns, so a change
to how Python workers are called (Arrow in place of pandas, counters,
error columns) is a change to these three functions.
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


def _fields_of(df: DataFrame, cols: Sequence[str]) -> dict[str, str]:
    types = dict(df.dtypes)
    return {c: types[c] for c in cols}


def _ddl(fields: dict[str, str]) -> str:
    return ", ".join(f"{n} {t}" for n, t in fields.items())


def _parse_ddl(ddl: str) -> dict[str, str]:
    return dict(f.split(None, 1) for f in ddl.split(","))


def map_batches(
    df: DataFrame, fn: Callable[[pd.DataFrame], dict], fields: dict[str, str]
) -> DataFrame:
    """Run ``fn`` over ``df`` one Arrow batch at a time (``mapInPandas``).

    ``fn(pdf)`` returns ``{name: values}`` for the ``fields``
    (``{name: ddl type}``) columns, any number of rows; an empty input
    batch emits nothing."""

    def run(batches):
        for pdf in batches:
            if len(pdf):
                yield pd.DataFrame(fn(pdf), copy=False)

    return df.mapInPandas(run, schema=_ddl(fields))


def sum_batches(
    df: DataFrame, fn: Callable[[pd.DataFrame], dict]
) -> dict[str, np.ndarray] | None:
    """Sum ``fn``'s per-batch partials over ``df`` on the driver.

    Rows with a NULL in any column of ``df`` are skipped. ``fn(pdf)``
    returns ``{name: array}``; each batch sends one ``array<double>``
    row per name (flattened), and the result maps each name to its
    ``np.sum`` over the batches, plus ``"n"``, the rows used. ``None``
    when no row is used."""

    def partials(pdf: pd.DataFrame) -> dict:
        parts = {"n": len(pdf), **fn(pdf)}
        return {
            "name": list(parts),
            "v": [np.ravel(v).astype(float).tolist() for v in parts.values()],
        }

    live = df.where(" AND ".join(f"`{c}` IS NOT NULL" for c in df.columns))
    rows = map_batches(live, partials, {"name": "string", "v": "array<double>"}).collect()
    if not rows:
        return None
    parts: dict[str, list] = {}
    for r in rows:
        parts.setdefault(r["name"], []).append(r["v"])
    sums = {name: np.sum(np.asarray(v), axis=0) for name, v in parts.items()}
    sums["n"] = int(sums["n"][0])
    return sums


def map_groups(
    frames: Sequence[DataFrame],
    by: Sequence[str],
    fn: Callable[..., dict],
    fields: dict[str, str],
) -> DataFrame:
    """Run ``fn`` once per group of ``by`` over one frame
    (``groupBy().applyInPandas``) or per cogroup of two
    (``cogroup().applyInPandas``, ``fn(left, right)``).

    ``fn`` returns ``{name: values}`` for the ``fields`` columns; a
    group whose first input is empty (a key on the right side only)
    emits nothing. The right frame is re-projected with fresh attribute
    IDs: when both inputs share lineage (self-convolution, two filters
    of one cache), Spark's self-join dedup otherwise prunes the right
    cogroup input down to the key."""
    ddl = _ddl(fields)

    def frame(*pdfs: pd.DataFrame) -> pd.DataFrame:
        return pd.DataFrame(fn(*pdfs), copy=False) if len(pdfs[0]) else pd.DataFrame()

    if len(frames) == 1:
        return frames[0].groupBy(*by).applyInPandas(lambda pdf: frame(pdf), schema=ddl)
    left, right = frames
    right = right.select(*[F.col(c).alias(c) for c in right.columns])
    return (
        left.groupBy(*by)
        .cogroup(right.groupBy(*by))
        .applyInPandas(lambda lpdf, rpdf: frame(lpdf, rpdf), schema=ddl)
    )


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
    ``by + order``: a new series starts where any key column changes.
    Two NULL keys compare equal (Arrow hands a NULL bigint key over as
    NaN, and ``NaN != NaN``), so a NULL key is one series."""
    changed = np.zeros(len(pdf), dtype=bool)
    changed[:1] = True
    for c in by:
        a = pdf[c].to_numpy()
        na = pd.isna(a)
        changed[1:] |= (a[1:] != a[:-1]) & ~(na[1:] & na[:-1])
    starts = np.flatnonzero(changed)
    ends = np.r_[starts[1:], len(pdf)][: len(starts)]
    return starts, ends


def _grid(
    coords: np.ndarray, starts: np.ndarray, ends: np.ndarray
) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Per-series group attrs: ``n_in`` (sample count), ``offset`` (first
    coordinate) and ``delta`` (mean spacing; 0 for a single sample)."""
    lengths = ends - starts
    offsets = coords[starts]
    spans = np.abs(coords[ends - 1] - offsets)
    deltas = np.where(lengths > 1, spans / np.maximum(lengths - 1, 1), 0.0)
    return lengths, offsets, deltas


def _padded(
    vals: Sequence[np.ndarray], starts: np.ndarray, lengths: np.ndarray
) -> tuple[list[np.ndarray], np.ndarray]:
    """Right-zero-padded ``(n_series, n_max)`` block of each sample array
    (series ``i`` is rows ``starts[i]:starts[i] + lengths[i]``) and the
    mask of real samples; ``block[mask]`` is back in row order."""
    jj = np.arange(int(lengths.max()))
    mask = jj[None, :] < lengths[:, None]
    gather = starts[:, None] + np.minimum(jj[None, :], lengths[:, None] - 1)
    return [np.where(mask, v[gather], 0.0) for v in vals], mask


def _assemble(src, carry, starts, grid, sel, m, outs, emit_idx) -> dict[str, np.ndarray]:
    """A bucket's output columns, the one place output rows are built.

    ``src`` is the sorted bucket, ``starts`` its series' first rows and
    ``grid`` their :func:`_grid` attrs. ``sel`` (index array or slice)
    picks and orders the series that produced output; the ``j``-th of
    them gets ``m[j]`` rows that repeat its ``carry`` columns and grid
    attrs, numbered ``idx`` 0..m[j]-1 when ``emit_idx``. ``outs`` maps
    each kernel output name to its values, flattened in that order."""
    total = int(m.sum())
    rep = np.repeat(starts[sel], m)
    res = {c: src[c].to_numpy()[rep] for c in carry}
    if emit_idx:
        res["idx"] = np.arange(total, dtype=np.int64) - np.repeat(np.cumsum(m) - m, m)
    res.update(outs)
    for name, attr in zip(("n_in", "offset", "delta"), grid):
        res[name] = np.repeat(attr[sel], m)
    return res


def _output_fields(
    df: DataFrame, by: list[str], keep: list[str], out_fields: str, emit_idx: bool
) -> tuple[dict[str, str], list[str]]:
    """The UDF's fields ``[*by, *keep, idx?, *out_fields, n_in, offset,
    delta]`` and the kernel output column names."""
    outs = _parse_ddl(out_fields)
    fields = {
        **_fields_of(df, by + keep),
        **({"idx": "bigint"} if emit_idx else {}),
        **outs,
        **_parse_ddl(GROUP_ATTR_FIELDS),
    }
    return fields, list(outs)


def _grouped_buckets(frames: Sequence[DataFrame], by: list[str], n_buckets: int) -> list:
    """Tag every frame with the same bucket column, to be grouped on it.

    With no broadcast dims (the reference's scalar / nchannels=None
    shape, tests/test_signal.py:36-38) the whole frame is ONE series —
    one bucket, exactly the reference's single-block concession.
    Otherwise each frame takes an explicit fixed-width exchange instead
    of the groupBy's implicit one: the kernel stage is CPU-bound Python
    whose work-per-byte is far above a SQL stage's, so AQE's byte-based
    partition coalescing (which would fold a small-but-expensive shuffle
    onto 1-3 cores) is the wrong heuristic here. HashPartitioning on the
    bucket column satisfies the grouping distribution, so no second
    exchange is inserted, and cogrouped sides stay co-located."""
    bucket = _bucket_expr(frames[0].sparkSession, by, n_buckets) if by else F.lit(0)
    tagged = []
    for f in frames:
        f = f.withColumn(_BUCKET, bucket)
        tagged.append(f.repartition(n_buckets, F.col(_BUCKET)) if by else f)
    return tagged


# Per-bucket input-volume target for the kernel exchange width
# heuristic (Catalyst-estimated bytes of the PRUNED kernel input, not
# raw file bytes), measured across the operator families at sf0.1 and
# the 10x tier.
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
    least ``_BUCKET_TARGET_DEFAULT`` bytes of input before another one
    is worth opening. At real scale the estimate far exceeds
    ``width * target`` and the exchange is always full-width (capped at
    shuffle partitions, which the user sizes so a partition fits an
    executor); the reduction only engages on small inputs, exactly the
    regime where per-bucket overhead dominates kernel work.
    Pass ``buckets=`` explicitly to override per call.
    """
    sess = df.sparkSession
    parts = int(sess.conf.get("spark.sql.shuffle.partitions", "200"))
    width = max(parts, sess.sparkContext.defaultParallelism)
    est = _plan_size_bytes(df)
    if est is not None:
        width = min(width, max(1, -(-est // _BUCKET_TARGET_DEFAULT)))
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
        A NULL key is one series, as Spark's ``groupBy`` treats it.
    order : core-dim coordinate column (+ optional tie-break columns);
        the first entry supplies offset/delta (datetime ok — epoch-ns).
        Ties left unbroken keep arrival order, which Spark does not fix.
    values : value columns handed to the kernel as float64 blocks;
        NULL samples arrive as NaN and propagate like NaN samples.
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
    fields, out_names = _output_fields(df, by, keep, out_fields, emit_idx)
    n_buckets = buckets if buckets is not None else _default_buckets(df)
    ragged = getattr(kernel, "batch_ragged", False)

    def run(pdf: pd.DataFrame) -> dict[str, np.ndarray]:
        pdf = pdf.sort_values(by + order, kind="mergesort")
        starts, ends = _series_bounds(pdf, by)
        grid = _grid(_coord_floats(pdf[order[0]]), starts, ends)
        lengths = grid[0]
        vals = [pdf[v].to_numpy(dtype=float) for v in values]

        if ragged:
            out = kernel(*_padded(vals, starts, lengths)[0], lengths=lengths)
            m = np.asarray(out.pop("__lengths__"), dtype=np.int64)
            m_max = np.atleast_2d(next(iter(out.values()))).shape[1]
            sel = np.arange(m_max)[None, :] < m[:, None]
            cols = {name: np.atleast_2d(out[name])[sel] for name in out_names}
            return _assemble(pdf, by + keep, starts, grid, slice(None), m, cols, emit_idx)

        # one kernel call per block of equal-length series; rows come out
        # block by block, so the series order is the blocks' concatenation
        perm, ms = [], []
        pieces: dict[str, list[np.ndarray]] = {name: [] for name in out_names}
        for n in np.unique(lengths):
            sel = np.flatnonzero(lengths == n)
            rows = (starts[sel, None] + np.arange(n)).ravel()
            out = kernel(*[v[rows].reshape(len(sel), n) for v in vals])
            m = np.atleast_2d(next(iter(out.values()))).shape[1]
            perm.append(sel)
            ms.append(np.full(len(sel), m, dtype=np.int64))
            for name in out_names:
                pieces[name].append(np.atleast_2d(out[name]).ravel())
        cols = {name: np.concatenate(p) for name, p in pieces.items()}
        return _assemble(
            pdf, by + keep, starts, grid, np.concatenate(perm), np.concatenate(ms),
            cols, emit_idx,
        )

    return map_groups(_grouped_buckets([df], by, n_buckets), [_BUCKET], run, fields)


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
    once and paired by their ``by`` tuple with inner alignment: keys
    present on only one side are skipped, and a NULL key never pairs
    (as in a SQL join). NULL samples reach the kernel as NaN.
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
    df2 = df2.select(*dict.fromkeys(by + order2 + list(values2)))
    fields, out_names = _output_fields(df1, by, keep, out_fields, emit_idx)
    n_buckets = buckets if buckets is not None else _default_buckets(df1)

    def keys(pdf: pd.DataFrame, starts: np.ndarray) -> list[tuple | None]:
        # each series' key tuple; None (never pairs) when any part is NULL
        k = pdf[by].iloc[starts]
        null = k.isna().any(axis=1)
        return [None if na else tuple(r) for na, r in zip(null, k.to_numpy(object))]

    def run(left: pd.DataFrame, right: pd.DataFrame) -> dict[str, np.ndarray]:
        left = left.sort_values(by + order1, kind="mergesort")
        right = right.sort_values(by + order2, kind="mergesort")
        ls, le = _series_bounds(left, by)
        rs, re_ = _series_bounds(right, by)
        rindex = dict(zip(keys(right, rs), map(slice, rs, re_)))
        rindex.pop(None, None)
        coords1 = _coord_floats(left[order1[0]])
        coords2 = _coord_floats(right[order2[0]])
        lvals = [left[v].to_numpy(dtype=float) for v in values1]
        rvals = [right[v].to_numpy(dtype=float) for v in values2]
        # accumulate raw arrays per pair and assemble ONE DataFrame at
        # the end — building a pandas frame per pair dominates the
        # kernel cost for buckets of many small series
        hits, ms = [], []
        outs: dict[str, list[np.ndarray]] = {name: [] for name in out_names}
        for i, (key, l) in enumerate(zip(keys(left, ls), map(slice, ls, le))):
            r = rindex.get(key)
            if r is None:
                continue
            out = kernel(
                coords1[l], *[v[l] for v in lvals], coords2[r], *[v[r] for v in rvals]
            )
            hits.append(i)
            ms.append(len(next(iter(out.values()))) if out else 0)
            for name in out_names:
                outs[name].append(np.asarray(out[name]))
        cols = {name: np.concatenate(o) if o else np.empty(0) for name, o in outs.items()}
        return _assemble(
            left, by + keep, ls, _grid(coords1, ls, le), np.asarray(hits, dtype=np.int64),
            np.asarray(ms, dtype=np.int64), cols, emit_idx,
        )

    return map_groups(_grouped_buckets([df1, df2], by, n_buckets), [_BUCKET], run, fields)
