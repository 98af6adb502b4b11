"""The op mix of each workload and, for every op, its output reference.

An op is one public call: ``build(spark, data_dir)`` returns the built
DataFrame (any eager jobs the library runs happen inside it), and the
benchmark executes it into a ``noop`` sink. The dsp ops go through
``operators`` (two of them through the contract's query functions, which call
``operators`` and add a projection); the corpus ops go through ``pipeline``
via the contract's query functions, with the contract's constants.

References are computed without Spark: the dsp ops from per-series numpy
(the public ``kernels`` functions where one exists), the corpus ops from
their DuckDB twins over the same parquet.
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Callable

import numpy as np
import pandas as pd
import pyarrow as pa

from xarray_scipy_spark import contract
from xarray_scipy_spark import operators as ops
from xarray_scipy_spark.kernels import (
    butter_sos,
    decimate_1d,
    hilbert_1d,
    peak_widths as peak_widths_1d,
    sosfiltfilt_1d,
)
from xarray_scipy_spark.kernels.dsp import decimate_ragged, sosfiltfilt_ragged
from xarray_scipy_spark.sources import load_table

SOS = butter_sos(4, 0.3)
DECIMATE_Q = 4
WELCH_FRAME, WELCH_HOP = 32, 16
ROLLING_WINDOW_S = 60
BY = ["user_id"]

# dedup_exact's DuckDB twin (the plain query's oracle; the contract's
# registry entry for this name now holds a three-variant union)
_DEDUP_EXACT_SQL = (
    "SELECT md5(text) AS content_hash, min(doc_id) AS keep_id, "
    "count(*) AS n_copies FROM documents GROUP BY md5(text)"
)


@dataclass(frozen=True)
class Op:
    name: str
    layer: str  # "operators" or "pipeline": the public layer the call enters
    build: Callable  # (spark, data_dir) -> DataFrame
    table: str  # input table whose rows the call is credited with
    keys: tuple[str, ...] = ()  # dsp ops: sort key of the output check
    oracle: Callable[[], str] | None = None  # corpus ops: DuckDB SQL


def _events(spark, data_dir):
    return load_table(spark, "events", data_dir).select("user_id", "ts", "value")


def _hilbert_envelope(spark, data_dir):
    return ops.envelope(ops.hilbert(_events(spark, data_dir), by=BY, dim="ts")).select(
        "user_id", "idx", "re", "im", "envelope"
    )


DSP_OPS = (
    Op(
        "sosfiltfilt",
        "operators",
        lambda s, d: ops.sosfiltfilt(SOS, _events(s, d), by=BY, dim="ts").select(
            "user_id", "idx", "value"
        ),
        "events",
        ("user_id", "idx"),
    ),
    Op(
        "decimate",
        "operators",
        lambda s, d: ops.decimate(_events(s, d), DECIMATE_Q, by=BY, dim="ts").select(
            "user_id", "idx", "value"
        ),
        "events",
        ("user_id", "idx"),
    ),
    Op(
        "welch",
        "operators",
        lambda s, d: ops.welch(
            _events(s, d), by=BY, dim="ts", frame_len=WELCH_FRAME, hop=WELCH_HOP
        ).select("user_id", "idx", "power"),
        "events",
        ("user_id", "idx"),
    ),
    Op("dominant_frequency", "operators", contract.q_dominant_frequency, "events", ("user_id",)),
    Op("hilbert_envelope", "operators", _hilbert_envelope, "events", ("user_id", "idx")),
    Op("peak_widths", "operators", contract.q_peak_widths, "events", ("user_id", "peak")),
    Op(
        "rolling_stats",
        "operators",
        lambda s, d: ops.rolling_stats(
            _events(s, d), by=BY, dim="ts", window=ROLLING_WINDOW_S
        ),
        "events",
        ("user_id", "t_us"),
    ),
)

CORPUS_OPS = (
    Op("dedup_exact", "pipeline", contract.q_dedup_exact, "documents", oracle=lambda: _DEDUP_EXACT_SQL),
    Op("dedup_minhash", "pipeline", contract.q_dedup_minhash, "documents", oracle=contract._minhash_oracle),
    Op("dedup_clusters", "pipeline", contract.q_dedup_clusters, "documents",
       oracle=lambda: contract.ORACLES["dedup_clusters"]),
    Op("bpe_encode", "pipeline", contract.q_bpe_encode, "documents",
       oracle=lambda: contract.ORACLES["bpe_encode"]),
    Op("text_sparse_knn", "pipeline", contract.q_text_sparse_knn, "documents",
       oracle=lambda: contract.ORACLES["text_sparse_knn"]),
    Op("pagerank", "pipeline", contract.q_pagerank, "lineitem",
       oracle=lambda: contract.ORACLES["pagerank"]),
)

WORKLOADS = {
    "dsp_long": DSP_OPS,
    "dsp_ragged": DSP_OPS,
    "corpus_pipeline": CORPUS_OPS,
}

# ---------------------------------------------------------------------------
# dsp inputs as equal-length blocks
# ---------------------------------------------------------------------------


@dataclass
class Blocks:
    """The events table as numpy: per distinct series length ``n``, the
    series ids and their ``(k, n)`` value and epoch-microsecond blocks;
    and every series right-zero-padded to the longest, with its length
    (the batch the recursion kernels take)."""

    by_len: dict[int, tuple[np.ndarray, np.ndarray, np.ndarray]]
    padded: np.ndarray
    lengths: np.ndarray

    @classmethod
    def from_events(cls, events: pa.Table) -> "Blocks":
        sid = events["user_id"].to_numpy()
        t_us = events["ts"].cast(pa.int64()).to_numpy()
        x = events["value"].to_numpy()
        order = np.lexsort((t_us, sid))
        sid, t_us, x = sid[order], t_us[order], x[order]
        starts = np.flatnonzero(np.r_[True, sid[1:] != sid[:-1]])
        lengths = np.diff(np.r_[starts, len(sid)])
        by_len = {}
        for n in np.unique(lengths):
            s = starts[lengths == n]
            rows = s[:, None] + np.arange(n)
            by_len[int(n)] = (sid[s], x[rows], t_us[rows])
        jj = np.arange(lengths.max())
        padded = np.where(
            jj < lengths[:, None], x[np.minimum(starts[:, None] + jj, len(x) - 1)], 0.0
        )
        return cls(by_len, padded, lengths)


def _rows(sids: np.ndarray, out: np.ndarray, name: str) -> dict:
    k, m = out.shape
    return {
        "user_id": np.repeat(sids, m),
        "idx": np.tile(np.arange(m, dtype=np.int64), k),
        name: out.ravel(),
    }


def _concat(parts: list[dict]) -> pd.DataFrame:
    return pd.DataFrame({c: np.concatenate([p[c] for p in parts]) for c in parts[0]})


def _welch_block(x: np.ndarray) -> np.ndarray:
    m = np.arange(WELCH_FRAME, dtype=float)
    taps = 0.5 - 0.5 * np.cos(2.0 * np.pi * m / WELCH_FRAME)  # periodic Hann
    fr = np.lib.stride_tricks.sliding_window_view(x, WELCH_FRAME, axis=-1)[:, ::WELCH_HOP, :]
    spec = np.fft.rfft(fr * taps, axis=-1)
    fold = np.full(WELCH_FRAME // 2 + 1, 2.0)
    fold[0] = fold[-1] = 1.0
    return (spec.real**2 + spec.imag**2).mean(axis=1) * fold / float(np.sum(taps**2))


def _q3(v: np.ndarray) -> np.ndarray:
    """The contract's epsilon-floor quantization to 1e-3 (``_q3_col``)."""
    return np.floor(v * 1000 + 0.5 + 1e-6).astype(np.int64)


def _local_maxima(x: np.ndarray) -> np.ndarray:
    """scipy ``_local_maxima_1d``: a maximal run of equal values whose
    neighbours are both strictly lower is a peak at the run's midpoint."""
    n = len(x)
    run_start = np.flatnonzero(np.r_[True, x[1:] != x[:-1]])
    run_end = np.r_[run_start[1:], n] - 1
    inner = (run_start > 0) & (run_end < n - 1)
    rs, re_ = run_start[inner], run_end[inner]
    peak = (x[rs - 1] < x[rs]) & (x[re_ + 1] < x[re_])
    return (rs[peak] + re_[peak]) // 2


def _peak_widths_block(sids: np.ndarray, x: np.ndarray) -> list[dict]:
    parts = []
    for sid, row in zip(sids, x):
        pk = _local_maxima(row)
        if len(pk) == 0:
            continue
        w, h, lip, rip = peak_widths_1d(row, pk)
        parts.append(
            {
                "user_id": np.full(len(pk), sid),
                "peak": np.arange(len(pk), dtype=np.int64),
                "width_q": _q3(w),
                "wh_q": _q3(h),
                "lip_q": _q3(lip),
                "rip_q": _q3(rip),
            }
        )
    return parts


# The bare kernel of each op whose math is a public numpy kernel
# (``kernels`` or np.fft; welch's frame average and rolling_stats have
# none), over the workload's series and batched the way the op's kernel
# takes them: the recursion kernels get one right-padded batch with
# lengths (the operators' ragged mode), the others one call per
# equal-length block.
BARE = {
    "sosfiltfilt": lambda b: sosfiltfilt_ragged(SOS, b.padded, b.lengths),
    "decimate": lambda b: decimate_ragged(b.padded, b.lengths, DECIMATE_Q),
    "dominant_frequency": lambda b: [np.fft.rfft(x, axis=-1) for _, x, _ in b.by_len.values()],
    "hilbert_envelope": lambda b: [hilbert_1d(x) for _, x, _ in b.by_len.values()],
    "peak_widths": lambda b: [
        peak_widths_1d(row, _local_maxima(row)) for _, x, _ in b.by_len.values() for row in x
    ],
}


def _rolling_reference(blocks: Blocks) -> pd.DataFrame:
    """Trailing [t - window, t] count/sum/mean/min/max per series: window
    starts by searchsorted on a (series, time) key, sums from a prefix
    sum, min/max from a sparse table."""
    sid = np.concatenate([np.repeat(s, x.shape[1]) for s, x, _ in blocks.by_len.values()])
    x = np.concatenate([x.ravel() for _, x, _ in blocks.by_len.values()])
    t = np.concatenate([t.ravel() for _, _, t in blocks.by_len.values()])
    order = np.lexsort((t, sid))
    sid, x, t = sid[order], x[order], t[order]
    key = (sid << 42) + (t - t.min())
    span = ROLLING_WINDOW_S * 1_000_000
    lo = np.searchsorted(key, key - span, side="left")
    hi = np.arange(len(x))
    count = hi - lo + 1
    cs = np.r_[0.0, np.cumsum(x)]
    total = cs[hi + 1] - cs[lo]
    levels_min, levels_max = [x], [x]
    while (1 << len(levels_min)) <= count.max():
        h = 1 << (len(levels_min) - 1)
        a, b = levels_min[-1], levels_max[-1]
        levels_min.append(np.minimum(a, np.r_[a[h:], a[-h:]]))
        levels_max.append(np.maximum(b, np.r_[b[h:], b[-h:]]))
    lvl = np.floor(np.log2(count)).astype(np.int64)
    right = hi - (1 << lvl) + 1
    mins = np.empty(len(x))
    maxs = np.empty(len(x))
    for k in np.unique(lvl):
        sel = lvl == k
        mins[sel] = np.minimum(levels_min[k][lo[sel]], levels_min[k][right[sel]])
        maxs[sel] = np.maximum(levels_max[k][lo[sel]], levels_max[k][right[sel]])
    return pd.DataFrame(
        {
            "user_id": sid,
            "t_us": t,
            "value": x,
            "roll_count": count.astype(np.int64),
            "roll_sum": total,
            "roll_mean": total / count,
            "roll_min": mins,
            "roll_max": maxs,
        }
    )


def dsp_reference(name: str, blocks: Blocks) -> pd.DataFrame:
    """The expected output of dsp op ``name`` on ``blocks``."""
    if name == "rolling_stats":
        return _rolling_reference(blocks)
    parts: list[dict] = []
    for sids, x, _ in blocks.by_len.values():
        if name == "sosfiltfilt":
            parts.append(_rows(sids, sosfiltfilt_1d(SOS, x), "value"))
        elif name == "decimate":
            parts.append(_rows(sids, decimate_1d(x, DECIMATE_Q), "value"))
        elif name == "welch":
            parts.append(_rows(sids, _welch_block(x), "power"))
        elif name == "hilbert_envelope":
            h = hilbert_1d(x)
            p = _rows(sids, h.real, "re")
            p["im"] = h.imag.ravel()
            p["envelope"] = np.abs(h).ravel()
            parts.append(p)
        elif name == "dominant_frequency":
            spec = np.fft.rfft(x, axis=-1)
            mag3 = np.round(np.abs(spec[:, 1:]), 3) + 0.0
            best = np.argmax(mag3, axis=1)  # first maximum: the smallest bin
            parts.append(
                {
                    "user_id": sids,
                    "peak_bin": (best + 1).astype(np.int64),
                    "peak_mag3": mag3[np.arange(len(sids)), best],
                }
            )
        elif name == "peak_widths":
            parts.extend(_peak_widths_block(sids, x))
        else:
            raise KeyError(name)
    return _concat(parts)


# ---------------------------------------------------------------------------
# output comparison
# ---------------------------------------------------------------------------


def _normalize(df: pd.DataFrame, keys: tuple[str, ...]) -> pd.DataFrame:
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        kind = df[c].dtype.kind
        if kind in "iu":
            df[c] = df[c].astype("int64")
        elif kind == "f":
            df[c] = df[c].astype("float64")
        else:
            df[c] = df[c].astype(str)
    by = list(keys) if keys else list(df.columns)
    return df.sort_values(by, kind="mergesort").reset_index(drop=True)


def compare(got: pd.DataFrame, want: pd.DataFrame, keys: tuple[str, ...] = (), rtol: float = 0.0) -> str | None:
    """None when ``got`` matches ``want``, else the first difference.

    The rule of ``tools/check_correctness.py``: same row count, same
    column names, rows sorted, integer and string columns equal, float
    columns byte-equal. With ``rtol > 0`` (numpy references, whose sums
    run in another order than Spark's) floats may differ by
    ``rtol * (1 + |want|)`` instead.
    """
    if len(got) != len(want):
        return f"rows {len(got)} != {len(want)}"
    if sorted(got.columns) != sorted(want.columns):
        return f"columns {sorted(got.columns)} != {sorted(want.columns)}"
    a, b = _normalize(got, keys), _normalize(want, keys)
    for c in a.columns:
        av, bv = a[c].to_numpy(), b[c].to_numpy()
        if av.dtype.kind == "f" and bv.dtype.kind == "f":
            if rtol:
                bad = ~(np.abs(av - bv) <= rtol * (1 + np.abs(bv)))
                bad &= ~(np.isnan(av) & np.isnan(bv))
            else:
                if av.tobytes() == bv.tobytes():
                    continue
                bad = av != bv
        else:
            bad = av != bv
        if np.any(bad):
            i = int(np.flatnonzero(bad)[0])
            return f"{c}: {int(np.sum(bad))} values differ, e.g. row {i}: {av[i]!r} != {bv[i]!r}"
    return None
