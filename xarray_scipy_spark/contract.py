"""The driver contract: one named query per implemented operator, each
paired with an ANSI-SQL oracle DuckDB can run on the same parquet
tables.

``REGISTRY`` at the end of the module is the one table of record:
``name -> (query, oracle)``. ``query(spark, sf_dir) -> DataFrame`` runs
the operator through this engine and ``oracle`` is the equivalent SQL;
``QUERIES`` and ``ORACLES`` are its two columns. To add a query, add one
``REGISTRY`` row. Oracle builders call each other directly, so no
builder depends on registration order. The driver compares row-count +
schema + order-insensitive value hash, so every query here:

- aliases every output column identically on both sides;
- emits deterministic values: floats are rounded at a granularity that
  is orders of magnitude above the cross-engine numerical noise
  (FFT-vs-naive-DFT ~1e-10; the rounding unit is >=1e-6), and ``+ 0.0``
  normalizes any ``-0.0``;
- breaks ranking ties on rounded keys + ids so independent engines
  agree exactly.

Oracle strategies per family:

- **FFT family**: forward transforms against an O(n^2) literal DFT
  (self-join per user series — groups are <100 samples at test scale);
  inverse transforms as forward→inverse round-trips whose oracle is the
  original series.
- **convolution**: direct convolution sums via a per-user self-join.
- **IIR filters**: a causal IIR from zero state equals convolution with
  the filter's impulse response; the response is precomputed (by this
  package's own kernels) and inlined as SQL literals, turning the
  recursion into a join the oracle can run. sosfiltfilt composes the
  same trick with odd extension + state-response literals.
- **shift/permutation ops**: pure integer index arithmetic — exact.
- **pipeline ops**: identical md5-derived hash constructions re-written
  in DuckDB's dialect (lists, lambdas, bit ops) — byte-equal results.

Spark-side scale notes live with each operator's implementation module;
this file is only the wiring + oracle text. A variant-tag union of leaf
queries is one ``_UNIONS`` entry, registered as ``_union(name)``.
"""

from __future__ import annotations

import struct
from functools import reduce

import numpy as np
from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from . import operators as ops
from . import pipeline as pl
from .functions import timeutil
from .functions.complexsql import magnitude
from .kernels.dsp import lfilter_1d, sosfilt_1d
from .kernels.filter_design import (
    butter_sos,
    cheby1_sos,
    firwin,
    lfilter_zi,
    sos2tf,
    sosfilt_zi,
)
from .sources.tables import load_table

__all__ = ["REGISTRY", "QUERIES", "ORACLES", "flagship", "plain"]


def _events(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_table(spark, "events", sf_dir).select("user_id", "ts", "value")


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_table(spark, "documents", sf_dir)


def _emb(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_table(spark, "embeddings", sf_dir)


def _r(col, digits: int, alias: str):
    """round + (-0.0 -> 0.0) normalization, matching `round(x, d) + 0.0`."""
    return (F.round(col, digits) + F.lit(0.0)).alias(alias)


# Values landing EXACTLY on rounding half-boundaries (lattice-quantized
# inputs through exact ±1/0 coefficients) flip round() on 1e-10
# cross-engine noise at any digit count. Quantize with an
# epsilon-shifted floor instead: floor(x*1000 + 0.5 + 1e-6) is
# deterministic for any value on the half-boundary lattice (the 1e-6
# shift dominates the noise but is far below the lattice spacing).
def _q3(expr_sql: str) -> str:
    return f"CAST(floor(({expr_sql}) * 1000 + 0.5 + 1e-6) AS BIGINT)"


def _q3_col(col):
    return F.floor(col * 1000 + F.lit(0.5) + F.lit(1e-6)).cast("bigint")


def _with_payloads(docs: DataFrame, encode) -> DataFrame:
    """``(doc_id, payload)``: one synthetic binary payload per row of
    ``docs``, ``encode(row) -> bytes`` over the row's columns. Fixture
    generator only; production payloads arrive from storage."""
    import pandas as _pd

    def synth(batches):
        for pdf in batches:
            payloads = [encode(row) for row in pdf.itertuples(index=False)]
            yield _pd.DataFrame({"doc_id": pdf["doc_id"], "payload": payloads})

    return docs.mapInPandas(synth, "doc_id bigint, payload binary")


def _fixture_pixels(d: int, channels: int = 3):
    """The image fixtures' raster: ``(d·31 + i·7) mod 256`` over
    ``channels`` interleaved samples of a (3 + d % 4) × (4 + d % 5)
    image."""
    w, h = 4 + d % 5, 3 + d % 4
    px = (d * 31 + np.arange(channels * w * h) * 7) % 256
    return px.astype(np.uint8).reshape((h, w, channels) if channels > 1 else (h, w))


def _wav(pcm: bytes, sr: int) -> bytes:
    """``pcm`` (PCM16 mono samples) behind a 44-byte RIFF/WAVE header."""
    return (
        b"RIFF"
        + struct.pack("<I", 36 + len(pcm))
        + b"WAVEfmt "
        + struct.pack("<IHHIIHH", 16, 1, 1, sr, sr * 2, 2, 16)
        + b"data"
        + struct.pack("<I", len(pcm))
        + pcm
    )


# ---------------------------------------------------------------------------
# shared oracle CTE: one row per (user, sample position) with 0-based j,
# the value as DOUBLE, and the series length n
# ---------------------------------------------------------------------------

_S = """
s AS (
  SELECT user_id,
         CAST(row_number() OVER (PARTITION BY user_id ORDER BY ts) - 1 AS BIGINT) AS j,
         CAST(value AS DOUBLE) AS x,
         CAST(count(*) OVER (PARTITION BY user_id) AS BIGINT) AS n
  FROM events
)
"""

# O(n^2) literal DFT per user: bin k of user's series (k taken from the
# same position table). re/im of X[k] = sum_j x_j e^{-2*pi*i*j*k/n}.
_SPEC = """
spec AS (
  SELECT a.user_id, b.j AS k, a.n,
         sum(a.x * cos(2 * pi() * a.j * b.j / a.n)) AS re,
         sum(-a.x * sin(2 * pi() * a.j * b.j / a.n)) AS im
  FROM s a JOIN s b USING (user_id)
  GROUP BY a.user_id, b.j, a.n
)
"""


# ---------------------------------------------------------------------------
# FFT family
# ---------------------------------------------------------------------------

_FFT_ORACLE = (
    f"WITH {_S}, {_SPEC} "
    "SELECT user_id, k AS idx, round(re, 4) + 0.0 AS re4, round(im, 4) + 0.0 AS im4 "
    "FROM spec"
)


def q_fft(spark, sf_dir):
    res = ops.fft(_events(spark, sf_dir), by=["user_id"], dim="ts")
    return res.select("user_id", "idx", _r("re", 4, "re4"), _r("im", 4, "im4"))


_HFFT_ORACLE = (
    f"WITH {_S}, "
    # positions m = 0..2(n-1)-1 for the Hermitian-extended output
    "pos AS ("
    "  SELECT user_id, j AS m, n FROM s"
    "  UNION ALL"
    "  SELECT user_id, j + n AS m, n FROM s WHERE j <= n - 3"
    ") "
    # hfft of a real series a: y[m] = a0 + (-1)^m*a_{n-1}
    #                               + 2*sum_{j=1..n-2} a_j cos(2 pi j m / (2(n-1)))
    "SELECT p.user_id, p.m AS idx, "
    "round(sum(CASE WHEN s.j = 0 THEN s.x "
    "               WHEN s.j = p.n - 1 THEN s.x * (CASE WHEN p.m % 2 = 0 THEN 1 ELSE -1 END) "
    "               ELSE 2 * s.x * cos(2 * pi() * s.j * p.m / (2 * (p.n - 1))) END), 4) + 0.0 AS value4 "
    "FROM pos p JOIN s ON s.user_id = p.user_id "
    "GROUP BY p.user_id, p.m"
)


def q_hfft(spark, sf_dir):
    res = ops.hfft(_events(spark, sf_dir), by=["user_id"], dim="ts")
    return res.select("user_id", "idx", _r("value", 4, "value4"))


_IFFT_ORACLE = (
    f"WITH {_S} "
    "SELECT user_id, j AS idx, round(x, 6) + 0.0 AS re6, 0.0 AS im6 FROM s"
)


def q_ifft(spark, sf_dir):
    """fft -> ifft round-trip; the oracle is the original series (im = 0)."""
    spec = ops.fft(_events(spark, sf_dir), by=["user_id"], dim="ts")
    back = ops.ifft(
        spec.select("user_id", "idx", "re", "im", "frequency"),
        by=["user_id"],
        dim="frequency",
        newdim="t2",
        values=["re", "im"],
    )
    return back.select("user_id", "idx", _r("re", 6, "re6"), _r("im", 6, "im6"))


_IRFFT_ORACLE = (
    f"WITH {_S} "
    "SELECT user_id, j AS idx, round(x, 6) + 0.0 AS value6 "
    "FROM s WHERE j < n - (n % 2)"
)


def q_irfft(spark, sf_dir):
    """rfft -> irfft round-trip on the series truncated to even length
    (irfft's default output length 2*(m-1) only reproduces even n)."""
    ev = _events(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts")
    cnt = Window.partitionBy("user_id")
    ev = (
        ev.withColumn("rn", F.row_number().over(w) - 1)
        .withColumn("n", F.count(F.lit(1)).over(cnt))
        .filter(F.col("rn") < F.col("n") - (F.col("n") % 2))
        .select("user_id", "ts", "value")
    )
    spec = ops.rfft(ev, by=["user_id"], dim="ts")
    back = ops.irfft(
        spec.select("user_id", "idx", "re", "im", "frequency"),
        by=["user_id"],
        dim="frequency",
        newdim="t2",
        values=["re", "im"],
    )
    return back.select("user_id", "idx", _r("value", 6, "value6"))


_IHFFT_ORACLE = (
    f"WITH {_S} "
    "SELECT user_id, j AS idx, round(x, 6) + 0.0 AS re6, 0.0 AS im6 FROM s"
)


def q_ihfft(spark, sf_dir):
    """hfft -> ihfft round-trip back to the original real series."""
    sp = ops.hfft(_events(spark, sf_dir), by=["user_id"], dim="ts")
    back = ops.ihfft(
        sp.select("user_id", "idx", "value", "frequency"),
        by=["user_id"],
        dim="frequency",
        newdim="t2",
        values=["value"],
    )
    return back.select("user_id", "idx", _r("re", 6, "re6"), _r("im", 6, "im6"))


_FFTSHIFT_ORACLE = (
    f"WITH {_S} "
    "SELECT user_id, (j + n // 2) % n AS idx, x AS value FROM s"
)


def q_fftshift(spark, sf_dir):
    res = ops.fftshift(_events(spark, sf_dir), by=["user_id"], dim="ts")
    return res.select("user_id", "idx", "value")


_IFFTSHIFT_ORACLE = (
    f"WITH {_S} "
    "SELECT user_id, (j + n - n // 2) % n AS idx, x AS value FROM s"
)


def q_ifftshift(spark, sf_dir):
    res = ops.ifftshift(_events(spark, sf_dir), by=["user_id"], dim="ts")
    return res.select("user_id", "idx", "value")


# ---------------------------------------------------------------------------
# convolution family
# ---------------------------------------------------------------------------

_FFTCONVOLVE_ORACLE = (
    f"WITH {_S} "
    "SELECT a.user_id, a.j + b.j AS idx, round(sum(a.x * b.x), 4) + 0.0 AS conv4 "
    "FROM s a JOIN s b USING (user_id) "
    "GROUP BY a.user_id, a.j + b.j"
)


def q_fftconvolve(spark, sf_dir):
    """Self-convolution (mode=full) of each user's series."""
    ev = _events(spark, sf_dir)
    res = ops.fftconvolve(ev, ev, by=["user_id"], dim="ts", mode="full")
    return res.select("user_id", "idx", _r("value", 4, "conv4"))


_CONVOLVE_ORACLE = (
    f"WITH {_S}, "
    "full_conv AS ("
    "  SELECT a.user_id, a.j + b.j AS k, a.n, sum(a.x * b.x) AS y"
    "  FROM s a JOIN s b USING (user_id)"
    "  GROUP BY a.user_id, a.j + b.j, a.n"
    ") "
    "SELECT user_id, k - (n - 1) // 2 AS idx, round(y, 4) + 0.0 AS conv4 "
    "FROM full_conv WHERE k - (n - 1) // 2 BETWEEN 0 AND n - 1"
)


def q_convolve(spark, sf_dir):
    """convolve shim, mode=same (centered slice of the full output)."""
    ev = _events(spark, sf_dir)
    res = ops.convolve(ev, ev, by=["user_id"], dim="ts", mode="same")
    return res.select("user_id", "idx", _r("value", 4, "conv4"))


_VALID_TAPS = (0.2, 0.5, 0.3, -0.1, 0.1)
_VALID_TAPS_VALUES = ", ".join(f"({j}, {h!r})" for j, h in enumerate(_VALID_TAPS))


_CONVOLVE_VALID_SQL = (
    f"WITH {_S}, "
    "full_conv AS ("
    "  SELECT s.user_id, s.j + k.j2 AS k, s.n, sum(s.x * k.h) AS y"
    f"  FROM s CROSS JOIN (SELECT * FROM (VALUES {_VALID_TAPS_VALUES}) AS t(j2, h)) k"
    "  GROUP BY s.user_id, s.j + k.j2, s.n"
    ") "
    f"SELECT user_id, CAST(k - {len(_VALID_TAPS) - 1} AS BIGINT) AS idx, "
    "round(y, 6) + 0.0 AS conv6 "
    f"FROM full_conv WHERE k BETWEEN {len(_VALID_TAPS) - 1} AND n - 1"
)


def q_convolve_valid(spark, sf_dir):
    """mode='valid' convolution of each user's series with a fixed
    5-tap kernel — only fully-overlapped lags, length n-m+1. The
    reference's valid path is broken (signal.py:77 returns the
    NotImplemented constant as a size); implemented properly here, so
    this query is coverage the reference itself cannot run. The kernel
    side is a broadcast of a 5-row literal frame replicated per user
    (same shape as the fftconvolve_2d kernel feed).

    Users with fewer events than taps are filtered out on BOTH sides:
    the oracle's ``k BETWEEN m-1 AND n-1`` emits nothing for n < m,
    while mode='valid' swap semantics would emit |n-m|+1 rows — a
    latent divergence at scale factors with short series (ADVICE r4)."""
    ev = _events(spark, sf_dir)
    ev = ev.withColumn(
        "__n", F.count(F.lit(1)).over(Window.partitionBy("user_id"))
    ).filter(F.col("__n") >= len(_VALID_TAPS)).drop("__n")
    ker = spark.createDataFrame(
        [(int(j), float(h)) for j, h in enumerate(_VALID_TAPS)],
        "j bigint, value double",
    )
    ker = (
        ev.select("user_id")
        .distinct()
        .crossJoin(F.broadcast(ker))
        .select("user_id", F.col("j").alias("ts"), "value")
    )
    res = ops.convolve(ev, ker, by=["user_id"], dim="ts", mode="valid")
    return res.select("user_id", "idx", _r("value", 6, "conv6"))


_FIR_TAPS = (0.1, 0.2, 0.4, 0.2, 0.1)


def _fir_sql_terms(taps, x="x", over="w") -> str:
    """Same left-fold dot-product expression convolve_fir builds."""
    m = len(taps)
    center = (m - 1) // 2
    acc = "0.0"
    for j, h in enumerate(taps):
        k = center - j
        if k > 0:
            term = f"lead({x}, {k}, 0.0) OVER {over}"
        elif k < 0:
            term = f"lag({x}, {-k}, 0.0) OVER {over}"
        else:
            term = x
        acc = f"({acc} + {h!r} * {term})"
    return acc


_CONVOLVE_FIR_SQL = (
    f"WITH {_S} "
    f"SELECT user_id, j AS idx, round({_fir_sql_terms(_FIR_TAPS)}, 6) + 0.0 AS fir6 "
    "FROM s WINDOW w AS (PARTITION BY user_id ORDER BY j)"
)


def q_convolve_fir(spark, sf_dir):
    ev = _events(spark, sf_dir)
    res = ops.convolve_fir(
        ev, _FIR_TAPS, by=["user_id"], dim="ts", out="fir"
    )
    w = Window.partitionBy("user_id").orderBy("ts")
    res = res.withColumn("idx", F.row_number().over(w) - 1)
    return res.select("user_id", "idx", _r("fir", 6, "fir6"))


# ---------------------------------------------------------------------------
# decimate / resample
# ---------------------------------------------------------------------------

_DECIMATE_Q = 4
_DECIMATE_FIR_N = 12  # numtaps 13 (odd -> truly zero-phase)
_DECIMATE_FIR_TAPS = tuple(float(t) for t in firwin(_DECIMATE_FIR_N + 1, 1.0 / _DECIMATE_Q))


def _centered_fir_sql(taps, x="x", over="w") -> str:
    """same-mode centered FIR: y[j] = sum_m h[m] * x[j + c - m], c=(len-1)//2."""
    m = len(taps)
    c = (m - 1) // 2
    parts = []
    for mm, h in enumerate(taps):
        k = c - mm  # >0 -> lead, <0 -> lag
        if k > 0:
            parts.append(f"{h!r} * lead({x}, {k}, 0.0) OVER {over}")
        elif k < 0:
            parts.append(f"{h!r} * lag({x}, {-k}, 0.0) OVER {over}")
        else:
            parts.append(f"{h!r} * {x}")
    return "(" + " + ".join(parts) + ")"


_DECIMATE_FIR_ORACLE = (
    f"WITH {_S}, "
    f"filt AS (SELECT user_id, j, {_centered_fir_sql(_DECIMATE_FIR_TAPS)} AS y "
    "FROM s WINDOW w AS (PARTITION BY user_id ORDER BY j)) "
    f"SELECT user_id, j // {_DECIMATE_Q} AS idx, round(y, 4) + 0.0 AS value4 "
    f"FROM filt WHERE j % {_DECIMATE_Q} = 0"
)


def q_decimate_fir(spark, sf_dir):
    res = ops.decimate(
        _events(spark, sf_dir),
        _DECIMATE_Q,
        by=["user_id"],
        dim="ts",
        n=_DECIMATE_FIR_N,
        ftype="fir",
        zero_phase=True,
    )
    return res.select("user_id", "idx", _r("value", 4, "value4"))


def _values_cte(name: str, col: str, arr: np.ndarray) -> str:
    """VALUES list ``name(m, col)`` from a 1-D float array."""
    rows = ", ".join(f"({m}, {float(v)!r})" for m, v in enumerate(arr))
    return f"{name}(m, {col}) AS (SELECT * FROM (VALUES {rows}))"


def _impulse_response_sql(sos: np.ndarray, length: int = 160) -> str:
    """VALUES list h(m, hv): the cascade's impulse response, computed by
    this package's own sosfilt kernel. A causal IIR from zero state is
    exactly conv(x, h) for any input shorter than `length`."""
    imp = np.zeros(length)
    imp[0] = 1.0
    return _values_cte("h", "hv", sosfilt_1d(sos, imp))


_DEC_IIR_SOS = cheby1_sos(8, 0.05, 0.8 / _DECIMATE_Q)


_RESAMPLE_NUM = 32


_RESAMPLE_ORACLE = (
    f"WITH {_S}, {_SPEC}, "
    # spectrum bins kept by Fourier resampling to num=32 (num < n always
    # holds here: n >= 45 per group), with the even-m Nyquist fold
    "kept AS ("
    "  SELECT user_id, n, 16 AS kt, re, im FROM spec WHERE k = n - 16"
    "  UNION ALL"
    "  SELECT user_id, n, k AS kt, re, im FROM spec WHERE k <= 16"
    "  UNION ALL"
    "  SELECT user_id, n, k - n + 32 AS kt, re, im FROM spec WHERE k >= n - 15"
    "), "
    "m_pos AS (SELECT user_id, j AS m, n FROM s WHERE j < 32) "
    "SELECT p.user_id, p.m AS idx, "
    "round(sum((k.re * cos(2 * pi() * k.kt * p.m / 32) "
    "         - k.im * sin(2 * pi() * k.kt * p.m / 32)) / p.n), 4) + 0.0 AS value4 "
    "FROM m_pos p JOIN kept k ON k.user_id = p.user_id "
    "GROUP BY p.user_id, p.m"
)


def q_resample(spark, sf_dir):
    res = ops.resample(
        _events(spark, sf_dir), _RESAMPLE_NUM, by=["user_id"], dim="ts"
    )
    return res.select("user_id", "idx", _r("value", 4, "value4"))


_RESAMPLE_FREQ_ORACLE = (
    f"WITH {_S}, {_SPEC}, "
    # identical kept-bin construction as `resample` (num=32 < n always)
    "kept AS ("
    "  SELECT user_id, n, 16 AS kt, re, im FROM spec WHERE k = n - 16"
    "  UNION ALL"
    "  SELECT user_id, n, k AS kt, re, im FROM spec WHERE k <= 16"
    "  UNION ALL"
    "  SELECT user_id, n, k - n + 32 AS kt, re, im FROM spec WHERE k >= n - 15"
    "), "
    "m_pos AS (SELECT user_id, j AS m, n FROM s WHERE j < 32) "
    "SELECT p.user_id, p.m AS idx, "
    "round(sum((k.re * cos(2 * pi() * k.kt * p.m / 32) "
    "         - k.im * sin(2 * pi() * k.kt * p.m / 32)) / p.n), 4) + 0.0 AS re4, "
    "round(sum((k.re * sin(2 * pi() * k.kt * p.m / 32) "
    "         + k.im * cos(2 * pi() * k.kt * p.m / 32)) / p.n), 4) + 0.0 AS im4 "
    "FROM m_pos p JOIN kept k ON k.user_id = p.user_id "
    "GROUP BY p.user_id, p.m"
)


def q_resample_freq(spark, sf_dir):
    """scipy's ``domain='freq'`` path: the input is the series' full
    complex FFT spectrum (ops.fft output) and resampling happens
    straight on the bins — fft → resize spectrum → complex ifft. The
    oracle is the same kept-bin inverse DFT as `resample`, emitting
    both the real part (equal to `resample`'s output) and the ~0
    imaginary part."""
    spec = ops.fft(_events(spark, sf_dir), by=["user_id"], dim="ts")
    res = ops.resample(
        spec, _RESAMPLE_NUM, by=["user_id"], dim="idx", domain="freq"
    )
    return res.select(
        "user_id", "idx", _r("re", 4, "re4"), _r("im", 4, "im4")
    )


# ---------------------------------------------------------------------------
# stft / welch (framed spectral analysis)
# ---------------------------------------------------------------------------

_STFT_FL = 16
_STFT_HOP = 8

# frames f = 0..(n-16)//8 and bins k = 0..8, both generated from the
# row-position table itself (n >= 49 per series at test scale)
_STFT_FRAMES = (
    f"fr AS (SELECT user_id, j AS f, n FROM s WHERE j <= (n - {_STFT_FL}) // {_STFT_HOP})"
)
_STFT_BINS = f"b AS (SELECT user_id, j AS k FROM s WHERE j <= {_STFT_FL // 2})"


_STFT_ORACLE = (
    f"WITH {_S}, {_STFT_FRAMES}, {_STFT_BINS} "
    "SELECT fr.user_id, fr.f AS frame, b.k AS bin, "
    f"round(sum(a.x * cos(2 * pi() * (a.j - fr.f * {_STFT_HOP}) * b.k / {_STFT_FL})), 4) + 0.0 AS re4, "
    f"round(sum(-a.x * sin(2 * pi() * (a.j - fr.f * {_STFT_HOP}) * b.k / {_STFT_FL})), 4) + 0.0 AS im4 "
    "FROM fr "
    f"JOIN s a ON a.user_id = fr.user_id AND a.j BETWEEN fr.f * {_STFT_HOP} AND fr.f * {_STFT_HOP} + {_STFT_FL - 1} "
    "JOIN b ON b.user_id = fr.user_id "
    "GROUP BY fr.user_id, fr.f, b.k"
)


def q_stft(spark, sf_dir):
    """Boxcar STFT (frame 16, hop 8); oracle = literal per-frame DFT."""
    res = ops.stft(
        _events(spark, sf_dir),
        by=["user_id"],
        dim="ts",
        frame_len=_STFT_FL,
        hop=_STFT_HOP,
        window=None,
    )
    return res.select("user_id", "frame", "bin", _r("re", 4, "re4"), _r("im", 4, "im4"))


def q_istft_roundtrip(spark, sf_dir):
    """stft → istft round trip (Hann, frame 16, hop 8) through
    :func:`operators.spectral_apply` with the identity transform — the
    fused analysis/resynthesis pass: frame, rfft, irfft and the
    least-squares overlap-add all run inside ONE grouped kernel, so the
    roundtrip pays a single bucket exchange (the two-operator
    composition pays two Python stages for the same math; each costs
    ~0.5 s of fixed stage latency locally regardless of data size).
    Oracle = the original series on the covered positions. The
    compositional stft→istft plans stay driver-verified against the
    SAME oracle as ``istft_native``."""
    rec = ops.spectral_apply(
        _events(spark, sf_dir),
        by=["user_id"],
        dim="ts",
        frame_len=_STFT_FL,
        hop=_STFT_HOP,
        window="hann",
        transform=None,
    )
    return rec.select("user_id", "t", _r("value", 4, "val4"))


_ISTFT_NATIVE_ORACLE = (
    f"WITH {_S} "
    "SELECT user_id, j AS t, round(x, 4) + 0.0 AS val4 "
    f"FROM s WHERE n >= {_STFT_FL} AND j >= 1 "
    f"AND j <= ((n - {_STFT_FL}) // {_STFT_HOP}) * {_STFT_HOP} + {_STFT_FL - 1}"
)


def q_istft_native(spark, sf_dir):
    """stft → istft with the frame-parallel NATIVE overlap-add plan
    (per-frame irfft keyed by (series, frame), then reconstruction as a
    groupBy(t) aggregation in whole-stage codegen — the scale path for
    series longer than one worker's memory). Same oracle as the fused
    roundtrip: both strategies must reproduce the original series."""
    spec = ops.stft(
        _events(spark, sf_dir),
        by=["user_id"],
        dim="ts",
        frame_len=_STFT_FL,
        hop=_STFT_HOP,
        window="hann",
    )
    rec = ops.istft(
        spec, by=["user_id"], frame_len=_STFT_FL, hop=_STFT_HOP, window="hann"
    )
    return rec.select("user_id", "t", _r("value", 4, "val4"))


def _welch_oracle(window: str = "hann") -> str:
    from .operators.spectral import window_taps

    u = float(np.sum(window_taps(window, _STFT_FL) ** 2))
    phase = f"2 * pi() * (a.j - fr.f * {_STFT_HOP}) / {_STFT_FL}"
    if window == "hann":
        win = f"(0.5 - 0.5 * cos({phase}))"
    elif window == "blackman":
        win = f"(0.42 - 0.5 * cos({phase}) + 0.08 * cos(2 * ({phase})))"
    else:
        raise ValueError(f"no SQL form for window {window!r}")
    return (
        f"WITH {_S}, {_STFT_FRAMES}, {_STFT_BINS}, "
        "spec AS ("
        "  SELECT fr.user_id, fr.f, b.k,"
        f"    sum(a.x * {win} * cos(2 * pi() * (a.j - fr.f * {_STFT_HOP}) * b.k / {_STFT_FL})) AS re,"
        f"    sum(-a.x * {win} * sin(2 * pi() * (a.j - fr.f * {_STFT_HOP}) * b.k / {_STFT_FL})) AS im"
        "  FROM fr "
        f"  JOIN s a ON a.user_id = fr.user_id AND a.j BETWEEN fr.f * {_STFT_HOP} AND fr.f * {_STFT_HOP} + {_STFT_FL - 1} "
        "  JOIN b ON b.user_id = fr.user_id "
        "  GROUP BY fr.user_id, fr.f, b.k"
        ") "
        "SELECT user_id, k AS idx, "
        f"round((CASE WHEN k = 0 OR k = {_STFT_FL // 2} THEN 1.0 ELSE 2.0 END) "
        f"  * avg(re * re + im * im) / {u!r}, 4) + 0.0 AS power4 "
        "FROM spec GROUP BY user_id, k"
    )


def q_welch(spark, sf_dir):
    """Hann-windowed Welch averaged periodogram; oracle = the identical
    windowed DFT + frame average in SQL (window formula inline, the
    window-energy constant sum(w^2) from this package's own taps)."""
    res = ops.welch(
        _events(spark, sf_dir),
        by=["user_id"],
        dim="ts",
        frame_len=_STFT_FL,
        hop=_STFT_HOP,
        window="hann",
    )
    return res.select("user_id", "idx", _r("power", 4, "power4"))


def _resample_poly_oracle() -> str:
    """Oracle for resample_poly(up=3, down=2): the polyphase pipeline
    is linear, so each output m is a join-sum over the padded filter —
    y[m] = Σ_k h_pad[k]·x[j] where j = ((m+pre)·down − k)/up is an
    integer in [0, n). Taps come from this package's own firwin, the
    alignment constants from the same formulas as the kernel."""
    up, down, half_len = 3, 2, 30
    h = firwin(2 * half_len + 1, 1.0 / max(up, down)) * up
    n_pre_pad = down - half_len % down
    pre = (half_len + n_pre_pad) // down
    hp = np.concatenate([np.zeros(n_pre_pad), h])
    return (
        f"WITH {_S}, {_values_cte('h', 'hv', hp)}, "
        "outs AS (SELECT user_id, n, unnest(range(0, (n * 3 + 1) // 2)) AS m "
        "FROM (SELECT DISTINCT user_id, n FROM s)) "
        "SELECT o.user_id, o.m AS idx, round(sum(h.hv * x.x), 4) + 0.0 AS value4 "
        f"FROM outs o JOIN h ON ((o.m + {pre}) * 2 - h.m) % 3 = 0 "
        f"JOIN s x ON x.user_id = o.user_id AND x.j = ((o.m + {pre}) * 2 - h.m) // 3 "
        "GROUP BY o.user_id, o.m"
    )


_CWT_WIDTHS = (1.0, 2.0, 4.0)


def _cwt_oracle() -> str:
    """Per width: a centered same-mode FIR with the ricker taps (the
    ricker is symmetric, so scipy's tap reversal is a no-op), stacked
    position-major (idx = j·W + width_idx) like the operator."""
    from .operators.cwt import ricker_taps

    parts = []
    for wi, w in enumerate(_CWT_WIDTHS):
        taps = tuple(float(t) for t in ricker_taps(int(10 * w), w))
        parts.append(
            f"SELECT user_id, j * {len(_CWT_WIDTHS)} + {wi} AS idx, "
            f"round({_centered_fir_sql(taps, over=f'w_cw{wi}')}, 4) + 0.0 AS value4 "
            # unique window names: DuckDB scopes WINDOW clauses across
            # the whole set expression, so per-branch "w" collides
            f"FROM s WINDOW w_cw{wi} AS (PARTITION BY user_id ORDER BY j)"
        )
    return f"WITH {_S} " + " UNION ALL ".join(parts)


def q_cwt_ricker(spark, sf_dir):
    """Ricker continuous wavelet transform at three scales in ONE
    kernel exchange (position-major flat layout, native width/time
    coords — operators/cwt.py); oracle = per-width centered FIR
    convolutions with the same driver-computed taps, unioned."""
    res = ops.cwt_ricker(
        _events(spark, sf_dir), _CWT_WIDTHS, by=["user_id"], dim="ts"
    )
    return res.select("user_id", "idx", _r("value", 4, "value4"))


def q_resample_poly(spark, sf_dir):
    """Rational-rate polyphase resampling (scipy resample_poly, up=3 /
    down=2 — output LONGER than input, exercising the ragged path where
    out_lengths exceed n_max). FIR pipeline, no FFT: the scale-path
    rate changer (operators/resample.py)."""
    res = ops.resample_poly(
        _events(spark, sf_dir), 3, 2, by=["user_id"], dim="ts"
    )
    return res.select("user_id", "idx", _r("value", 4, "value4"))


_PERIODOGRAM_ORACLE = (
    f"WITH {_S}, "
    "sd AS (SELECT user_id, j, x - avg(x) OVER (PARTITION BY user_id) AS x, n "
    "FROM s), "
    "spec AS ("
    "  SELECT a.user_id, b.j AS k, a.n,"
    "    sum(a.x * cos(2 * pi() * a.j * b.j / a.n)) AS re,"
    "    sum(-a.x * sin(2 * pi() * a.j * b.j / a.n)) AS im"
    "  FROM sd a JOIN sd b ON a.user_id = b.user_id AND b.j <= a.n // 2"
    "  GROUP BY a.user_id, b.j, a.n"
    ") "
    "SELECT user_id, k AS idx, "
    f"{_q3('(re * re + im * im) * (CASE WHEN k = 0 OR (n % 2 = 0 AND k = n // 2) THEN 1.0 ELSE 2.0 END) / n')} "
    "AS power_q FROM spec"
)


def q_periodogram(spark, sf_dir):
    """Whole-series single-segment periodogram (scipy boxcar window,
    detrend='constant'); oracle = literal DFT of the demeaned series
    over the one-sided bins with the fold and 1/n scaling inline.
    Epsilon-floor quantized: the demeaning + O(n²) DFT accumulate in
    engine-specific orders, and round() flips on boundary-adjacent
    bins at sf0.01."""
    res = ops.periodogram(_events(spark, sf_dir), by=["user_id"], dim="ts")
    return res.select("user_id", "idx", _q3_col(F.col("power")).alias("power_q"))


# shared CTE for two-signal spectral queries: y = one-sample-lagged x
_XY = (
    "xy AS (SELECT user_id, j, x, "
    "coalesce(lag(x) OVER (PARTITION BY user_id ORDER BY j), 0.0) AS yv, n "
    "FROM s)"
)


_FFTCONVOLVE_COMPLEX_ORACLE = (
    f"WITH {_S}, {_XY} "
    "SELECT a.user_id, a.j + b.j AS idx, "
    "round(sum(a.x * b.x - a.yv * b.yv), 4) + 0.0 AS re4, "
    "round(sum(a.x * b.yv + a.yv * b.x), 4) + 0.0 AS im4 "
    "FROM xy a JOIN xy b USING (user_id) "
    "GROUP BY a.user_id, a.j + b.j"
)


def q_fftconvolve_complex(spark, sf_dir):
    """COMPLEX-input convolution (twin re/im columns, the engine's
    complex convention): each user's analytic-ish signal
    ``a = value + i·lag(value)`` self-convolved in full mode. The
    reference feeds complex128 straight through scipy
    (signal.py:84); r5 kernels silently cast to float — this query
    pins the complex path end-to-end (kernels/dsp.py fft/ifft branch +
    the operator's twin-column plumbing) against the expanded
    (re·re − im·im, re·im + im·re) oracle."""
    ev = _events(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts")
    ca = ev.withColumn("im", F.lag("value", 1, 0.0).over(w))
    res = ops.fftconvolve(
        ca, ca, by=["user_id"], dim="ts", mode="full", im1="im", im2="im"
    )
    return res.select(
        "user_id", "idx", _r("re", 4, "re4"), _r("im", 4, "im4")
    )


def _cross_spec_sql() -> str:
    """Windowed framed DFTs of x and its lagged copy y, per
    (user, frame, bin)."""
    win = f"(0.5 - 0.5 * cos(2 * pi() * (a.j - fr.f * {_STFT_HOP}) / {_STFT_FL}))"
    ang = f"2 * pi() * (a.j - fr.f * {_STFT_HOP}) * b.k / {_STFT_FL}"
    return (
        "spec AS ("
        "  SELECT fr.user_id, fr.f, b.k,"
        f"    sum(a.x * {win} * cos({ang})) AS xre,"
        f"    sum(-a.x * {win} * sin({ang})) AS xim,"
        f"    sum(a.yv * {win} * cos({ang})) AS yre,"
        f"    sum(-a.yv * {win} * sin({ang})) AS yim"
        "  FROM fr "
        f"  JOIN xy a ON a.user_id = fr.user_id AND a.j BETWEEN fr.f * {_STFT_HOP} AND fr.f * {_STFT_HOP} + {_STFT_FL - 1} "
        "  JOIN b ON b.user_id = fr.user_id "
        "  GROUP BY fr.user_id, fr.f, b.k"
        ")"
    )


def _lagged(spark, sf_dir):
    ev = _events(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts")
    return ev.withColumn("value", F.lag("value", 1, 0.0).over(w))


def _csd_oracle() -> str:
    from .operators.spectral import window_taps

    u = float(np.sum(window_taps("hann", _STFT_FL) ** 2))
    fold = f"(CASE WHEN k = 0 OR k = {_STFT_FL // 2} THEN 1.0 ELSE 2.0 END)"
    return (
        f"WITH {_S}, {_XY}, {_STFT_FRAMES}, {_STFT_BINS}, {_cross_spec_sql()} "
        "SELECT user_id, k AS idx, "
        + _q3(f"{fold} * avg(xre * yre + xim * yim) / {u!r}")
        + " AS re_q, "
        + _q3(f"{fold} * avg(xre * yim - xim * yre) / {u!r}")
        + " AS im_q "
        "FROM spec GROUP BY user_id, k"
    )


def q_csd(spark, sf_dir):
    """Cross-spectral density of each series against its one-sample lag
    (cogrouped two-input framed spectra); oracle = the same windowed
    cross products in SQL."""
    res = ops.csd(
        _events(spark, sf_dir),
        _lagged(spark, sf_dir),
        by=["user_id"],
        dim="ts",
        frame_len=_STFT_FL,
        hop=_STFT_HOP,
        window="hann",
    )
    return res.select(
        "user_id",
        "idx",
        _q3_col(F.col("re")).alias("re_q"),
        _q3_col(F.col("im")).alias("im_q"),
    )


_COHERENCE_ORACLE = (
    f"WITH {_S}, {_XY}, {_STFT_FRAMES}, {_STFT_BINS}, {_cross_spec_sql()}, "
    "m AS (SELECT user_id, k, avg(xre * xre + xim * xim) AS sxx, "
    "avg(yre * yre + yim * yim) AS syy, "
    "avg(xre * yre + xim * yim) AS sre, avg(xre * yim - xim * yre) AS sim "
    "FROM spec GROUP BY user_id, k) "
    "SELECT user_id, k AS idx, "
    "round(CASE WHEN sxx * syy > 0 THEN (sre * sre + sim * sim) / (sxx * syy) "
    "ELSE 0.0 END, 6) + 0.0 AS coh6 FROM m"
)


def q_coherence(spark, sf_dir):
    """Magnitude-squared coherence against the one-sample lag (window
    energy and fold cancel); oracle = the same frame-averaged ratio."""
    res = ops.coherence(
        _events(spark, sf_dir),
        _lagged(spark, sf_dir),
        by=["user_id"],
        dim="ts",
        frame_len=_STFT_FL,
        hop=_STFT_HOP,
        window="hann",
    )
    return res.select("user_id", "idx", _r("coherence", 6, "coh6"))


def _spectrogram_oracle() -> str:
    win = f"(0.5 - 0.5 * cos(2 * pi() * (a.j - fr.f * {_STFT_HOP}) / {_STFT_FL}))"
    return (
        f"WITH {_S}, {_STFT_FRAMES}, {_STFT_BINS} "
        "SELECT fr.user_id, fr.f AS frame, b.k AS bin, "
        f"round(power(sum(a.x * {win} * cos(2 * pi() * (a.j - fr.f * {_STFT_HOP}) * b.k / {_STFT_FL})), 2) "
        f"    + power(sum(-a.x * {win} * sin(2 * pi() * (a.j - fr.f * {_STFT_HOP}) * b.k / {_STFT_FL})), 2), 4) + 0.0 AS pow4 "
        "FROM fr "
        f"JOIN s a ON a.user_id = fr.user_id AND a.j BETWEEN fr.f * {_STFT_HOP} AND fr.f * {_STFT_HOP} + {_STFT_FL - 1} "
        "JOIN b ON b.user_id = fr.user_id "
        "GROUP BY fr.user_id, fr.f, b.k"
    )


def q_spectrogram(spark, sf_dir):
    """Hann spectrogram: |STFT|^2 per (frame, bin) — the stft operator
    plus one native power projection (no extra kernel pass)."""
    res = ops.stft(
        _events(spark, sf_dir),
        by=["user_id"],
        dim="ts",
        frame_len=_STFT_FL,
        hop=_STFT_HOP,
        window="hann",
    )
    return res.select(
        "user_id",
        "frame",
        "bin",
        _r(F.col("re") * F.col("re") + F.col("im") * F.col("im"), 4, "pow4"),
    )


_RFFT_PAD_N = 64


# NOTE: bins k=0 and k=16 of a 64-point DFT have cos/sin terms of
# exactly 0/±1, so with lattice-quantized inputs the sums land exactly
# on rounding half-boundaries — the epsilon-floor quantizer (module
# top) is required for the n=64/ortho rfft variant of q_rfft_merged.


_DETREND_ORACLE = (
    f"WITH {_S}, "
    "m AS (SELECT user_id, avg(x) AS ex, avg(j) AS ep, avg(j * x) AS epx, "
    "avg(j * j) AS epp FROM s GROUP BY user_id), "
    "fit AS (SELECT user_id, ex, ep, (epx - ep * ex) / (epp - ep * ep) AS slope "
    "FROM m) "
    "SELECT s.user_id, s.j AS idx, "
    "CAST(floor((s.x - (f.ex - f.slope * f.ep) - f.slope * s.j) * 1000 + 0.5 + 1e-6) AS BIGINT) AS resid_q "
    "FROM s JOIN fit f USING (user_id)"
)


def q_detrend(spark, sf_dir):
    """Linear detrend — pure Catalyst closed-form least squares (no
    kernel, one window exchange); oracle = the same moment formulas as
    group aggregates. Epsilon-floor quantized: the two engines
    accumulate the moments in different orders."""
    res = ops.detrend(_events(spark, sf_dir), by=["user_id"], dim="ts")
    w = Window.partitionBy("user_id").orderBy("ts")
    res = res.withColumn("idx", F.row_number().over(w) - 1)
    return res.select(
        "user_id", "idx", _q3_col(F.col("value_detrended")).alias("resid_q")
    )


_MEDFILT_K = 5
# zero-padded sliding median (scipy.signal.medfilt): with the m present
# window values sorted and z = k - m implicit edge zeros, the median at
# 0-based position p sits before the negatives end (a[p]), inside the
# zero run (0.0), or z places earlier in the array (a[p - z]).
_MEDFILT_CASE = (
    f"CASE WHEN {( _MEDFILT_K - 1) // 2} < neg THEN a[{(_MEDFILT_K - 1) // 2 + 1}] "
    f"WHEN {(_MEDFILT_K - 1) // 2} < neg + ({_MEDFILT_K} - len(a)) THEN 0.0 "
    f"ELSE a[{(_MEDFILT_K - 1) // 2 + 1} - ({_MEDFILT_K} - len(a))] END"
)


_MEDFILT_ORACLE = (
    f"WITH {_S}, "
    "m AS (SELECT user_id, j, list_sort(list(x) OVER w) AS a FROM s "
    f"WINDOW w AS (PARTITION BY user_id ORDER BY j ROWS BETWEEN "
    f"{_MEDFILT_K // 2} PRECEDING AND {_MEDFILT_K // 2} FOLLOWING)), "
    "c AS (SELECT user_id, j, a, len(list_filter(a, v -> v < 0)) AS neg FROM m) "
    f"SELECT user_id, j AS idx, round({_MEDFILT_CASE}, 6) + 0.0 AS med6 FROM c"
)


def q_medfilt(spark, sf_dir):
    """Sliding median with scipy's zero-padded edges — pure Catalyst
    (array_sort + closed-form position CASE, operators/smooth.py); the
    oracle rebuilds the identical multiset arithmetic in DuckDB list
    functions. The median is a passed-through input value, so both
    engines agree bit-for-bit (round only normalizes -0.0)."""
    res = ops.medfilt(
        _events(spark, sf_dir), by=["user_id"], dim="ts", kernel_size=_MEDFILT_K
    )
    w = Window.partitionBy("user_id").orderBy("ts")
    res = res.withColumn("idx", F.row_number().over(w) - 1)
    return res.select("user_id", "idx", _r(F.col("value_med"), 6, "med6"))


_WIENER_K = 5


_WIENER_ORACLE = (
    f"WITH {_S}, "
    f"l AS (SELECT user_id, j, x, sum(x) OVER w / {_WIENER_K}.0 AS lm, "
    f"sum(x * x) OVER w / {_WIENER_K}.0 - (sum(x) OVER w / {_WIENER_K}.0) * "
    f"(sum(x) OVER w / {_WIENER_K}.0) AS lv FROM s "
    f"WINDOW w AS (PARTITION BY user_id ORDER BY j ROWS BETWEEN "
    f"{_WIENER_K // 2} PRECEDING AND {_WIENER_K // 2} FOLLOWING)), "
    "n AS (SELECT *, avg(lv) OVER (PARTITION BY user_id) AS nz FROM l) "
    "SELECT user_id, j AS idx, "
    "CAST(floor((CASE WHEN lv < nz THEN lm ELSE lm + (x - lm) * (1 - nz / lv) END) "
    "* 1000 + 0.5 + 1e-6) AS BIGINT) AS wiener_q FROM n"
)


def q_wiener(spark, sf_dir):
    """Adaptive Wiener filter (scipy.signal.wiener semantics, noise
    estimated from the series-mean local variance) — two window
    aggregates sharing one exchange, zero Python
    (operators/smooth.py). Epsilon-floor quantized: the moving sums
    accumulate in engine-specific orders."""
    res = ops.wiener(
        _events(spark, sf_dir), by=["user_id"], dim="ts", mysize=_WIENER_K
    )
    w = Window.partitionBy("user_id").orderBy("ts")
    res = res.withColumn("idx", F.row_number().over(w) - 1)
    return res.select(
        "user_id", "idx", _q3_col(F.col("value_wiener")).alias("wiener_q")
    )


# ---------------------------------------------------------------------------
# hilbert
# ---------------------------------------------------------------------------

# analytic signal: inverse DFT of the one-sided-weighted spectrum.
# H(k): 1 for k=0 and (n even) k=n/2; 2 for 1 <= k < ceil(n/2); 0 else.
_HILBERT_CORE = (
    "an AS ("
    "  SELECT sp.user_id, p.j AS idx,"
    "    sum(CASE WHEN sp.k = 0 THEN 1.0"
    "             WHEN sp.n % 2 = 0 AND sp.k = sp.n // 2 THEN 1.0"
    "             WHEN sp.k < (sp.n + 1) // 2 THEN 2.0"
    "             ELSE 0.0 END"
    "        * (sp.re * cos(2 * pi() * sp.k * p.j / sp.n)"
    "           - sp.im * sin(2 * pi() * sp.k * p.j / sp.n)) / sp.n) AS re,"
    "    sum(CASE WHEN sp.k = 0 THEN 1.0"
    "             WHEN sp.n % 2 = 0 AND sp.k = sp.n // 2 THEN 1.0"
    "             WHEN sp.k < (sp.n + 1) // 2 THEN 2.0"
    "             ELSE 0.0 END"
    "        * (sp.re * sin(2 * pi() * sp.k * p.j / sp.n)"
    "           + sp.im * cos(2 * pi() * sp.k * p.j / sp.n)) / sp.n) AS im"
    "  FROM spec sp JOIN s p ON p.user_id = sp.user_id"
    "  GROUP BY sp.user_id, p.j"
    ")"
)


_HILBERT_ORACLE = (
    f"WITH {_S}, {_SPEC}, {_HILBERT_CORE} "
    "SELECT user_id, idx, round(re, 4) + 0.0 AS re4, round(im, 4) + 0.0 AS im4 "
    "FROM an"
)


def q_hilbert(spark, sf_dir):
    res = ops.hilbert(_events(spark, sf_dir), by=["user_id"], dim="ts")
    return res.select("user_id", "idx", _r("re", 4, "re4"), _r("im", 4, "im4"))


_HILBERT_ENVELOPE_ORACLE = (
    f"WITH {_S}, {_SPEC}, {_HILBERT_CORE} "
    "SELECT user_id, idx, round(sqrt(re * re + im * im), 4) + 0.0 AS env4 "
    "FROM an"
)


def q_hilbert_envelope(spark, sf_dir):
    res = ops.envelope(
        ops.hilbert(_events(spark, sf_dir), by=["user_id"], dim="ts")
    )
    return res.select("user_id", "idx", _r("envelope", 4, "env4"))


# ---------------------------------------------------------------------------
# IIR filters
# ---------------------------------------------------------------------------

_SOSFILT_SOS = butter_sos(4, 0.3)


_SOSFILT_ORACLE = (
    f"WITH {_S}, {_impulse_response_sql(_SOSFILT_SOS)} "
    "SELECT xi.user_id, xi.j AS idx, round(sum(h.hv * xj.x), 4) + 0.0 AS value4 "
    "FROM s xi JOIN h ON h.m <= xi.j "
    "JOIN s xj ON xj.user_id = xi.user_id AND xj.j = xi.j - h.m "
    "GROUP BY xi.user_id, xi.j"
)


def q_sosfilt(spark, sf_dir):
    res = ops.sosfilt(
        _SOSFILT_SOS, _events(spark, sf_dir), by=["user_id"], dim="ts"
    )
    return res.select("user_id", "idx", _r("value", 4, "value4"))


_SOSFILT_CHUNKED_ORACLE = (
    f"WITH {_S}, {_impulse_response_sql(_SOSFILT_SOS)} "
    "SELECT xi.user_id, xi.j AS idx, round(sum(h.hv * xj.x), 4) + 0.0 AS value4 "
    "FROM s xi JOIN h ON h.m <= xi.j "
    "JOIN s xj ON xj.user_id = xi.user_id AND xj.j = xi.j - h.m "
    "GROUP BY xi.user_id, xi.j"
)


def q_sosfilt_chunked(spark, sf_dir):
    """Chunked long-series sosfilt (sequential passes with per-series
    zi handoff, worker memory bounded by chunk_rows not series length).
    chunk_rows=16 forces 4-6 real state handoffs per series at test
    scale; the recursion is exact, so the oracle is the SAME impulse-
    response convolution that verifies whole-series sosfilt."""
    res = ops.sosfilt_chunked(
        _SOSFILT_SOS,
        _events(spark, sf_dir),
        by=["user_id"],
        dim="ts",
        chunk_rows=16,
    )
    return res.select("user_id", "idx", _r("value", 4, "value4"))


# sosfiltfilt: oracle built in _sosfiltfilt_oracle_sql below (odd
# extension + impulse-response convolution + state-response literals,
# forward and backward).
_SFF_SOS = butter_sos(4, 0.25)


def _state_response_sql(sos: np.ndarray, name: str, length: int = 200) -> str:
    """VALUES list g(m, gv): filter output for zero input from the
    steady-state unit initial condition sosfilt_zi(sos); the linear
    'initial state' term of a seeded sosfilt run."""
    zi = sosfilt_zi(sos)
    zeros = np.zeros(length)
    g, _ = sosfilt_1d(sos, zeros, zi=zi)
    return _values_cte(name, "gv", g)


def _filtfilt_chain_sql(
    sos: np.ndarray | None = None,
    length: int = 200,
    padtype: str = "odd",
    ba: tuple | None = None,
) -> str:
    """CTE chain (edge extension + impulse/state-response convolution,
    forward and backward) ending in ``ff(user_id, idx, y)`` — the
    zero-phase filtfilt of the ``s`` series with the kernel's default
    padlen and the given scipy ``padtype``. ``sos`` takes the cascade
    form (padlen 3·(2·n_sections+1)); ``ba`` the transfer-function
    form (padlen 3·max(len(b), len(a))) — the chain itself only needs
    the impulse/state responses, which linearity makes sufficient for
    the seeded forward and backward passes regardless of form."""
    if ba is not None:
        b, a = ba
        p = 3 * max(len(np.atleast_1d(b)), len(np.atleast_1d(a)))
        imp = np.zeros(length)
        imp[0] = 1.0
        hs = _values_cte("h", "hv", lfilter_1d(b, a, imp))
        g, _ = lfilter_1d(b, a, np.zeros(length), zi=lfilter_zi(b, a))
        gs = _values_cte("g", "gv", g)
    else:
        p = 3 * (2 * sos.shape[0] + 1)
        hs = _impulse_response_sql(sos, length=length)
        gs = _state_response_sql(sos, "g", length=length)
    head_expr, tail_expr = {
        "odd": ("2 * f.x - a.x", "2 * l.x - a.x"),
        "even": ("a.x", "a.x"),
        "constant": ("f.x", "l.x"),
    }[padtype]
    return f"""{hs}, {gs},
ext AS (
  -- {padtype} extension: positions 0..n+2p-1 over the padded series
  SELECT user_id, j + {p} AS i, x, n FROM s
  UNION ALL
  SELECT a.user_id, {p} - a.j AS i, {head_expr}, a.n
  FROM s a JOIN s f ON f.user_id = a.user_id AND f.j = 0
  WHERE a.j BETWEEN 1 AND {p}
  UNION ALL
  SELECT a.user_id, 2 * (a.n - 1) + {p} - a.j AS i, {tail_expr}, a.n
  FROM s a JOIN s l ON l.user_id = a.user_id AND l.j = a.n - 1
  WHERE a.j BETWEEN a.n - 1 - {p} AND a.n - 2
),
x0 AS (SELECT user_id, x AS v0 FROM ext WHERE i = 0),
fwd AS (
  SELECT e.user_id, e.i, e.n,
         sum(h.hv * e2.x) + any_value(x0.v0) * any_value(g.gv) AS y
  FROM ext e
  JOIN h ON h.m <= e.i
  JOIN ext e2 ON e2.user_id = e.user_id AND e2.i = e.i - h.m
  JOIN x0 ON x0.user_id = e.user_id
  JOIN g ON g.m = e.i
  GROUP BY e.user_id, e.i, e.n
),
rev1 AS (
  SELECT user_id, n + 2 * {p} - 1 - i AS i, n, y AS x FROM fwd
),
y0 AS (SELECT user_id, x AS v0 FROM rev1 WHERE i = 0),
bwd AS (
  SELECT e.user_id, e.i, e.n,
         sum(h.hv * e2.x) + any_value(y0.v0) * any_value(g.gv) AS y
  FROM rev1 e
  JOIN h ON h.m <= e.i
  JOIN rev1 e2 ON e2.user_id = e.user_id AND e2.i = e.i - h.m
  JOIN y0 ON y0.user_id = e.user_id
  JOIN g ON g.m = e.i
  GROUP BY e.user_id, e.i, e.n
),
rev2 AS (
  SELECT user_id, n + 2 * {p} - 1 - i AS i, n, y FROM bwd
),
ff AS (
  SELECT user_id, i - {p} AS idx, y
  FROM rev2 WHERE i BETWEEN {p} AND n + {p} - 1
)"""


def _sosfiltfilt_oracle_sql() -> str:
    return (
        f"WITH {_S}, {_filtfilt_chain_sql(_SFF_SOS)} "
        "SELECT user_id, idx, round(y, 4) + 0.0 AS value4 FROM ff"
    )


# The even padtype is scipy's mirror-without-sign-flip edge extension;
# the reference forwards padtype to scipy (signal.py:449).


# transfer-function (b, a) form: 5-tap numerator/denominator from the
# cascaded butter(4, 0.2) — exercises the general direct-form-II-
# transposed recursion, not the biquad special case
_LF_B, _LF_A = sos2tf(butter_sos(4, 0.2))
_LF_H = lfilter_1d(_LF_B, _LF_A, np.eye(1, 160, 0).ravel())


_LFILTER_ORACLE = (
    f"WITH {_S}, {_values_cte('h', 'hv', _LF_H)} "
    "SELECT xi.user_id, xi.j AS idx, round(sum(h.hv * xj.x), 4) + 0.0 AS value4 "
    "FROM s xi JOIN h ON h.m <= xi.j "
    "JOIN s xj ON xj.user_id = xi.user_id AND xj.j = xi.j - h.m "
    "GROUP BY xi.user_id, xi.j"
)


def q_lfilter(spark, sf_dir):
    """Causal (b, a) transfer-function filter (scipy.signal.lfilter —
    the surface the reference's sos-only wrappers stop short of);
    oracle = the same impulse-response-convolution identity as sosfilt,
    with h computed by this package's own lfilter kernel."""
    res = ops.lfilter(
        _LF_B, _LF_A, _events(spark, sf_dir), by=["user_id"], dim="ts"
    )
    return res.select("user_id", "idx", _r("value", 4, "value4"))


_FILTFILT_ORACLE = (
    f"WITH {_S}, {_filtfilt_chain_sql(ba=(_LF_B, _LF_A))} "
    "SELECT user_id, idx, round(y, 4) + 0.0 AS value4 FROM ff"
)


def q_filtfilt(spark, sf_dir):
    """Zero-phase (b, a) filtfilt (scipy pad-method semantics, default
    odd extension, padlen 3·max(len(b), len(a))); oracle = the filtfilt
    CTE chain seeded with lfilter_zi-derived state responses."""
    res = ops.filtfilt(
        _LF_B, _LF_A, _events(spark, sf_dir), by=["user_id"], dim="ts"
    )
    return res.select("user_id", "idx", _r("value", 4, "value4"))


def _savgol_oracle_sql(w: int, m: int, deriv: int, digits: int, alias: str) -> str:
    """Mirror of operators/savgol.py: the same driver-computed
    coefficient rows emitted as the same left-fold lead/lag dot
    products, with the head/tail/interior position CASE."""
    from .operators.savgol import savgol_coeff_matrices

    interior, head, tail = savgol_coeff_matrices(w, m, deriv)
    h = w // 2

    def dot(pairs) -> str:
        acc = "0.0"
        for off, c in pairs:
            if off > 0:
                term = f"lead(x, {off}, 0.0) OVER w0"
            elif off < 0:
                term = f"lag(x, {-off}, 0.0) OVER w0"
            else:
                term = "x"
            acc = f"({acc} + {float(c)!r} * {term})"
        return acc

    branches = []
    for i in range(h):
        branches.append(
            f"WHEN j = {i} THEN {dot([(jj - i, head[i][jj]) for jj in range(w)])}"
        )
    for i in range(h):
        branches.append(
            f"WHEN j = n - 1 - {i} THEN "
            f"{dot([(jj - w + 1 + i, tail[i][jj]) for jj in range(w)])}"
        )
    interior_sql = dot([(jj - h, interior[jj]) for jj in range(w)])
    case = f"CASE {' '.join(branches)} ELSE {interior_sql} END"
    return (
        f"WITH {_S} "
        f"SELECT user_id, j AS idx, round({case}, {digits}) + 0.0 AS {alias} "
        "FROM s WINDOW w0 AS (PARTITION BY user_id ORDER BY j)"
    )


_SG_W, _SG_M = 7, 3


def q_savgol(spark, sf_dir):
    """Savitzky–Golay smoothing with scipy's mode='interp' edges
    (polynomial fit to the first/last window, evaluated at the edge
    positions) — pure Catalyst lead/lag dot products + position CASE
    (operators/savgol.py); the oracle emits the identical coefficient
    rows and fold order in DuckDB."""
    res = ops.savgol_filter(
        _events(spark, sf_dir),
        by=["user_id"],
        dim="ts",
        window_length=_SG_W,
        polyorder=_SG_M,
    )
    w = Window.partitionBy("user_id").orderBy("ts")
    res = res.withColumn("idx", F.row_number().over(w) - 1)
    return res.select("user_id", "idx", _r(F.col("value_sg"), 6, "sg6"))


def q_savgol_deriv(spark, sf_dir):
    """First-derivative Savitzky–Golay (deriv=1, the numerically-stable
    slope estimator) — same plan, derivative-basis coefficient rows."""
    res = ops.savgol_filter(
        _events(spark, sf_dir),
        by=["user_id"],
        dim="ts",
        window_length=9,
        polyorder=4,
        deriv=1,
    )
    w = Window.partitionBy("user_id").orderBy("ts")
    res = res.withColumn("idx", F.row_number().over(w) - 1)
    return res.select("user_id", "idx", _r(F.col("value_sg"), 6, "sgd6"))


# ---------------------------------------------------------------------------
# peak_widths — the scipy walk algorithm re-expressed relationally:
# prev/next strictly-higher neighbours bound each peak's contour, range
# minima give the prominence, and the crossing of the evaluation height
# is the extremal sample position with x <= height inside those bounds
# (the walk's stop condition), linearly interpolated. Every arithmetic
# step mirrors the kernel's op order, so the doubles are bit-identical
# and the epsilon-floor quantizer compares exactly.
# ---------------------------------------------------------------------------


def _peak_widths_oracle() -> str:
    return f"""
WITH {_S},
pk AS (
  SELECT user_id, j AS p, x AS xp,
         CAST(row_number() OVER (PARTITION BY user_id ORDER BY j) - 1 AS BIGINT) AS peak
  FROM (
    SELECT user_id, j, x,
           lag(x) OVER w AS xl, lead(x) OVER w AS xr
    FROM s WINDOW w AS (PARTITION BY user_id ORDER BY j)
  ) WHERE xl IS NOT NULL AND xr IS NOT NULL AND x > xl AND x > xr
),
bounds AS (
  SELECT pk.user_id, pk.peak, pk.p, pk.xp,
         coalesce(max(CASE WHEN a.j < pk.p AND a.x > pk.xp THEN a.j END), -1) AS ph,
         coalesce(min(CASE WHEN a.j > pk.p AND a.x > pk.xp THEN a.j END), max(a.n)) AS nh
  FROM pk JOIN s a USING (user_id)
  GROUP BY pk.user_id, pk.peak, pk.p, pk.xp
),
mins AS (
  SELECT b.user_id, b.peak, b.p, b.xp, b.ph, b.nh,
         min(CASE WHEN a.j > b.ph AND a.j <= b.p THEN a.x END) AS lmin,
         min(CASE WHEN a.j >= b.p AND a.j < b.nh THEN a.x END) AS rmin
  FROM bounds b JOIN s a USING (user_id)
  GROUP BY b.user_id, b.peak, b.p, b.xp, b.ph, b.nh
),
h AS (
  SELECT *, xp - 0.5 * (xp - greatest(lmin, rmin)) AS height FROM mins
),
ips AS (
  SELECT h.user_id, h.peak, h.height,
         max(CASE WHEN a.j > h.ph AND a.j <= h.p AND a.x <= h.height THEN a.j END) AS il,
         min(CASE WHEN a.j >= h.p AND a.j < h.nh AND a.x <= h.height THEN a.j END) AS ir
  FROM h JOIN s a USING (user_id)
  GROUP BY h.user_id, h.peak, h.height, h.ph, h.nh, h.p
),
vals AS (
  SELECT i.user_id, i.peak, i.height, i.il, i.ir,
         max(CASE WHEN a.j = i.il THEN a.x END) AS xil,
         max(CASE WHEN a.j = i.il + 1 THEN a.x END) AS xil1,
         max(CASE WHEN a.j = i.ir THEN a.x END) AS xir,
         max(CASE WHEN a.j = i.ir - 1 THEN a.x END) AS xirm1
  FROM ips i JOIN s a USING (user_id)
  GROUP BY i.user_id, i.peak, i.height, i.il, i.ir
),
fin AS (
  SELECT user_id, peak, height,
         il + CASE WHEN xil < height THEN (height - xil) / (xil1 - xil) ELSE 0 END AS lip,
         ir - CASE WHEN xir < height THEN (height - xir) / (xirm1 - xir) ELSE 0 END AS rip
  FROM vals
)
SELECT user_id, peak,
       CAST(floor((rip - lip) * 1000 + 0.5 + 1e-6) AS BIGINT) AS width_q,
       CAST(floor(height * 1000 + 0.5 + 1e-6) AS BIGINT) AS wh_q,
       CAST(floor(lip * 1000 + 0.5 + 1e-6) AS BIGINT) AS lip_q,
       CAST(floor(rip * 1000 + 0.5 + 1e-6) AS BIGINT) AS rip_q
FROM fin
"""


def q_peak_widths(spark, sf_dir):
    """Widths of interior local maxima of each user's series at half
    prominence. Peaks are detected in pure SQL (strict local maxima);
    width measurement runs through the cogrouped kernel."""
    ev = _events(spark, sf_dir)
    peaks = ops.find_peaks(ev, by=["user_id"], dim="ts").select(
        "user_id", "peak", "index"
    )
    res = ops.peak_widths(
        ev, peaks, by=["user_id"], dim="ts", peak="peak", index="index"
    )
    return res.select(
        "user_id",
        "peak",
        _q3_col(F.col("width")).alias("width_q"),
        _q3_col(F.col("width_height")).alias("wh_q"),
        _q3_col(F.col("left_ip")).alias("lip_q"),
        _q3_col(F.col("right_ip")).alias("rip_q"),
    )


_FP_HEIGHT = 0.0
_FP_THRESHOLD = 0.05


_FIND_PEAKS_ORACLE = (
    f"WITH {_S}, "
    "nb AS ("
    "  SELECT user_id, j, x,"
    "         lag(x) OVER (PARTITION BY user_id ORDER BY j) AS xl,"
    "         lead(x) OVER (PARTITION BY user_id ORDER BY j) AS xr"
    "  FROM s"
    "), "
    # scipy plateau semantics (run midpoints), mirroring the operator's
    # running last/first-ignore-nulls construction
    "r AS ("
    "  SELECT user_id, j, x, xl, xr,"
    "    last_value(CASE WHEN xl IS NULL OR x != xl THEN j END IGNORE NULLS)"
    "      OVER (PARTITION BY user_id ORDER BY j"
    "            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS rs,"
    "    first_value(CASE WHEN xr IS NULL OR x != xr THEN j END IGNORE NULLS)"
    "      OVER (PARTITION BY user_id ORDER BY j"
    "            ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS re,"
    "    last_value(CASE WHEN x != xl THEN xl END IGNORE NULLS)"
    "      OVER (PARTITION BY user_id ORDER BY j"
    "            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pv,"
    "    first_value(CASE WHEN x != xr THEN xr END IGNORE NULLS)"
    "      OVER (PARTITION BY user_id ORDER BY j"
    "            ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nv"
    "  FROM nb"
    "), "
    "pk AS ("
    "  SELECT user_id, j, x FROM r"
    "  WHERE pv < x AND nv < x AND j = (rs + re) // 2"
    f"  AND x >= {_FP_HEIGHT}"
    f"  AND least(x - xl, x - xr) >= {_FP_THRESHOLD}"
    ") "
    "SELECT user_id, "
    "CAST(row_number() OVER (PARTITION BY user_id ORDER BY j) - 1 AS BIGINT) AS peak, "
    "j AS index, round(x, 4) + 0.0 AS val4 FROM pk"
)


def q_find_peaks(spark, sf_dir):
    """In-engine peak detection (strict local maxima + scipy-style
    height/threshold filters) — the producer side of peak_widths. Pure
    Catalyst windows; the oracle is the same logic in DuckDB."""
    res = ops.find_peaks(
        _events(spark, sf_dir),
        by=["user_id"],
        dim="ts",
        height=_FP_HEIGHT,
        threshold=_FP_THRESHOLD,
    )
    return res.select(
        "user_id",
        F.col("peak").cast("bigint").alias("peak"),
        F.col("index").cast("bigint").alias("index"),
        _r("value", 4, "val4"),
    )


# ---------------------------------------------------------------------------
# flagship: per-user dominant frequency (rfft -> argmax |X[k]|, k >= 1)
# ---------------------------------------------------------------------------

_DOMINANT_FREQUENCY_ORACLE = (
    f"WITH {_S}, {_SPEC}, "
    "mag AS ("
    "  SELECT user_id, k, n, round(sqrt(re * re + im * im), 3) + 0.0 AS m3"
    "  FROM spec WHERE k >= 1 AND k <= n // 2"
    ") "
    "SELECT user_id, k AS peak_bin, m3 AS peak_mag3 FROM ("
    "  SELECT user_id, k, m3,"
    "         row_number() OVER (PARTITION BY user_id ORDER BY m3 DESC, k) AS rnk"
    "  FROM mag"
    ") WHERE rnk = 1"
)


def q_dominant_frequency(spark, sf_dir):
    spec = ops.rfft(_events(spark, sf_dir), by=["user_id"], dim="ts")
    mag = spec.filter(F.col("idx") >= 1).select(
        "user_id", F.col("idx").alias("peak_bin"), _r(magnitude(), 3, "peak_mag3")
    )
    # argmax as a partial-aggregatable max(struct(mag, -bin)) — struct
    # ordering gives "largest magnitude, then smallest bin" with
    # map-side combine; a row_number window would instead full-sort
    # every user's spectrum after an extra shuffle.
    best = mag.groupBy("user_id").agg(
        F.max(
            F.struct(F.col("peak_mag3"), (-F.col("peak_bin")).alias("neg_bin"))
        ).alias("b")
    )
    return best.select(
        "user_id",
        (-F.col("b.neg_bin")).cast("bigint").alias("peak_bin"),
        F.col("b.peak_mag3").alias("peak_mag3"),
    )


def flagship(spark: SparkSession, sf_dir: str = "/root/testdata/sf0.001") -> DataFrame:
    """Driver smoke entry: the dominant-frequency query at sf0.001."""
    return q_dominant_frequency(spark, sf_dir)


# ---------------------------------------------------------------------------
# pipeline: dedup / similarity / text / multimodal
# ---------------------------------------------------------------------------

# DuckDB fragments mirroring pipeline.hashes: whitespace tokens and
# distinct word-3-gram shingles (1-based list indexing).
_TOKS = (
    "toks AS (SELECT doc_id, list_filter(string_split(text, ' '), t -> t <> '') AS tk "
    "FROM documents)"
)
_SHINGLES = (
    "sh AS (SELECT doc_id, list_distinct(list_transform(range(1, len(tk) - 1), "
    "i -> tk[i] || ' ' || tk[i + 1] || ' ' || tk[i + 2])) AS shingles "
    "FROM toks WHERE len(tk) >= 3)"
)


_DEDUP_EXACT_ORACLE = (
    "SELECT md5(text) AS content_hash, min(doc_id) AS keep_id, "
    "count(*) AS n_copies FROM documents GROUP BY md5(text)"
)


def q_dedup_exact(spark, sf_dir):
    return pl.exact_duplicates(_docs(spark, sf_dir))


_MINHASH_N = 16
_MINHASH_BANDS = 4
_MINHASH_THRESHOLD = 0.5


def _minhash_oracle(threshold: float = _MINHASH_THRESHOLD) -> str:
    from .pipeline.hashes import MINHASH_P, minhash_coeffs

    rows = _MINHASH_N // _MINHASH_BANDS
    mins = ", ".join(
        f"min(({a} * x + {b}) % {MINHASH_P}) AS mh_{i}"
        for i, (a, b) in enumerate(minhash_coeffs(_MINHASH_N))
    )
    band_selects = " UNION ALL ".join(
        f"SELECT doc_id, {b} AS band, md5("
        + " || '|' || ".join(
            f"CAST(mh_{b * rows + r} AS VARCHAR)" for r in range(rows)
        )
        + ") AS band_hash FROM sigs"
        for b in range(_MINHASH_BANDS)
    )
    return f"""
WITH {_TOKS}, {_SHINGLES},
inv AS (SELECT doc_id, sh, ('0x' || substring(md5(sh), 1, 8))::BIGINT AS x
        FROM (SELECT doc_id, unnest(shingles) AS sh FROM sh)),
sigs AS (SELECT doc_id, {mins} FROM inv GROUP BY doc_id),
bands AS ({band_selects}),
cand AS (
  SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
  FROM bands a JOIN bands b
    ON a.band = b.band AND a.band_hash = b.band_hash AND a.doc_id < b.doc_id
)
SELECT a_id, b_id, jaccard FROM (
  SELECT c.a_id, c.b_id,
         len(list_intersect(sa.shingles, sb.shingles))
           / len(list_distinct(list_concat(sa.shingles, sb.shingles))) AS jaccard
  FROM cand c
  JOIN sh sa ON sa.doc_id = c.a_id
  JOIN sh sb ON sb.doc_id = c.b_id
) WHERE jaccard >= {threshold}
"""


def q_dedup_minhash(spark, sf_dir):
    return pl.minhash_pairs(
        _docs(spark, sf_dir),
        num_hashes=_MINHASH_N,
        bands=_MINHASH_BANDS,
        threshold=_MINHASH_THRESHOLD,
    )


_SIMHASH_MAXDIST = 6


def _simhash_oracle() -> str:
    votes = ", ".join(
        f"sum(CASE WHEN h & {1 << b} != 0 THEN 1 ELSE -1 END) AS v{b}"
        for b in range(48)
    )
    fp = " + ".join(f"CASE WHEN v{b} > 0 THEN {1 << b} ELSE 0 END" for b in range(48))
    return f"""
WITH {_TOKS},
tok AS (
  SELECT doc_id, ('0x' || substring(md5(t), 1, 12))::BIGINT AS h
  FROM (SELECT doc_id, unnest(tk) AS t FROM toks)
),
votes AS (SELECT doc_id, {votes} FROM tok GROUP BY doc_id),
fps AS (SELECT doc_id, CAST({fp} AS BIGINT) AS simhash FROM votes),
chunks AS (
  SELECT doc_id, simhash, c.chunk, (simhash >> (c.chunk * 12)) & 4095 AS chunk_val
  FROM fps, (VALUES (0), (1), (2), (3)) c(chunk)
),
cand AS (
  SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id,
         CAST(bit_count(xor(a.simhash, b.simhash)) AS INTEGER) AS hamming
  FROM chunks a JOIN chunks b
    ON a.chunk = b.chunk AND a.chunk_val = b.chunk_val AND a.doc_id < b.doc_id
)
SELECT a_id, b_id, hamming FROM cand WHERE hamming <= {_SIMHASH_MAXDIST}
"""


def q_dedup_simhash(spark, sf_dir):
    res = pl.simhash_pairs(_docs(spark, sf_dir), max_distance=_SIMHASH_MAXDIST)
    return res.select("a_id", "b_id", F.col("hamming").cast("int").alias("hamming"))


_NGRAM_THRESHOLD = 0.5


_DEDUP_NGRAM_JACCARD_ORACLE = (
    f"WITH {_TOKS}, {_SHINGLES}, "
    "sizes AS (SELECT doc_id, len(shingles) AS set_size FROM sh), "
    "inv AS (SELECT doc_id, unnest(shingles) AS sh FROM sh), "
    "inter AS ("
    "  SELECT a.doc_id AS a_id, b.doc_id AS b_id, count(*) AS n_inter"
    "  FROM inv a JOIN inv b ON a.sh = b.sh AND a.doc_id < b.doc_id"
    "  GROUP BY a.doc_id, b.doc_id"
    ") "
    "SELECT a_id, b_id, jaccard FROM ("
    "  SELECT i.a_id, i.b_id,"
    "         CAST(i.n_inter AS DOUBLE) / (za.set_size + zb.set_size - i.n_inter) AS jaccard"
    "  FROM inter i"
    "  JOIN sizes za ON za.doc_id = i.a_id"
    "  JOIN sizes zb ON zb.doc_id = i.b_id"
    f") WHERE jaccard >= {_NGRAM_THRESHOLD}"
)


def q_dedup_ngram_jaccard(spark, sf_dir):
    return pl.ngram_jaccard_pairs(
        _docs(spark, sf_dir), threshold=_NGRAM_THRESHOLD
    )


_EMB_DIM = 64
_EMB_THRESHOLD = 0.45

_EMB_NORM = (
    "v AS (SELECT vec_id, label, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v "
    "FROM embeddings), "
    "nv AS (SELECT vec_id, label, v, "
    f"sqrt(list_sum(list_transform(range(1, {_EMB_DIM + 1}), i -> v[i] * v[i]))) AS nrm "
    "FROM v)"
)
_EMB_DOT = (
    f"list_sum(list_transform(range(1, {_EMB_DIM + 1}), i -> a.v[i] * b.v[i]))"
)


_DEDUP_EMBEDDING_ORACLE = (
    f"WITH {_EMB_NORM} "
    "SELECT a_id, b_id, cos_sim FROM ("
    f"  SELECT a.vec_id AS a_id, b.vec_id AS b_id,"
    f"         round({_EMB_DOT} / (a.nrm * b.nrm), 6) + 0.0 AS cos_sim"
    "  FROM nv a JOIN nv b ON a.vec_id < b.vec_id"
    f") WHERE cos_sim >= {_EMB_THRESHOLD}"
)


def q_dedup_embedding(spark, sf_dir):
    # method pinned to 'exact': the oracle is exact all-pairs, while the
    # 'auto' default switches to approximate LSH above 100k vectors —
    # a guaranteed hash mismatch at larger scale factors (ADVICE r4).
    res = pl.embedding_dup_pairs(
        _emb(spark, sf_dir), threshold=_EMB_THRESHOLD, method="exact"
    )
    return res.select(
        "a_id", "b_id", _r("cos_sim", 6, "cos_sim")
    ).filter(F.col("cos_sim") >= _EMB_THRESHOLD)


_ANN_K = 5
_ANN_NQ = 8

_ANN_SCORED = (
    f"q AS (SELECT * FROM nv WHERE vec_id < {_ANN_NQ}), "
    "scored AS ("
    "  SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,"
    f"         round({_EMB_DOT} / (a.nrm * b.nrm), 6) + 0.0 AS cos_sim"
    "  FROM q a JOIN nv b ON b.vec_id <> a.vec_id{extra}"
    ")"
)


_ANN_COSINE_TOPK_ORACLE = (
    f"WITH {_EMB_NORM}, {_ANN_SCORED.format(extra='')} "
    "SELECT query_id, rank, neighbor_id, cos_sim FROM ("
    "  SELECT *, CAST(row_number() OVER (PARTITION BY query_id "
    "    ORDER BY cos_sim DESC, neighbor_id) AS INTEGER) AS rank FROM scored"
    f") WHERE rank <= {_ANN_K}"
)


def q_ann_cosine_topk(spark, sf_dir):
    emb = _emb(spark, sf_dir)
    return pl.cosine_topk(
        emb, emb.filter(F.col("vec_id") < _ANN_NQ), k=_ANN_K
    )


_ANN_COSINE_TOPK_IVF_ORACLE = (
    f"WITH {_EMB_NORM}, {_ANN_SCORED.format(extra=' AND b.label = a.label')} "
    "SELECT query_id, rank, neighbor_id, cos_sim FROM ("
    "  SELECT *, CAST(row_number() OVER (PARTITION BY query_id "
    "    ORDER BY cos_sim DESC, neighbor_id) AS INTEGER) AS rank FROM scored"
    f") WHERE rank <= {_ANN_K}"
)


def q_ann_cosine_topk_ivf(spark, sf_dir):
    emb = _emb(spark, sf_dir)
    return pl.cosine_topk_ivf(
        emb, emb.filter(F.col("vec_id") < _ANN_NQ), k=_ANN_K
    )


_KM_K = 8
_KM_ITERS = 2


def _kmeans_topk_oracle() -> str:
    """Unrolled Lloyd k-means (init = first k vectors; rounded distances
    and centroids, ties to the smaller cell — the kmeans_cells
    determinism contract) + IVF scoring on the built cells."""
    d = _EMB_DIM

    def assign(name: str, cents: str) -> str:
        return (
            f"{name} AS (SELECT vec_id, cell FROM ("
            "  SELECT n.vec_id, c.cell,"
            "    row_number() OVER (PARTITION BY n.vec_id ORDER BY"
            f"      round(list_sum(list_transform(range(1, {d + 1}),"
            "        i -> (n.v[i] - c.v[i]) * (n.v[i] - c.v[i]))), 6), c.cell) AS rn"
            f"  FROM nv n CROSS JOIN {cents} c"
            ") WHERE rn = 1)"
        )

    update = (
        "cm AS ("
        "  SELECT a1.cell, u.i, round(avg(n.v[u.i]), 6) AS m"
        "  FROM a1 JOIN nv n USING (vec_id),"
        f"  (SELECT unnest(range(1, {d + 1})) AS i) u"
        "  GROUP BY a1.cell, u.i"
        "), "
        "cent1 AS ("
        "  SELECT c0.cell, coalesce(cl.vlist, c0.v) AS v"
        "  FROM cent0 c0 LEFT JOIN ("
        "    SELECT cell, list(m ORDER BY i) AS vlist FROM cm GROUP BY cell"
        "  ) cl USING (cell)"
        ")"
    )
    assert _KM_ITERS == 2, "oracle unrolls exactly two Lloyd iterations"
    return (
        f"WITH {_EMB_NORM}, "
        f"cent0 AS (SELECT vec_id AS cell, v FROM nv WHERE vec_id < {_KM_K}), "
        f"{assign('a1', 'cent0')}, {update}, {assign('a2', 'cent1')}, "
        f"q AS (SELECT n.vec_id, n.v, n.nrm, a2.cell FROM nv n "
        f"JOIN a2 USING (vec_id) WHERE n.vec_id < {_ANN_NQ}), "
        "scored AS ("
        "  SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,"
        f"         round({_EMB_DOT} / (a.nrm * b.nrm), 6) + 0.0 AS cos_sim"
        "  FROM q a JOIN (SELECT n.vec_id, n.v, n.nrm, a2.cell FROM nv n JOIN a2 USING (vec_id)) b"
        "    ON b.cell = a.cell AND b.vec_id <> a.vec_id"
        ") "
        "SELECT query_id, rank, neighbor_id, cos_sim FROM ("
        "  SELECT *, CAST(row_number() OVER (PARTITION BY query_id "
        "    ORDER BY cos_sim DESC, neighbor_id) AS INTEGER) AS rank FROM scored"
        f") WHERE rank <= {_ANN_K}"
    )


def q_ann_cosine_topk_kmeans(spark, sf_dir):
    """IVF with a BUILT index: Lloyd k-means (2 deterministic
    iterations, distributed assignment + per-cell mean updates) builds
    the coarse cells, then each query probes its own cell. Oracle =
    the same two Lloyd rounds unrolled in SQL."""
    emb = _emb(spark, sf_dir)
    cells = pl.kmeans_cells(emb, k=_KM_K, iters=_KM_ITERS)
    corpus = emb.join(cells, "vec_id")
    return pl.cosine_topk_ivf(
        corpus,
        corpus.filter(F.col("vec_id") < _ANN_NQ),
        k=_ANN_K,
        cell_col="cell",
    )


_LSH_PLANES = 8
_LSH_PROBES = 3


def _lsh_topk_oracle() -> str:
    from .pipeline.dedup import srp_plane

    def plane_lit(p: int) -> str:
        return "[" + ", ".join(repr(srp_plane(p, d)) for d in range(_EMB_DIM)) + "]"

    bucket = " + ".join(
        f"(CASE WHEN list_sum(list_transform(range(1, {_EMB_DIM + 1}), "
        f"i -> v[i] * ({plane_lit(p)})[i])) >= 0 THEN {1 << p} ELSE 0 END)"
        for p in range(_LSH_PLANES)
    )
    probe_list = ", ".join(
        ["bucket"] + [f"xor(bucket, {1 << i})" for i in range(_LSH_PROBES - 1)]
    )
    return (
        f"WITH {_EMB_NORM}, "
        f"bk AS (SELECT vec_id, v, nrm, {bucket} AS bucket FROM nv), "
        f"q AS (SELECT vec_id, v, nrm, unnest([{probe_list}]) AS probe "
        f"FROM bk WHERE vec_id < {_ANN_NQ}), "
        "scored AS ("
        "  SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,"
        f"         round({_EMB_DOT} / (a.nrm * b.nrm), 6) + 0.0 AS cos_sim"
        "  FROM q a JOIN bk b ON b.bucket = a.probe AND b.vec_id <> a.vec_id"
        ") "
        "SELECT query_id, rank, neighbor_id, cos_sim FROM ("
        "  SELECT *, CAST(row_number() OVER (PARTITION BY query_id "
        "    ORDER BY cos_sim DESC, neighbor_id) AS INTEGER) AS rank FROM scored"
        f") WHERE rank <= {_ANN_K}"
    )


def q_ann_cosine_topk_lsh(spark, sf_dir):
    """Multiprobe SRP-LSH top-k (8 planes, own bucket + 2 one-bit
    flips); oracle replicates the deterministic hyperplane literals and
    bucket arithmetic in SQL. The approximate-recall trade is the
    point: candidates per query drop to ~probes·N/2^planes."""
    emb = _emb(spark, sf_dir)
    return pl.cosine_topk_lsh(
        emb,
        emb.filter(F.col("vec_id") < _ANN_NQ),
        k=_ANN_K,
        planes=_LSH_PLANES,
        probes=_LSH_PROBES,
    )


_TOKEN_STATS_ORACLE = (
    f"WITH {_TOKS} "
    "SELECT d.doc_id, CAST(length(d.text) AS BIGINT) AS n_chars, "
    "CAST(len(t.tk) AS BIGINT) AS n_tokens, "
    "CAST(len(list_distinct(t.tk)) AS BIGINT) AS n_uniq_tokens, "
    "round(CAST(list_sum(list_transform(t.tk, x -> length(x))) AS DOUBLE) "
    "  / greatest(len(t.tk), 1), 6) + 0.0 AS mean_token_len, "
    "CAST(list_sum(list_transform(t.tk, x -> CAST(ceil(length(x) / 4.0) AS BIGINT))) "
    "  AS BIGINT) AS n_bpe_pieces "
    "FROM documents d JOIN toks t USING (doc_id)"
)


def q_text_token_stats(spark, sf_dir):
    res = pl.token_stats(_docs(spark, sf_dir))
    return res.select(
        "doc_id",
        F.col("n_chars").cast("bigint").alias("n_chars"),
        F.col("n_tokens").cast("bigint").alias("n_tokens"),
        F.col("n_uniq_tokens").cast("bigint").alias("n_uniq_tokens"),
        (F.col("mean_token_len") + F.lit(0.0)).alias("mean_token_len"),
        F.col("n_bpe_pieces").cast("bigint").alias("n_bpe_pieces"),
    )


_STOP_SQL = "(x = 'the' OR x = 'a' OR x = 'and' OR x = 'of' OR x = 'is')"


_TEXT_QUALITY_ORACLE = (
    f"WITH {_TOKS}, "
    "c AS (SELECT doc_id, len(tk) AS n_tok, "
    f"  len(list_filter(tk, x -> {_STOP_SQL})) AS n_stop, "
    "  CAST(list_sum(list_transform(tk, x -> length(x))) AS DOUBLE) "
    "    / greatest(len(tk), 1) AS mean_len "
    "FROM toks) "
    "SELECT doc_id, CAST(n_tok AS BIGINT) AS n_tokens, "
    "CAST(n_stop AS BIGINT) AS n_stopwords, "
    "round(0.4 * least(n_tok / 100.0, 1.0) "
    "  + least(0.3, 0.6 * n_stop / greatest(n_tok, 1)) "
    "  + 0.3 * least(mean_len / 8.0, 1.0), 6) + 0.0 AS quality "
    "FROM c"
)


def q_text_quality(spark, sf_dir):
    res = pl.quality_score(_docs(spark, sf_dir))
    return res.select(
        "doc_id",
        F.col("n_tokens").cast("bigint").alias("n_tokens"),
        F.col("n_stopwords").cast("bigint").alias("n_stopwords"),
        (F.col("quality") + F.lit(0.0)).alias("quality"),
    )


_CURATE_MIN_Q = 0.5


def _curation_oracle() -> str:
    quality = (
        "0.4 * least(n_tok / 100.0, 1.0) "
        "+ least(0.3, 0.6 * n_stop / greatest(n_tok, 1)) "
        "+ 0.3 * least(mean_len / 8.0, 1.0)"
    )
    return (
        f"WITH {_TOKS}, "
        "c AS (SELECT doc_id, len(tk) AS n_tok, "
        f"  len(list_filter(tk, x -> {_STOP_SQL})) AS n_stop, "
        "  CAST(list_sum(list_transform(tk, x -> length(x))) AS DOUBLE) "
        "    / greatest(len(tk), 1) AS mean_len "
        "FROM toks), "
        f"q AS (SELECT doc_id, {quality} AS quality FROM c), "
        "keepers AS (SELECT md5(text) AS h, min(doc_id) AS keep_id "
        "FROM documents GROUP BY md5(text)), "
        "exact_drop AS (SELECT d.doc_id FROM documents d "
        "JOIN keepers k ON md5(d.text) = k.h WHERE d.doc_id <> k.keep_id), "
        f"near AS ({_minhash_oracle().strip()}), "  # nested WITH: inner CTE names shadow the outer ones
        "near_drop AS (SELECT DISTINCT b_id AS doc_id FROM near) "
        "SELECT q.doc_id, round(q.quality, 6) + 0.0 AS quality6, "
        f"CASE WHEN q.quality < {_CURATE_MIN_Q} THEN 'dropped_quality' "
        "WHEN q.doc_id IN (SELECT doc_id FROM exact_drop) THEN 'dropped_exact' "
        "WHEN q.doc_id IN (SELECT doc_id FROM near_drop) THEN 'dropped_neardup' "
        "ELSE 'kept' END AS status "
        "FROM q"
    )


def q_curation_report(spark, sf_dir):
    """The pipeline composed end-to-end: per-document curation verdict
    (quality gate -> exact dedup -> MinHash near-dup, deterministic
    precedence) built from the already-verified primitives; oracle
    composes the same verified CTEs."""
    res = pl.curation_report(
        _docs(spark, sf_dir),
        min_quality=_CURATE_MIN_Q,
        minhash_threshold=_MINHASH_THRESHOLD,
        num_hashes=_MINHASH_N,
        bands=_MINHASH_BANDS,
    )
    return res.select("doc_id", _r("quality", 6, "quality6"), "status")


_SPLIT_W = (("train", 0.8), ("val", 0.1), ("test", 0.1))


_EMB_D = 64


def _quantize_oracle() -> str:
    """Symmetric int8 quantization replayed dimension-by-dimension:
    64 max(abs()) aggregates give the per-dim scales, then each probe
    coordinate re-derives q_i with the identical double arithmetic
    (DuckDB and Spark both round half away from zero, and the operands
    are bitwise-equal doubles, so the rounding agrees exactly)."""
    maxs = ", ".join(
        f"max(abs(CAST(embedding[{i + 1}] AS DOUBLE))) AS m{i + 1}"
        for i in range(_EMB_D)
    )

    def scale(i: int) -> str:
        return f"(CASE WHEN s.m{i + 1} > 0 THEN s.m{i + 1} ELSE 1.0 END)"

    def q(i: int) -> str:
        return (
            f"CAST(greatest(-128.0, least(127.0, "
            f"round(CAST(e.embedding[{i + 1}] AS DOUBLE) / {scale(i)} * 127.0, 0)"
            f")) AS INT)"
        )

    sum_q = " + ".join(q(i) for i in range(_EMB_D))
    return (
        f"WITH s AS (SELECT {maxs} FROM embeddings) "
        f"SELECT e.vec_id, {q(0)} AS q0, {q(1)} AS q1, {q(2)} AS q2, {q(3)} AS q3, "
        f"CAST({sum_q} AS BIGINT) AS sum_q, "
        f"round({scale(0)}, 6) + 0.0 AS scale0_6 "
        "FROM embeddings e CROSS JOIN s"
    )


def q_embedding_quantize(spark, sf_dir):
    """Symmetric per-dimension int8 scalar quantization of the corpus
    embeddings (the 4× memory/bandwidth lever for vector search at
    scale — pipeline/similarity.py quantize_embeddings): two-pass plan
    whose scale aggregation moves ≤ d rows per task. Probed on four
    coordinates + the full-vector sum + one scale."""
    res = pl.quantize_embeddings(
        _emb(spark, sf_dir), id_col="vec_id", vec_col="embedding"
    )
    return res.select(
        "vec_id",
        *[F.get("qvec", i).alias(f"q{i}") for i in range(4)],
        F.aggregate(
            "qvec", F.lit(0).cast("bigint"), lambda acc, v: acc + v.cast("bigint")
        ).alias("sum_q"),
        _r(F.get("scales", 0), 6, "scale0_6"),
    )


_PCA_D = 64  # embedding dimension of the testdata corpus
_PCA_K = 4


def _pca_oracle() -> str:
    """DuckDB-verifiable PCA contract (r7 — closes the r6 `no_oracle`
    row). Eigenvectors themselves have no SQL twin, but the output of
    a CORRECT PCA satisfies invariants DuckDB can compute exactly:

    - 'cov' rows — the upper-triangle covariance the distributed
      moment pass produced (the 100 TB-critical machinery), vs the
      same ``Σ x_i x_j / n − μ_i μ_j`` from raw SQL;
    - 'center' rows — mean projected score per component = 0 (bias
      plumbing);
    - 'decor' rows — mean cross-products between distinct score
      columns = 0: ONLY an eigenbasis of the (independently verified)
      covariance decorrelates the corpus, so this pins the basis up to
      within-eigenspace sign, which the CI numpy-parity test pins;
    - 'order' rows — score variances descend (top-k ordering), value
      literally 1.

    Cross-engine float-summation noise (~1e-12) sits far below the
    epsilon-floor quantizer's 5e-4 half-bin, so the comparison is
    byte-exact."""
    d, k = _PCA_D, _PCA_K
    return (
        "WITH x AS (SELECT vec_id, u.i AS i, CAST(embedding[u.i + 1] AS DOUBLE) AS v "
        f"FROM embeddings CROSS JOIN (SELECT unnest(range({d})) AS i) u), "
        "m AS (SELECT i, avg(v) AS mu FROM x GROUP BY i), "
        "cov AS (SELECT a.i AS i, b.i AS j, "
        "sum(a.v * b.v) / (SELECT count(*) FROM embeddings) "
        "- any_value(ma.mu) * any_value(mb.mu) AS c "
        "FROM x a JOIN x b ON b.vec_id = a.vec_id AND b.i >= a.i "
        "JOIN m ma ON ma.i = a.i JOIN m mb ON mb.i = b.i "
        "GROUP BY a.i, b.i) "
        "SELECT 'cov' AS variant, CAST(i AS BIGINT) AS i, "
        f"CAST(j AS BIGINT) AS j, {_q3('c')} AS v_q FROM cov "
        "UNION ALL SELECT 'center', CAST(u.i AS BIGINT), -1, 0 "
        f"FROM (SELECT unnest(range({k})) AS i) u "
        "UNION ALL SELECT 'decor', CAST(a.i AS BIGINT), CAST(b.i AS BIGINT), 0 "
        f"FROM (SELECT unnest(range({k})) AS i) a "
        f"JOIN (SELECT unnest(range({k})) AS i) b ON b.i > a.i "
        "UNION ALL SELECT 'order', CAST(u.i AS BIGINT), CAST(u.i + 1 AS BIGINT), 1 "
        f"FROM (SELECT unnest(range({k - 1})) AS i) u"
    )


def q_embedding_pca(spark, sf_dir):
    """Driver-verifiable PCA (pipeline/similarity.py): the distributed
    moment pass (each partition emits d + d² floats, never rows) feeds
    a driver eigh; scores are pure-Catalyst dot-product folds. The
    emitted rows are the invariants described in :func:`_pca_oracle` —
    covariance entries byte-level, score centering/decorrelation/
    variance-ordering of the top-4 basis. Per-row scores remain
    numpy-parity-pinned in tests/test_pipeline.py."""
    emb = _emb(spark, sf_dir)
    n, mean, cov = pl.embedding_moments(emb, vec_col="embedding")
    _vals, comps = pl.pca_from_moments(mean, cov, _PCA_K)
    scores = pl.pca_project(emb, comps, mean, id_col="vec_id", vec_col="embedding")

    # driver-held d×d covariance (by design: d² floats, never rows)
    def q3(x: float) -> int:
        return int(np.floor(x * 1000 + 0.5 + 1e-6))

    cov_rows = [
        ("cov", i, j, q3(float(cov[i, j])))
        for i in range(_PCA_D)
        for j in range(i, _PCA_D)
    ]
    cov_df = spark.createDataFrame(
        cov_rows, "variant string, i bigint, j bigint, v_q bigint"
    )

    # one distributed agg over the scores -> 13 invariant rows
    k = _PCA_K
    aggs = [F.sum(F.col(f"pc{i}")).alias(f"s{i}") for i in range(k)]
    aggs += [
        F.sum(F.col(f"pc{i}") * F.col(f"pc{j}")).alias(f"p{i}_{j}")
        for i in range(k)
        for j in range(i, k)
    ]
    one = scores.agg(*aggs, F.count(F.lit(1)).alias("n"))
    items = []
    for i in range(k):
        items.append(
            F.struct(
                F.lit("center").alias("variant"),
                F.lit(i).cast("bigint").alias("i"),
                F.lit(-1).cast("bigint").alias("j"),
                _q3_col(F.col(f"s{i}") / F.col("n")).alias("v_q"),
            )
        )
    for i in range(k):
        for j in range(i + 1, k):
            items.append(
                F.struct(
                    F.lit("decor").alias("variant"),
                    F.lit(i).cast("bigint").alias("i"),
                    F.lit(j).cast("bigint").alias("j"),
                    _q3_col(F.col(f"p{i}_{j}") / F.col("n")).alias("v_q"),
                )
            )
    for i in range(k - 1):
        items.append(
            F.struct(
                F.lit("order").alias("variant"),
                F.lit(i).cast("bigint").alias("i"),
                F.lit(i + 1).cast("bigint").alias("j"),
                (F.col(f"p{i}_{i}") >= F.col(f"p{i + 1}_{i + 1}"))
                .cast("bigint")
                .alias("v_q"),
            )
        )
    inv = one.select(F.explode(F.array(*items)).alias("r")).select("r.*")
    return cov_df.unionAll(inv)


_STRAT_FRACS = {"en": 0.5, "de": 0.25}  # other langs dropped


_DATASET_STRATIFIED_ORACLE = (
    "WITH u AS ("
    "  SELECT doc_id, lang,"
    "    (('0x' || substring(md5('strat|' || CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT"
    "      / 16.0^15) AS u"
    "  FROM documents"
    ") "
    "SELECT lang, count(*) AS n, CAST(min(doc_id) AS BIGINT) AS min_id, "
    "CAST(max(doc_id) AS BIGINT) AS max_id, "
    "CAST(sum(doc_id) AS BIGINT) AS sum_id FROM u "
    "WHERE u < CASE lang WHEN 'en' THEN 0.5 WHEN 'de' THEN 0.25 ELSE 0.0 END "
    "GROUP BY lang"
)


def q_dataset_stratified(spark, sf_dir):
    """Per-stratum deterministic subsample (salted-hash uniform vs a
    per-language fraction; unlisted strata drop — pipeline/sample.py
    stratified_sample). Exact-by-id: the oracle recomputes the same
    md5 arithmetic, and min/max/sum of surviving ids pin the EXACT
    kept set per stratum, not just its size."""
    res = pl.stratified_sample(
        _docs(spark, sf_dir),
        fractions=dict(_STRAT_FRACS),
        stratum_col="lang",
        salt="strat",
    )
    return res.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n"),
        F.min("doc_id").cast("long").alias("min_id"),
        F.max("doc_id").cast("long").alias("max_id"),
        F.sum("doc_id").cast("long").alias("sum_id"),
    )


_DATASET_SPLIT_ORACLE = (
    "WITH u AS ("
    "  SELECT doc_id, lang,"
    "    (('0x' || substring(md5('split|' || CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT"
    "      / 16.0^15) AS u"
    "  FROM documents"
    ") "
    "SELECT CASE WHEN u < 0.8 THEN 'train' WHEN u < 0.9 THEN 'val' "
    "ELSE 'test' END AS split, lang, count(*) AS n "
    "FROM u GROUP BY split, lang"
)


def q_dataset_split(spark, sf_dir):
    """Deterministic train/val/test assignment (salted-hash uniform,
    pure projection — no shuffle, no sampling state, stable under any
    partitioning and rerun; pipeline/sample.py). Grouped counts per
    (split, lang) so the oracle checks the whole assignment."""
    res = pl.split_assign(
        _docs(spark, sf_dir), weights=dict(_SPLIT_W), salt="split"
    )
    return res.groupBy("split", "lang").agg(F.count(F.lit(1)).alias("n"))


_MIX_RATES = {"en": 1.0, "de": 0.5, "fr": 0.25}


_DATASET_MIX_ORACLE = (
    "WITH m AS ("
    + " UNION ALL ".join(
        f"SELECT doc_id, '{lang}' AS source FROM documents WHERE lang = '{lang}' "
        f"AND (('0x' || substring(md5('mix|{lang}|' || CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT"
        f" / 16.0^15) < {rate}"
        for lang, rate in _MIX_RATES.items()
    )
    + ") SELECT source, count(*) AS n, min(doc_id) AS min_id, max(doc_id) AS max_id "
    "FROM m GROUP BY source"
)


def q_dataset_mix(spark, sf_dir):
    """Weighted domain mixture (pipeline/sample.py mix_datasets): the
    documents table split by lang plays three sources sampled at
    1.0/0.5/0.25; grouped counts + id extrema pin the exact survivor
    set. Deterministic salted-hash Bernoulli per source — pure
    projection, rerun-stable, no shuffle before the audit aggregate."""
    docs = _docs(spark, sf_dir)
    sources = {
        lang: docs.filter(F.col("lang") == lang) for lang in _MIX_RATES
    }
    mixed = pl.mix_datasets(sources, _MIX_RATES)
    return mixed.groupBy("source").agg(
        F.count(F.lit(1)).alias("n"),
        F.min("doc_id").alias("min_id"),
        F.max("doc_id").alias("max_id"),
    )


def _lang_filter_sql(lang_words) -> str:
    return "(" + " OR ".join(f"x = '{w}'" for w in lang_words) + ")"


def _lang_id_oracle() -> str:
    from .pipeline.text import LANG_MARKERS

    scores = ", ".join(
        f"CAST(len(list_filter(tk, x -> {_lang_filter_sql(LANG_MARKERS[lang])})) AS BIGINT) AS score_{lang}"
        for lang in ("en", "de", "fr", "es", "zh")
    )
    pred = (
        "CASE WHEN score_en >= score_de AND score_en >= score_fr "
        "AND score_en >= score_es AND score_en >= score_zh THEN 'en' "
        "WHEN score_de >= score_fr AND score_de >= score_es "
        "AND score_de >= score_zh THEN 'de' "
        "WHEN score_fr >= score_es AND score_fr >= score_zh THEN 'fr' "
        "WHEN score_es >= score_zh THEN 'es' ELSE 'zh' END"
    )
    return (
        f"WITH {_TOKS}, c AS (SELECT doc_id, {scores} FROM toks) "
        f"SELECT doc_id, score_en, score_de, score_fr, score_es, score_zh, "
        f"{pred} AS pred_lang FROM c"
    )


_TEXT_REPETITION_ORACLE = (
    f"WITH {_TOKS}, "
    "u AS (SELECT doc_id, len(tk) AS n, len(list_distinct(tk)) AS d "
    "FROM toks WHERE len(tk) > 0), "
    "b AS (SELECT doc_id, len(tk) - 1 AS n_bi, "
    "unnest(list_transform(range(1, len(tk)), i -> tk[i] || ' ' || tk[i + 1])) AS bg "
    "FROM toks WHERE len(tk) >= 2), "
    "bc AS (SELECT doc_id, bg, count(*) AS c, any_value(n_bi) AS n_bi "
    "FROM b GROUP BY doc_id, bg), "
    "tb AS (SELECT doc_id, CAST(max(c) AS DOUBLE) / any_value(n_bi) AS share "
    "FROM bc GROUP BY doc_id) "
    "SELECT u.doc_id, CAST(u.n AS BIGINT) AS n_tokens, "
    "round(1.0 - CAST(u.d AS DOUBLE) / u.n, 6) + 0.0 AS dupfrac6, "
    "round(coalesce(tb.share, 0.0), 6) + 0.0 AS topbi6 "
    "FROM u LEFT JOIN tb ON tb.doc_id = u.doc_id"
)


def q_text_repetition(spark, sf_dir):
    """Gopher-style repetition quality signals: duplicate-token
    fraction + top-bigram share per doc (pipeline/text.py
    repetition_stats). Oracle rebuilds both with DuckDB list lambdas."""
    res = pl.repetition_stats(_docs(spark, sf_dir))
    return res.select(
        "doc_id",
        "n_tokens",
        _r("dup_token_frac", 6, "dupfrac6"),
        _r("top_bigram_share", 6, "topbi6"),
    )


def _redact_oracle() -> str:
    from .pipeline.text import PII_PATTERNS

    aug = (
        "text || ' contact: user' || CAST(doc_id AS VARCHAR) || "
        "'@example.com or 192.168.' || CAST(doc_id % 256 AS VARCHAR) || "
        "'.1 tel +1 (555) 000-' || CAST(1000 + doc_id % 9000 AS VARCHAR)"
    )
    cur, cols = aug, []
    for kind in ("email", "ip", "phone"):
        pat, token = PII_PATTERNS[kind]
        cols.append(
            f"CAST(len(regexp_extract_all({cur}, '{pat}')) AS BIGINT) AS n_{kind}"
        )
        cur = f"regexp_replace({cur}, '{pat}', '{token}', 'g')"
    return (
        f"SELECT doc_id, {cur} AS redacted, {', '.join(cols)} FROM documents"
    )


def q_text_redact(spark, sf_dir):
    """PII redaction over documents whose text is augmented (on BOTH
    sides, same SQL arithmetic) with a synthetic email, IPv4, and phone
    per doc — so every pattern fires and the chained replace-all +
    per-kind counts are value-verified. Patterns sit in the Java/RE2
    common regex subset (pipeline/text.py PII_PATTERNS)."""
    docs = _docs(spark, sf_dir).withColumn(
        "text",
        F.concat(
            F.col("text"),
            F.lit(" contact: user"),
            F.col("doc_id").cast("string"),
            F.lit("@example.com or 192.168."),
            (F.col("doc_id") % 256).cast("string"),
            F.lit(".1 tel +1 (555) 000-"),
            (F.lit(1000) + F.col("doc_id") % 9000).cast("string"),
        ),
    )
    return pl.redact(docs)


_URL_AUG_SQL = (
    "text || ' see https://site' || (doc_id % 7) || '.example.com/p/' || doc_id"
    " || ' and http://cdn.example.org/lib.js again https://site' || "
    "(doc_id % 7) || '.example.com'"
)


_TEXT_URL_STATS_ORACLE = (
    f"WITH aug AS (SELECT doc_id, {_URL_AUG_SQL} AS text FROM documents) "
    "SELECT doc_id, "
    f"CAST(len(regexp_extract_all(text, '{pl.text.URL_PATTERN}')) AS BIGINT) AS n_urls, "
    f"CAST(len(list_distinct(regexp_extract_all(text, '{pl.text.URL_DOMAIN_PATTERN}', 1))) AS BIGINT) AS n_domains, "
    f"coalesce(regexp_extract_all(text, '{pl.text.URL_DOMAIN_PATTERN}', 1)[1], '') AS first_domain "
    "FROM aug"
)


def q_text_url_stats(spark, sf_dir):
    """URL/domain inventory over documents whose text is augmented (on
    BOTH sides, same SQL arithmetic) with three synthetic URLs per doc
    — two distinct domains, one repeated — so counting, distincting,
    and first-match extraction are all value-verified. Patterns sit in
    the Java/RE2 common subset (pipeline/text.py URL_PATTERN)."""
    docs = _docs(spark, sf_dir).withColumn(
        "text",
        F.concat(
            F.col("text"),
            F.lit(" see https://site"),
            (F.col("doc_id") % 7).cast("string"),
            F.lit(".example.com/p/"),
            F.col("doc_id").cast("string"),
            F.lit(" and http://cdn.example.org/lib.js again https://site"),
            (F.col("doc_id") % 7).cast("string"),
            F.lit(".example.com"),
        ),
    )
    res = pl.url_stats(docs)
    return res.select(
        "doc_id",
        F.col("n_urls").cast("long").alias("n_urls"),
        F.col("n_domains").cast("long").alias("n_domains"),
        "first_domain",
    )


_DECONV_DIV = (1.0, -0.5, 0.06)  # roots 0.2/0.3: stable, fast decay


def _deconvolve_oracle() -> str:
    """DuckDB mirror of operators.convolve.deconvolve with the fixed
    divisor above: the quotient is the causal filter 1/divisor applied
    to the signal — i.e. convolution with the divisor's inverse impulse
    response (precomputed literal, decays below 1e-18 well before 160
    taps) — truncated to n−d+1; the remainder re-convolves the divisor
    over the quotient with short window lags."""
    from .kernels.dsp import lfilter_1d

    imp = np.zeros(160)
    imp[0] = 1.0
    h = lfilter_1d([1.0], np.asarray(_DECONV_DIV), imp)
    d = len(_DECONV_DIV)
    rem_terms = " + ".join(
        f"{float(c)!r} * lag(qv, {m}, 0.0) OVER w2"
        if m
        else f"{float(c)!r} * qv"
        for m, c in enumerate(_DECONV_DIV)
    )
    return (
        f"WITH {_S}, {_values_cte('h', 'hv', h)}, "
        "q AS ("
        "  SELECT xi.user_id, xi.j, xi.n, any_value(xi.x) AS x,"
        f"    CASE WHEN xi.j < xi.n - {d - 1} THEN sum(h.hv * xj.x)"
        "     ELSE 0.0 END AS qv"
        "  FROM s xi JOIN h ON h.m <= xi.j"
        "  JOIN s xj ON xj.user_id = xi.user_id AND xj.j = xi.j - h.m"
        "  GROUP BY xi.user_id, xi.j, xi.n"
        ") "
        f"SELECT user_id, j AS idx, {_q3('qv')} AS quot_q, "
        f"{_q3(f'x - ({rem_terms})')} AS rem_q "
        "FROM q WINDOW w2 AS (PARTITION BY user_id ORDER BY j)"
        # epsilon-floor quantized: divisor tap 0.5 puts exact half-
        # boundary lattice values under round() (same failure class the
        # _q3 scheme exists for)
    )


_DUPNG_K = 8


def _dup_ngram_oracle() -> str:
    """DuckDB mirror of pipeline.dedup.duplicated_ngram_spans (k=8,
    min_docs=2): positional word-8-grams, h60 gram hash, distinct-doc
    counts, per-doc covered-token fraction via list algebra."""
    k = _DUPNG_K
    return (
        "WITH toks AS (SELECT doc_id, "
        "list_filter(string_split(text, ' '), t -> t != '') AS toks "
        "FROM documents), "
        "base AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_tokens, "
        f"CAST(greatest(len(toks) - {k} + 1, 0) AS BIGINT) AS n_grams, toks "
        "FROM toks), "
        "grams AS (SELECT doc_id, unnest(range(0, n_grams)) AS pos, toks "
        "FROM base WHERE n_grams > 0), "
        "gh AS (SELECT doc_id, pos, ('0x' || substring(md5("
        f"array_to_string(toks[pos + 1 : pos + {k}], ' ')), 1, 15))::BIGINT AS gh "
        "FROM grams), "
        "dup AS (SELECT gh FROM (SELECT gh, count(DISTINCT doc_id) AS nd "
        "FROM gh GROUP BY gh) WHERE nd >= 2), "
        "starts AS (SELECT g.doc_id, list(g.pos) AS starts FROM gh g "
        "JOIN dup USING (gh) GROUP BY g.doc_id), "
        "cov AS (SELECT doc_id, CAST(len(starts) AS BIGINT) AS n_dup_grams, "
        "CAST(len(list_distinct(flatten(list_transform(starts, "
        f"s -> range(s, s + {k}))))) AS BIGINT) AS covered FROM starts) "
        "SELECT b.doc_id, b.n_tokens, b.n_grams, "
        "coalesce(c.n_dup_grams, 0) AS n_dup_grams, "
        "CAST(floor((CASE WHEN b.n_tokens > 0 THEN "
        "coalesce(c.covered, 0) * 1.0 / b.n_tokens ELSE 0.0 END) * 1000 "
        "+ 0.5 + 1e-6) AS BIGINT) AS frac_q "
        "FROM base b LEFT JOIN cov c USING (doc_id)"
    )


_DECON_BENCH_MOD = 50  # doc_id % 50 == 0 -> the "benchmark" eval set


_DECONTAMINATE_ORACLE = (
    f"WITH {_TOKS}, {_SHINGLES}, "
    f"bench AS (SELECT DISTINCT unnest(shingles) AS s FROM sh "
    f"WHERE doc_id % {_DECON_BENCH_MOD} = 0), "
    f"corpus_sh AS (SELECT doc_id, unnest(shingles) AS s FROM sh "
    f"WHERE doc_id % {_DECON_BENCH_MOD} <> 0), "
    "hits AS (SELECT c.doc_id, count(*) AS n_shared FROM corpus_sh c "
    "JOIN bench b ON b.s = c.s GROUP BY c.doc_id) "
    "SELECT d.doc_id, CAST(coalesce(h.n_shared, 0) AS BIGINT) AS n_shared_ngrams, "
    "coalesce(h.n_shared, 0) > 0 AS contaminated "
    "FROM documents d LEFT JOIN hits h ON h.doc_id = d.doc_id "
    f"WHERE d.doc_id % {_DECON_BENCH_MOD} <> 0"
)


def q_decontaminate(spark, sf_dir):
    """Test-set decontamination: every 50th document plays the eval
    suite; the rest of the corpus is scored for distinct shared word
    3-grams against it (pipeline/text.py decontaminate — broadcast
    benchmark shingles, one corpus-side shuffle). Oracle rebuilds the
    same shingle sets with DuckDB list lambdas."""
    docs = _docs(spark, sf_dir)
    bench = docs.filter(F.col("doc_id") % _DECON_BENCH_MOD == 0)
    corpus = docs.filter(F.col("doc_id") % _DECON_BENCH_MOD != 0)
    return pl.decontaminate(corpus, bench)


_MM_FEATURES = 4


def _multimodal_oracle() -> str:
    feats = ", ".join(
        f"CAST(('0x' || substring(md5(text), {2 * i + 1}, 2)) AS INTEGER) "
        f"* 1.0 AS f{i}"
        for i in range(_MM_FEATURES)
    )
    return (
        "SELECT doc_id, CAST(octet_length(encode(text)) AS INTEGER) AS n_bytes, "
        f"{feats} FROM documents"
    )


def q_multimodal_features(spark, sf_dir):
    df = pl.with_binary(_docs(spark, sf_dir))
    return pl.decode_features(df, n_features=_MM_FEATURES)


_FRAME_BYTES = 8
_FRAME_EVERY = 3


_MULTIMODAL_FRAME_SAMPLE_ORACLE = (
    "WITH fr AS ("
    "  SELECT d.doc_id, CAST(k.k AS INTEGER) AS frame_idx,"
    f"    substring(d.text, CAST(k.k AS INTEGER) * {_FRAME_BYTES} + 1, {_FRAME_BYTES}) AS frame"
    "  FROM documents d,"
    f"  LATERAL (SELECT unnest(range(0, length(d.text) // {_FRAME_BYTES})) AS k) k"
    f"  WHERE k.k % {_FRAME_EVERY} = 0"
    ") "
    "SELECT doc_id, frame_idx, "
    "CAST(('0x' || substring(md5(frame), 1, 2)) AS INTEGER) * 1.0 AS f0 "
    "FROM fr"
)


def q_multimodal_frame_sample(spark, sf_dir):
    """Fixed-stride frame sampling from binary payloads (one output row
    per sampled frame); oracle rebuilds the frames with substring + md5
    arithmetic."""
    df = pl.with_binary(_docs(spark, sf_dir))
    return pl.frame_sample(
        df, frame_bytes=_FRAME_BYTES, every=_FRAME_EVERY
    )


_RESIZE_BYTES = 64


_MULTIMODAL_RESIZE_ORACLE = (
    f"SELECT doc_id, {_RESIZE_BYTES} AS n_bytes, "
    f"md5(rpad(substring(text, 1, {_RESIZE_BYTES}), {_RESIZE_BYTES}, '.')) AS digest "
    "FROM documents"
)


def q_multimodal_resize(spark, sf_dir):
    """Payload normalization to a fixed byte budget (resize plumbing);
    oracle = truncate/right-pad + digest in SQL. The binary payload
    itself is excluded from the compare (the digest pins it)."""
    df = pl.with_binary(_docs(spark, sf_dir))
    res = pl.resize_payload(df, target_bytes=_RESIZE_BYTES)
    return res.select("doc_id", "n_bytes", "digest")


# PPM fixture geometry: single-digit dims (w 4-8, h 3-6) keep the
# header a fixed 31 bytes ("P6\n" + 20-byte comment + "w h\n" + "255\n")
_PPM_HEADER_BYTES = 31


_MULTIMODAL_REAL_DECODE_ORACLE = (
    "WITH dims AS ("
    "  SELECT doc_id, 4 + doc_id % 5 AS w, 3 + doc_id % 4 AS h FROM documents"
    ") "
    f"SELECT doc_id, CAST({_PPM_HEADER_BYTES} + 3 * w * h AS INTEGER) AS n_bytes, "
    + ", ".join(
        "round(list_aggregate(list_transform(range(0, w * h), "
        f"p -> CAST((doc_id * 31 + (3 * p + {c}) * 7) % 256 AS DOUBLE)), 'avg'), 4)"
        f" + 0.0 AS f{c}_4"
        for c in range(3)
    )
    + ", CAST(w AS DOUBLE) AS f3, CAST(h AS DOUBLE) AS f4 FROM dims"
)


def q_multimodal_real_decode(spark, sf_dir):
    """REAL image decode path: each doc gets a synthetic binary PPM (P6)
    payload — header with a comment line, then 3·w·h raster bytes from
    the arithmetic formula ``(doc_id·31 + i·7) mod 256`` — and
    ``image_decoder`` (pure-numpy netpbm parsing, pipeline/multimodal
    .py) extracts per-channel means + dimensions. The oracle recomputes
    the expected features from the same formula, so header tokenizing,
    comment handling, raster decode, and the feature math are all
    value-verified without any imaging library."""

    def ppm(row):
        px = _fixture_pixels(int(row.doc_id))
        h, w, _ = px.shape
        return f"P6\n# synthetic fixture\n{w} {h}\n255\n".encode() + px.tobytes()

    with_payload = _with_payloads(_docs(spark, sf_dir).select("doc_id"), ppm)
    res = pl.decode_features(with_payload, n_features=5, decoder=pl.image_decoder)
    return res.select(
        "doc_id",
        "n_bytes",
        *[_r(f"f{c}", 4, f"f{c}_4") for c in range(3)],
        "f3",
        "f4",
    )


def q_multimodal_png_decode(spark, sf_dir):
    """REAL compressed-image decode path: each doc gets a synthetic RGB8
    non-interlaced PNG (pure-stdlib ``encode_png`` writer — zlib
    deflate, rows cycling all five PNG filter types) whose pixels
    follow the same arithmetic formula as the PPM fixture, and
    ``image_decoder`` decodes it back through ``decode_png`` (zlib
    inflate + numpy unfilter, pipeline/multimodal.py). The oracle
    recomputes the expected per-channel means from the formula, so
    chunk walking, inflate, all five unfilter paths, and the feature
    math are value-verified without any imaging library. The
    compressed payload size is not SQL-computable, so n_bytes is
    excluded from the compare (the pixel means pin the raster)."""
    with_payload = _with_payloads(
        _docs(spark, sf_dir).select("doc_id"),
        lambda row: pl.encode_png(_fixture_pixels(int(row.doc_id))),
    )
    res = pl.decode_features(with_payload, n_features=5, decoder=pl.image_decoder)
    return res.select(
        "doc_id",
        *[_r(f"f{c}", 4, f"f{c}_4") for c in range(3)],
        "f3",
        "f4",
    )


def q_multimodal_bmp_decode(spark, sf_dir):
    """REAL BMP decode path: each doc gets a synthetic 24-bit BI_RGB
    bottom-up BMP (``encode_bmp``) whose logical RGB pixels follow the
    same arithmetic formula as the PPM/PNG fixtures, and
    ``image_decoder`` decodes it back through ``decode_bmp`` (header
    parse, stride-padded rows, bottom-up flip, BGR swap). Unlike PNG
    the payload size IS closed-form (54 + stride·h), so the oracle
    checks ``n_bytes`` too, pinning the writer's framing alongside the
    decoded pixel means."""
    with_payload = _with_payloads(
        _docs(spark, sf_dir).select("doc_id"),
        lambda row: pl.encode_bmp(_fixture_pixels(int(row.doc_id))),
    )
    res = pl.decode_features(with_payload, n_features=5, decoder=pl.image_decoder)
    return res.select(
        "doc_id",
        "n_bytes",
        *[_r(f"f{c}", 4, f"f{c}_4") for c in range(3)],
        "f3",
        "f4",
    )


_WAV_SR = 8000


_MULTIMODAL_AUDIO_DECODE_ORACLE = (
    "WITH dims AS ("
    "  SELECT doc_id, 64 + doc_id % 32 AS n FROM documents"
    "), vals AS ("
    "  SELECT doc_id, n, list_transform(range(0, n), "
    "    i -> (CAST((doc_id * 13 + i * 7) % 2048 AS DOUBLE) - 1024) / 32768) AS v"
    "  FROM dims"
    ") "
    "SELECT doc_id, CAST(44 + 2 * n AS INTEGER) AS n_bytes, "
    "round(sqrt(list_aggregate(list_transform(v, x -> x * x), 'avg')), 6) + 0.0 AS rms6, "
    "round(list_aggregate(v, 'avg'), 6) + 0.0 AS mean6, "
    "CAST(n AS DOUBLE) AS n_frames, "
    f"CAST({_WAV_SR} AS DOUBLE) AS sample_rate FROM vals"
)


def q_multimodal_audio_decode(spark, sf_dir):
    """REAL audio decode path: each doc gets a synthetic 44-byte-header
    RIFF/WAVE PCM16 mono payload whose samples follow
    ``((doc_id·13 + i·7) mod 2048) − 1024``; ``audio_decoder``
    (pure-numpy RIFF chunk walk, pipeline/multimodal.py) extracts
    rms/mean/frame-count/sample-rate. The oracle recomputes the
    features from the same sample formula, so header parsing, PCM16
    scaling, and the feature math are all value-verified without any
    audio library."""

    def wav(row):
        d = int(row.doc_id)
        n = 64 + d % 32
        samples = (((d * 13 + i * 7) % 2048) - 1024 for i in range(n))
        return _wav(struct.pack(f"<{n}h", *samples), _WAV_SR)

    with_payload = _with_payloads(_docs(spark, sf_dir).select("doc_id"), wav)
    res = pl.decode_features(with_payload, n_features=4, decoder=pl.audio_decoder)
    return res.select(
        "doc_id",
        "n_bytes",
        _r("f0", 6, "rms6"),
        _r("f1", 6, "mean6"),
        F.col("f2").alias("n_frames"),
        F.col("f3").alias("sample_rate"),
    )


# ---------------------------------------------------------------------------
# relational demos: the Catalyst-built-in surface over the same tables
# ---------------------------------------------------------------------------

# all testdata time columns are micros-precision parquet -> Spark reads
# timestamp_ntz; wall-clock literal comparisons below are zone-free on
# both engines
_Q1_CUTOFF = "2024-06-01 00:00:00"


_TPCH_Q1_ORACLE = (
    "SELECT l_returnflag, l_linestatus, "
    "CAST(sum(CAST(l_quantity AS DECIMAL(18, 2))) AS DOUBLE) AS sum_qty, "
    "CAST(sum(CAST(l_extendedprice AS DECIMAL(18, 2))) AS DOUBLE) AS sum_base_price, "
    "CAST(sum(CAST(round(l_extendedprice * (1 - l_discount), 4) AS DECIMAL(22, 4))) AS DOUBLE) AS sum_disc_price, "
    "CAST(sum(CAST(round(l_extendedprice * (1 - l_discount) * (1 + l_tax), 6) AS DECIMAL(24, 6))) AS DOUBLE) AS sum_charge, "
    "count(*) AS count_order "
    "FROM lineitem "
    f"WHERE l_shipdate <= TIMESTAMP '{_Q1_CUTOFF}' "
    "GROUP BY l_returnflag, l_linestatus"
)


def q_tpch_q1(spark, sf_dir):
    # spread: the sf0.1 lineitem file has 3 row groups, so the scan caps
    # at 3 tasks while the decimal sums are the CPU cost (measured 1.9 s
    # on 3 cores -> 0.x s on 32). No-op at real scale (pre-split input).
    li = pl.hashes.spread(
        load_table(spark, "lineitem", sf_dir).filter(
            F.col("l_shipdate") <= F.lit(_Q1_CUTOFF).cast("timestamp_ntz")
        ),
        "l_orderkey",
    )
    return li.groupBy("l_returnflag", "l_linestatus").agg(
        F.sum(F.col("l_quantity").cast("decimal(18,2)")).cast("double").alias("sum_qty"),
        F.sum(F.col("l_extendedprice").cast("decimal(18,2)")).cast("double").alias("sum_base_price"),
        F.sum(
            F.round(F.col("l_extendedprice") * (1 - F.col("l_discount")), 4).cast(
                "decimal(22,4)"
            )
        )
        .cast("double")
        .alias("sum_disc_price"),
        F.sum(
            F.round(
                F.col("l_extendedprice")
                * (1 - F.col("l_discount"))
                * (1 + F.col("l_tax")),
                6,
            ).cast("decimal(24,6)")
        )
        .cast("double")
        .alias("sum_charge"),
        F.count(F.lit(1)).alias("count_order"),
    )


_Q5_REGION = "ASIA"


_TPCH_Q5_ORACLE = (
    "SELECT n_name, "
    "CAST(sum(CAST(round(l_extendedprice * (1 - l_discount), 4) AS DECIMAL(22,4))) AS DOUBLE) AS revenue, "
    "count(*) AS n "
    "FROM lineitem l "
    "JOIN orders o ON l.l_orderkey = o.o_orderkey "
    "JOIN customer c ON o.o_custkey = c.c_custkey "
    "JOIN supplier s ON l.l_suppkey = s.s_suppkey AND c.c_nationkey = s.s_nationkey "
    "JOIN nation n ON c.c_nationkey = n.n_nationkey "
    "JOIN region r ON n.n_regionkey = r.r_regionkey "
    f"WHERE r.r_name = '{_Q5_REGION}' "
    "AND o.o_orderdate >= TIMESTAMP '1996-01-01' "
    "AND o.o_orderdate < TIMESTAMP '1997-01-01' "
    "GROUP BY n_name"
)


def q_tpch_q5(spark, sf_dir):
    """Local-supplier-volume (TPC-H Q5 shape): six tables, one fact
    scan. Every dimension chain (region→nation→customer→orders,
    nation→supplier) collapses into broadcast hash joins against the
    lineitem scan — no fact-table shuffle until the final per-nation
    aggregate, which is map-side partial."""
    region = load_table(spark, "region", sf_dir).filter(
        F.col("r_name") == _Q5_REGION
    )
    nation = load_table(spark, "nation", sf_dir).join(
        F.broadcast(region), F.col("n_regionkey") == F.col("r_regionkey")
    )
    customer = load_table(spark, "customer", sf_dir).join(
        F.broadcast(nation), F.col("c_nationkey") == F.col("n_nationkey")
    )
    orders = load_table(spark, "orders", sf_dir).filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp_ntz"))
        & (F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp_ntz"))
    )
    co = orders.join(
        F.broadcast(customer.select("c_custkey", "c_nationkey", "n_name")),
        F.col("o_custkey") == F.col("c_custkey"),
    ).select("o_orderkey", "c_nationkey", "n_name")
    supplier = load_table(spark, "supplier", sf_dir).select(
        "s_suppkey", "s_nationkey"
    )
    li = load_table(spark, "lineitem", sf_dir).select(
        "l_orderkey", "l_suppkey", "l_extendedprice", "l_discount"
    )
    j = (
        li.join(F.broadcast(co), F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(supplier), F.col("l_suppkey") == F.col("s_suppkey"))
        .filter(F.col("c_nationkey") == F.col("s_nationkey"))
    )
    return j.groupBy("n_name").agg(
        F.sum(
            F.round(F.col("l_extendedprice") * (1 - F.col("l_discount")), 4).cast(
                "decimal(22,4)"
            )
        )
        .cast("double")
        .alias("revenue"),
        F.count(F.lit(1)).alias("n"),
    )


_Q6_DATE = "1997-01-01"


_TPCH_Q6_ORACLE = (
    "SELECT CAST(sum(CAST(round(l_extendedprice * l_discount, 4) AS DECIMAL(22,4))) AS DOUBLE) AS revenue, "
    "count(*) AS n "
    "FROM lineitem "
    f"WHERE l_shipdate >= TIMESTAMP '{_Q6_DATE}' "
    f"AND l_shipdate < TIMESTAMP '1998-01-01' "
    "AND l_discount BETWEEN 0.05 AND 0.07 "
    "AND l_quantity < 24"
)


def q_tpch_q6(spark, sf_dir):
    """Forecast-revenue-change (TPC-H Q6 shape): pure filter +
    aggregate — every predicate pushes to the parquet scan and the
    aggregation is map-side partial; the minimal full-scan query."""
    li = load_table(spark, "lineitem", sf_dir)
    f = li.filter(
        (F.col("l_shipdate") >= F.lit(_Q6_DATE).cast("timestamp_ntz"))
        & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp_ntz"))
        & (F.col("l_discount").between(0.05, 0.07))
        & (F.col("l_quantity") < 24)
    )
    return f.agg(
        F.sum(
            F.round(F.col("l_extendedprice") * F.col("l_discount"), 4).cast(
                "decimal(22,4)"
            )
        )
        .cast("double")
        .alias("revenue"),
        F.count(F.lit(1)).alias("n"),
    )


_SESSION_GAP_NS = 30 * 60 * 1_000_000_000  # oracle side: DuckDB epoch_ns
_SESSION_GAP_US = 30 * 60 * 1_000_000  # Spark side: epoch_us(ts) integers


_SESSIONIZE_ORACLE = (
    "WITH e AS ("
    "  SELECT user_id, epoch_ns(ts) AS t,"
    "         CASE WHEN epoch_ns(ts) - lag(epoch_ns(ts)) OVER "
    f"           (PARTITION BY user_id ORDER BY ts) > {_SESSION_GAP_NS} "
    "           THEN 1 ELSE 0 END AS new_sess"
    "  FROM events"
    "), sess AS ("
    "  SELECT user_id, sum(new_sess) OVER (PARTITION BY user_id ORDER BY t "
    "    ROWS UNBOUNDED PRECEDING) AS sess_id FROM e"
    "), per AS ("
    "  SELECT user_id, sess_id, count(*) AS n FROM sess GROUP BY user_id, sess_id"
    ") "
    "SELECT user_id, CAST(count(*) AS BIGINT) AS n_sessions, "
    "CAST(max(n) AS BIGINT) AS max_session_events "
    "FROM per GROUP BY user_id"
)


def q_sessionize(spark, sf_dir):
    """Gap-based sessionization (the batch shape of a streaming session
    window): new session when the gap to the previous event exceeds 30
    minutes."""
    ev = _events(spark, sf_dir)
    # ts is timestamp_ntz in the parquet: gap arithmetic needs epoch
    # integers (µs here, ns in the oracle — the >30min predicate is
    # identical in either unit since the parquet is µs-precision)
    ev = ev.withColumn("t", timeutil.epoch_us(ev, "ts"))
    w = Window.partitionBy("user_id").orderBy("t")
    gap = F.col("t") - F.lag("t").over(w)
    sess = ev.withColumn(
        "new_sess", F.when(gap > _SESSION_GAP_US, 1).otherwise(0)
    ).withColumn(
        "sess_id",
        F.sum("new_sess").over(w.rowsBetween(Window.unboundedPreceding, 0)),
    )
    per = sess.groupBy("user_id", "sess_id").agg(F.count(F.lit(1)).alias("n"))
    return per.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_sessions"),
        F.max("n").alias("max_session_events"),
    )


# ---------------------------------------------------------------------------
# multi-dim operators (reference dims=[...] paths)
# ---------------------------------------------------------------------------

# per-user 6x6 grid from the first 36 samples; fixed 3x3 kernel
_G2_ROWS, _G2_COLS = 6, 6
_K2 = [[0.1, 0.2, 0.3], [0.4, 0.5, 0.6], [0.7, 0.8, 0.9]]


def _grid2(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _events(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts")
    j = F.row_number().over(w) - 1
    lim = _G2_ROWS * _G2_COLS
    return (
        ev.withColumn("j", j)
        .filter(F.col("j") < lim)
        .select(
            "user_id",
            (F.col("j") / _G2_COLS).cast("bigint").alias("row"),
            (F.col("j") % _G2_COLS).alias("col"),
            F.col("value").cast("double").alias("value"),
        )
    )


def _kernel2(spark: SparkSession, grid: DataFrame) -> DataFrame:
    """The 3x3 kernel replicated per user (the cogrouped primitive
    pairs both sides on the `by` key; a 9-row literal frame cross-joined
    to the distinct users is a broadcast of the tiny side)."""
    rows = [
        (int(r), int(c), float(_K2[r][c]))
        for r in range(3)
        for c in range(3)
    ]
    ker = spark.createDataFrame(rows, "row bigint, col bigint, value double")
    return grid.select("user_id").distinct().crossJoin(F.broadcast(ker))


_K2_VALUES = ", ".join(
    f"({r}, {c}, {_K2[r][c]})" for r in range(3) for c in range(3)
)


_FFTCONVOLVE_2D_ORACLE = (
    f"""
WITH g AS (
  SELECT user_id,
         (row_number() OVER (PARTITION BY user_id ORDER BY ts) - 1) AS j,
         CAST(value AS DOUBLE) AS x
  FROM events
  QUALIFY j < {_G2_ROWS * _G2_COLS}
), grid AS (
  SELECT user_id, j // {_G2_COLS} AS row, j % {_G2_COLS} AS col, x FROM g
), ker(r, c, w) AS (VALUES {_K2_VALUES})
SELECT user_id,
       grid.row + ker.r AS row_idx,
       grid.col + ker.c AS col_idx,
       round(sum(x * w), 4) + 0.0 AS val4
FROM grid CROSS JOIN ker
GROUP BY user_id, grid.row + ker.r, grid.col + ker.c
"""
)


def q_fftconvolve_2d(spark, sf_dir):
    """2-D FFT convolution (full) of each user's 6x6 sample grid with a
    3x3 kernel — the reference's multi-core-dim convolve
    (signal.py:62-63); oracle is the direct convolution sum."""
    grid = _grid2(spark, sf_dir)
    out = ops.fftconvolve_nd(
        grid,
        _kernel2(spark, grid),
        by=["user_id"],
        dims=["row", "col"],
        mode="full",
    )
    return out.select("user_id", "row_idx", "col_idx", _r("value", 4, "val4"))


_FFTSHIFT2D_ORACLE = f"""
WITH g AS (
  SELECT user_id,
         (row_number() OVER (PARTITION BY user_id ORDER BY ts) - 1) AS j,
         CAST(value AS DOUBLE) AS x
  FROM events
  QUALIFY j < 35
)
SELECT user_id,
       (j // 7 + 2) % 5 AS idx_d1,
       (j % 7 + 3) % 7 AS idx_d2,
       round(x, 4) + 0.0 AS val4
FROM g
"""


def q_fftshift_2d(spark, sf_dir):
    """fftshift over a dims list (signal.py:247-248) on a 5x7 grid —
    odd extents on both axes so the fftshift/ifftshift distinction is
    exercised; pure index arithmetic on both sides."""
    ev = _events(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts")
    j = F.row_number().over(w) - 1
    grid = (
        ev.withColumn("j", j)
        .filter(F.col("j") < 35)
        .select(
            "user_id",
            (F.col("j") / 7).cast("bigint").alias("d1"),
            (F.col("j") % 7).alias("d2"),
            F.col("value").cast("double").alias("value"),
        )
    )
    out = ops.fftshift(grid, by=["user_id"], dims=["d1", "d2"])
    return out.select("user_id", "idx_d1", "idx_d2", _r("value", 4, "val4"))


# ---------------------------------------------------------------------------
# relational coverage: rollup aggregation, join-heavy top-k
# ---------------------------------------------------------------------------

_LINEITEM_ROLLUP_ORACLE = (
    "SELECT l_returnflag, l_linestatus, "
    "CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty, "
    "count(*) AS n "
    "FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)"
)


def q_lineitem_rollup(spark, sf_dir):
    """Hierarchical aggregate (grouping-sets family, SURVEY §2.3) —
    subtotals per returnflag and a grand total in one pass."""
    li = load_table(spark, "lineitem", sf_dir)
    return li.rollup("l_returnflag", "l_linestatus").agg(
        F.sum(F.col("l_quantity").cast("decimal(18,2)"))
        .cast("double")
        .alias("sum_qty"),
        F.count(F.lit(1)).alias("n"),
    )


_Q3_SEGMENT = "BUILDING"
_Q3_DATE = "1998-06-01"


_TPCH_Q3_ORACLE = (
    "SELECT l_orderkey, "
    "CAST(sum(CAST(round(l_extendedprice * (1 - l_discount), 4) AS DECIMAL(22,4))) AS DOUBLE) AS revenue, "
    "CAST(o_orderdate AS VARCHAR) AS o_orderdate "
    "FROM customer JOIN orders ON c_custkey = o_custkey "
    "JOIN lineitem ON l_orderkey = o_orderkey "
    f"WHERE c_mktsegment = '{_Q3_SEGMENT}' "
    f"AND o_orderdate < TIMESTAMP '{_Q3_DATE}' "
    f"AND l_shipdate > TIMESTAMP '{_Q3_DATE}' "
    "GROUP BY l_orderkey, o_orderdate "
    "ORDER BY revenue DESC, l_orderkey LIMIT 10"
)


def q_tpch_q3(spark, sf_dir):
    """Join-heavy shipping-priority query (TPC-H Q3 shape): the small
    filtered dimension (customer) is broadcast — no shuffle of the fact
    table for its join; the orders join and aggregate shuffle once on
    the order key. Top-k via sort+limit (rounded tie-break + key)."""
    cust = load_table(spark, "customer", sf_dir).filter(
        F.col("c_mktsegment") == _Q3_SEGMENT
    )
    orders = load_table(spark, "orders", sf_dir).filter(
        F.col("o_orderdate") < F.lit(_Q3_DATE).cast("timestamp_ntz")
    )
    li = load_table(spark, "lineitem", sf_dir).filter(
        F.col("l_shipdate") > F.lit(_Q3_DATE).cast("timestamp_ntz")
    )
    j = (
        li.join(F.broadcast(cust.join(orders, cust.c_custkey == orders.o_custkey)
                .select("o_orderkey", "o_orderdate")),
                li.l_orderkey == F.col("o_orderkey"))
    )
    rev = j.groupBy("l_orderkey", "o_orderdate").agg(
        F.sum(
            F.round(F.col("l_extendedprice") * (1 - F.col("l_discount")), 4).cast(
                "decimal(22,4)"
            )
        )
        .cast("double")
        .alias("revenue")
    )
    return (
        rev.orderBy(F.col("revenue").desc(), "l_orderkey")
        .limit(10)
        .select(
            "l_orderkey",
            "revenue",
            F.date_format("o_orderdate", "yyyy-MM-dd HH:mm:ss").alias("o_orderdate"),
        )
    )


# ---------------------------------------------------------------------------
# streaming
# ---------------------------------------------------------------------------

_SOSFILT_STREAM_ORACLE = (
    f"WITH {_S}, {_impulse_response_sql(_SOSFILT_SOS)} "
    "SELECT xi.user_id, xi.j AS idx, round(sum(h.hv * xj.x), 4) + 0.0 AS val4 "
    "FROM s xi JOIN h ON h.m <= xi.j "
    "JOIN s xj ON xj.user_id = xi.user_id AND xj.j = xi.j - h.m "
    "GROUP BY xi.user_id, xi.j"
)


def q_sosfilt_stream(spark, sf_dir):
    """Stateful streaming sosfilt (applyInPandasWithState): filter the
    events stream per user with carried zi, AvailableNow trigger, and
    return the materialized result. Oracle = the batch impulse-response
    convolution (the stream must equal batch sosfilt sample-for-sample)."""
    import os
    import tempfile
    import uuid

    from .streaming import sosfilt_stream

    name = f"sos_stream_{uuid.uuid4().hex[:8]}"
    schema = load_table(spark, "events", sf_dir).schema
    # the file-stream source requires a directory; expose the single
    # parquet file through a temp dir symlink (testdata is read-only)
    src_dir = tempfile.mkdtemp(prefix="sos_stream_src_")
    os.symlink(f"{sf_dir}/events.parquet", f"{src_dir}/events.parquet")
    stream = (
        spark.readStream.schema(schema)
        .parquet(src_dir)
        .select("user_id", "ts", "value")
    )
    out = sosfilt_stream(stream, _SOSFILT_SOS, by=["user_id"], dim="ts")
    q = (
        out.writeStream.format("memory")
        .queryName(name)
        .option("checkpointLocation", tempfile.mkdtemp(prefix="sos_stream_ckpt_"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    return spark.table(name).select(
        "user_id", "idx", _r("value", 4, "val4")
    )


# ---------------------------------------------------------------------------
# as-of join (temporal alignment)
# ---------------------------------------------------------------------------

_ASOF_EVERY = 7  # every 7th event per user is an "anchor"


_ASOF_JOIN_ORACLE = (
    f"WITH {_S}, "
    # epoch_us on both sides: Spark projects the timestamp_ntz column
    # through timeutil.epoch_us, DuckDB uses its native epoch_us()
    "ev AS (SELECT user_id, j, epoch_us(ts) AS t, x FROM ("
    "  SELECT user_id, ts, value AS x,"
    "  row_number() OVER (PARTITION BY user_id ORDER BY ts) - 1 AS j FROM events)"
    "), "
    f"anch AS (SELECT user_id, t AS at, x AS av FROM ev WHERE j % {_ASOF_EVERY} = 0) "
    "SELECT e.user_id, e.t, a.at AS anchor_t, round(a.av, 6) + 0.0 AS anchor_value6 "
    "FROM ev e ASOF LEFT JOIN anch a "
    "ON e.user_id = a.user_id AND e.t >= a.at"
)


def q_asof_join(spark, sf_dir):
    """Backward as-of join: each event matched to the most recent
    'anchor' event (every 7th per user) at or before it. Oracle =
    DuckDB's native ASOF LEFT JOIN; the Spark side is the union+window
    formulation (one shuffle, no join node — operators/joins.py)."""
    ev = _events(spark, sf_dir)
    # project the timestamp_ntz column to epoch-µs BIGINT up front so
    # the as-of arithmetic (and the output) is integer, matching the
    # oracle's epoch_us(ts)
    ev = ev.withColumn("ts", timeutil.epoch_us(ev, "ts"))
    w = Window.partitionBy("user_id").orderBy("ts")
    ev = ev.withColumn("j", F.row_number().over(w) - 1)
    anchors = ev.filter(F.col("j") % _ASOF_EVERY == 0).select(
        "user_id", F.col("ts").alias("at"), F.col("value").alias("av")
    )
    res = ops.asof_join(
        ev.select("user_id", "ts", "value"),
        anchors,
        on=["user_id"],
        left_ts="ts",
        right_ts="at",
        right_values=["av"],
    )
    return res.select(
        F.col("user_id"),
        F.col("ts").alias("t"),
        F.col("at").alias("anchor_t"),
        _r("av", 6, "anchor_value6"),
    )


# ---------------------------------------------------------------------------
# range join (interval containment)
# ---------------------------------------------------------------------------

_RANGE_DAYS_US = 7 * 86_400 * 1_000_000  # 7-day windows, epoch micros
_RANGE_MOD = 997  # deterministic sparse subset of orders


_RANGE_JOIN_ORACLE = (
    "WITH iv AS ("
    "  SELECT o_orderkey, epoch_us(o_orderdate) AS lo,"
    f"    epoch_us(o_orderdate) + {_RANGE_DAYS_US} AS hi"
    f"  FROM orders WHERE o_orderkey % {_RANGE_MOD} = 0"
    ") "
    "SELECT iv.o_orderkey, count(*) AS n_shipments, "
    "CAST(floor(sum(l.l_quantity) * 1000 + 0.5 + 1e-6) AS BIGINT) AS qty_q "
    "FROM iv JOIN lineitem l "
    "ON epoch_us(l.l_shipdate) BETWEEN iv.lo AND iv.hi "
    "GROUP BY iv.o_orderkey"
)


def q_range_join(spark, sf_dir):
    """Interval-containment join: all shipments (any order) within 7
    days after each sampled order's date, without the nested-loop plan
    a naive range predicate produces — intervals explode into covered
    time chunks and the join is an equi hash join on the chunk id
    (operators/joins.py range_join). Oracle = DuckDB's native range
    predicate join."""
    orders = load_table(spark, "orders", sf_dir).filter(
        F.col("o_orderkey") % _RANGE_MOD == 0
    )
    odate = timeutil.epoch_us(orders, "o_orderdate")
    iv = orders.select(
        "o_orderkey",
        odate.alias("lo"),
        (odate + _RANGE_DAYS_US).alias("hi"),
    )
    li = load_table(spark, "lineitem", sf_dir)
    pts = li.select(
        timeutil.epoch_us(li, "l_shipdate").alias("ship_us"),
        "l_quantity",
    )
    j = ops.range_join(
        pts, iv, point_col="ship_us", start_col="lo", end_col="hi",
        granularity=_RANGE_DAYS_US,
    )
    return j.groupBy("o_orderkey").agg(
        F.count(F.lit(1)).alias("n_shipments"),
        _q3_col(F.sum("l_quantity")).alias("qty_q"),
    )


_WIN_SECONDS = 86_400  # 1-day tumbling windows over the month of events


def q_stream_window_stats(spark, sf_dir):
    """Event-time tumbling-window stats — the BATCH execution of
    :func:`streaming.windowed_stats` (the operator runs the identical
    ``groupBy(window(...))`` plan on static and streaming frames; Spark
    guarantees the same results, and
    tests/test_streaming.py::test_windowed_stats_stream_equals_batch +
    the steady-state multi-batch test pin it).

    Bounded inputs route to the batch plan deliberately: a one-shot
    AvailableNow run of the same aggregation pays ~seconds of state-
    store commit I/O (measured at the 10x tier: 5.9 s addBatch of which
    ~85% is HDFSBackedStateStore maintenance of 400 k (key, window)
    rows) for zero incremental benefit — state stores only pay off when
    batches amortize over an unbounded stream. That live path stays
    driver-verified as ``stream_window_stats_live`` (same oracle) and
    perf-documented in BASELINE.md. sum/avg use the epsilon-floor
    quantizer (summation ORDER differs between engines; see
    rfft_n_ortho note)."""
    from .streaming import windowed_stats

    ev = load_table(spark, "events", sf_dir).select("user_id", "ts", "value")
    out = windowed_stats(
        ev,
        by=["user_id"],
        dim="ts",
        window=f"{_WIN_SECONDS} seconds",
        watermark="1 day",
    )
    return out.select(
        "user_id",
        "window_start",
        "n",
        _q3_col(F.col("sum")).alias("sum_q"),
        _q3_col(F.col("avg")).alias("avg_q"),
        _r("min", 4, "min4"),
        _r("max", 4, "max4"),
    )


_STREAM_WINDOW_STATS_LIVE_ORACLE = (
    "SELECT user_id, "
    f"(epoch_ns(ts) // {_WIN_SECONDS * 1_000_000_000}) * {_WIN_SECONDS} AS window_start, "
    "count(*) AS n, "
    "CAST(floor(sum(value) * 1000 + 0.5 + 1e-6) AS BIGINT) AS sum_q, "
    "CAST(floor(avg(value) * 1000 + 0.5 + 1e-6) AS BIGINT) AS avg_q, "
    "round(min(value), 4) + 0.0 AS min4, round(max(value), 4) + 0.0 AS max4 "
    "FROM events GROUP BY user_id, window_start"
)


def q_stream_window_stats_live(spark, sf_dir):
    """The LIVE Structured-Streaming execution of
    :func:`streaming.windowed_stats` (readStream -> withWatermark ->
    window() agg -> AvailableNow into a memory sink), kept registered so
    the driver itself verifies stream-equals-oracle — the batch-parity
    ``stream_window_stats`` entry is the perf path for bounded inputs.
    Complete output mode: with AvailableNow the watermark never passes
    the final windows, so append mode would withhold them; complete
    emits every window while the watermark still bounds state on a
    truly unbounded run."""
    import os
    import tempfile
    import uuid

    from .streaming import windowed_stats

    name = f"win_stream_{uuid.uuid4().hex[:8]}"
    schema = load_table(spark, "events", sf_dir).schema
    src_dir = tempfile.mkdtemp(prefix="win_stream_src_")
    os.symlink(f"{sf_dir}/events.parquet", f"{src_dir}/events.parquet")
    stream = (
        spark.readStream.schema(schema)
        .parquet(src_dir)
        .select("user_id", "ts", "value")
    )
    out = windowed_stats(
        stream,
        by=["user_id"],
        dim="ts",
        window=f"{_WIN_SECONDS} seconds",
        watermark="1 day",
    )
    q = (
        out.writeStream.format("memory")
        .queryName(name)
        .outputMode("complete")
        .option("checkpointLocation", tempfile.mkdtemp(prefix="win_stream_ckpt_"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    return spark.table(name).select(
        "user_id",
        "window_start",
        "n",
        _q3_col(F.col("sum")).alias("sum_q"),
        _q3_col(F.col("avg")).alias("avg_q"),
        _r("min", 4, "min4"),
        _r("max", 4, "max4"),
    )


_SESSW_GAP_US = 30 * 60 * 1_000_000


def q_session_window_stats(spark, sf_dir):
    """Per-session statistics via the NATIVE session-window operator
    (F.session_window — dynamic-gap windows merged incrementally in the
    state store on streams; identical plan semantics on this static
    frame). Oracle = lag-based session reconstruction: a session breaks
    exactly when the inter-event gap reaches the 30-minute gap duration
    (session ends are exclusive), session_end = last event + gap. The
    lag-window `sessionize` demo is the hand-rolled batch equivalent;
    this is the operator a streaming pipeline would actually deploy
    (tests/test_streaming.py drives it on a real stream)."""
    from .streaming import session_stats

    out = session_stats(
        _events(spark, sf_dir), by=["user_id"], dim="ts", gap="30 minutes"
    )
    return out.select(
        "user_id",
        "session_start",
        "session_end",
        "n",
        _q3_col(F.col("sum")).alias("sum_q"),
        _q3_col(F.col("avg")).alias("avg_q"),
    )


# ---------------------------------------------------------------------------
# iterative algorithm: duplicate clustering (connected components)
# ---------------------------------------------------------------------------

def _dedup_clusters_oracle() -> str:
    """Recursive-CTE connected components over the hash-verified minhash
    pairs: walk enumerates every (node, reachable-seed) pair; min(seed)
    per node is the cluster's canonical (minimum) id."""
    return f"""
WITH RECURSIVE pairs AS ({_minhash_oracle()}),
edges AS (
  SELECT a_id AS src, b_id AS dst FROM pairs
  UNION
  SELECT b_id AS src, a_id AS dst FROM pairs
),
walk(id, comp) AS (
  SELECT src, src FROM edges
  UNION
  SELECT e.dst, w.comp FROM walk w JOIN edges e ON e.src = w.id
)
SELECT id AS doc_id, min(comp) AS cluster_id FROM walk GROUP BY id
"""


def q_dedup_clusters(spark, sf_dir):
    """Transitive duplicate clusters: iterative min-label propagation
    (driver-loop joins with lineage checkpoints) over the minhash near-
    dup pairs; oracle is a recursive CTE over the same pair SQL."""
    pairs = pl.minhash_pairs(
        _docs(spark, sf_dir),
        num_hashes=_MINHASH_N,
        bands=_MINHASH_BANDS,
        threshold=_MINHASH_THRESHOLD,
    )
    return pl.duplicate_clusters(pairs)


# ---------------------------------------------------------------------------
# text analysis: TF-IDF top tokens
# ---------------------------------------------------------------------------

_TFIDF_K = 5


_TEXT_TFIDF_ORACLE = (
    f"""
WITH {_TOKS},
tok AS (SELECT doc_id, unnest(tk) AS tok FROM toks),
tf AS (SELECT doc_id, tok, count(*) AS tf FROM tok GROUP BY doc_id, tok),
doclen AS (SELECT doc_id, sum(tf) AS n_tok FROM tf GROUP BY doc_id),
dfreq AS (SELECT tok, count(*) AS df FROM tf GROUP BY tok),
nd AS (SELECT count(DISTINCT doc_id) AS n FROM documents),
scored AS (
  SELECT tf.doc_id, tf.tok,
         round((tf.tf / doclen.n_tok) * (ln((nd.n + 1) / (dfreq.df + 1)) + 1), 6) AS tfidf
  FROM tf JOIN doclen USING (doc_id) JOIN dfreq USING (tok) CROSS JOIN nd
)
SELECT doc_id, rank, tok, tfidf + 0.0 AS tfidf FROM (
  SELECT doc_id, tok, tfidf,
         row_number() OVER (PARTITION BY doc_id ORDER BY tfidf DESC, tok) AS rank
  FROM scored
) t WHERE rank <= {_TFIDF_K}
"""
)


def q_text_tfidf(spark, sf_dir):
    return pl.tfidf_top_tokens(_docs(spark, sf_dir), k=_TFIDF_K)


# ---------------------------------------------------------------------------
# text analysis: corpus vocabulary (term + document frequency)
# ---------------------------------------------------------------------------


_TEXT_VOCAB_ORACLE = (
    f"WITH {_TOKS}, tok AS (SELECT doc_id, unnest(tk) AS token FROM toks) "
    "SELECT token, count(*) AS tf, count(DISTINCT doc_id) AS df "
    "FROM tok GROUP BY token"
)


def q_text_vocab(spark, sf_dir):
    """Corpus vocabulary (token, tf, df) — explode + one aggregate
    shuffle with map-side partials (pipeline/text.py:vocabulary)."""
    return pl.vocabulary(_docs(spark, sf_dir))


# ---------------------------------------------------------------------------
# multimodal: REAL compressed-text decode (gzip/DEFLATE roundtrip)
# ---------------------------------------------------------------------------


_MULTIMODAL_GZIP_DECODE_ORACLE = (
    "SELECT doc_id, md5(text) AS text_md5, "
    "octet_length(encode(text)) AS text_bytes FROM documents"
)


def q_multimodal_gzip_decode(spark, sf_dir):
    """REAL compressed-text decode: each doc's text is gzip-compressed
    into a binary payload (fixture side, ``gzip_text_encoder``) and
    decoded back through the Arrow-batched ``decode_text`` plumbing
    with the pure-stdlib DEFLATE decoder (``gzip_text_decoder``) — the
    wire format of web-crawl corpora (WARC records, .jsonl.gz shards).
    The oracle hashes the ORIGINAL text, so framing, inflate, and utf-8
    decode are all value-verified end to end."""
    from xarray_scipy_spark.pipeline.hashes import spread as _spread

    docs = _spread(_docs(spark, sf_dir).select("doc_id", "text"), "doc_id")
    with_payload = _with_payloads(docs, lambda row: pl.gzip_text_encoder(row.text))
    res = pl.decode_text(with_payload)
    return res.select(
        "doc_id",
        F.md5(F.col("text").cast("binary")).alias("text_md5"),
        F.octet_length("text").cast("bigint").alias("text_bytes"),
    )


# ---------------------------------------------------------------------------
# streaming: exact dedup (append-mode dropDuplicates state)
# ---------------------------------------------------------------------------


_STREAM_DEDUP_ORACLE = (
    "SELECT DISTINCT user_id, strftime(ts, '%Y-%m-%d') AS day FROM events"
)


def q_stream_dedup(spark, sf_dir):
    """LIVE Structured-Streaming exact deduplication: readStream ->
    project to the dedup key -> ``stream_distinct`` (dropDuplicates —
    one state entry per distinct key, append mode emits each key once,
    on first arrival) -> AvailableNow into a memory sink. The batch
    analog is SELECT DISTINCT — the oracle. The watermarked
    bounded-state variant (``dropDuplicatesWithinWatermark``) is
    exercised by tests/test_streaming.py (its semantics are
    arrival-order-dependent by design, so it is test-verified rather
    than oracle-verified)."""
    import os
    import tempfile
    import uuid

    from .streaming import stream_distinct

    name = f"dedup_stream_{uuid.uuid4().hex[:8]}"
    schema = load_table(spark, "events", sf_dir).schema
    src_dir = tempfile.mkdtemp(prefix="dedup_stream_src_")
    os.symlink(f"{sf_dir}/events.parquet", f"{src_dir}/events.parquet")
    stream = (
        spark.readStream.schema(schema)
        .parquet(src_dir)
        .select("user_id", F.date_format("ts", "yyyy-MM-dd").alias("day"))
    )
    out = stream_distinct(stream, cols=["user_id", "day"])
    q = (
        out.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .option("checkpointLocation", tempfile.mkdtemp(prefix="dedup_stream_ckpt_"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    return spark.table(name)


# ---------------------------------------------------------------------------
# multimodal: REAL baseline-JPEG decode (huffman + dequant + IDCT)
# ---------------------------------------------------------------------------


def q_multimodal_jpeg_decode(spark, sf_dir):
    """REAL baseline-JPEG decode path (pipeline/jpeg.py — marker
    segmentation, stream-carried huffman tables, DC-differential +
    run-length AC entropy decode, dequantization, vectorized IDCT).
    Each doc gets a grayscale JPEG of constant 8×8 blocks whose values
    follow an arithmetic formula; with the all-ones quantization table
    a DC-only image roundtrips EXACTLY (the DC coefficient 8·(v−128)
    is integral, AC are analytically zero), so the oracle recomputes
    the expected image mean from the formula — the entire entropy +
    transform pipeline is value-verified without any imaging library.
    Lossy-by-construction content (nonzero AC under real quant tables)
    is covered with error bounds by tests/test_pipeline.py instead."""
    from xarray_scipy_spark.pipeline.hashes import spread as _spread

    # fixture ENCODE is itself per-payload python work — spread it
    # across the task waves like the decode side (a single small
    # parquet file otherwise scans as one partition and serializes it)
    docs = _spread(_docs(spark, sf_dir).select("doc_id"), "doc_id")

    def jpeg(row):
        d = int(row.doc_id)
        bw, bh = 1 + d % 3, 1 + d % 2
        vals = (d * 37 + np.arange(bw * bh) * 11) % 256
        img = np.repeat(np.repeat(vals.reshape(bh, bw), 8, axis=0), 8, axis=1)
        return pl.encode_jpeg(img.astype(np.uint8))

    with_payload = _with_payloads(docs, jpeg)
    res = pl.decode_features(with_payload, n_features=5, decoder=pl.image_decoder)
    return res.select(
        "doc_id",
        _r("f0", 4, "f0_4"),
        F.col("f1"),
        F.col("f2"),
        "f3",
        "f4",
    )


# ---------------------------------------------------------------------------
# text analysis: per-doc unigram negative log-likelihood (quality proxy)
# ---------------------------------------------------------------------------


_TEXT_LOGPROB_ORACLE = (
    f"WITH {_TOKS}, "
    "tok AS (SELECT doc_id, unnest(tk) AS token FROM toks), "
    "vocab AS (SELECT token, count(*) AS tf FROM tok GROUP BY token), "
    "total AS (SELECT sum(tf) AS n_total FROM vocab), "
    "j AS (SELECT t.doc_id, -ln(v.tf / total.n_total) AS nll "
    "      FROM tok t JOIN vocab v USING (token) CROSS JOIN total) "
    "SELECT doc_id, count(*) AS n_tokens, "
    + _q3("avg(nll)")
    + " AS nll_q FROM j GROUP BY doc_id"
)


def q_text_logprob(spark, sf_dir):
    """Per-doc mean unigram NLL under the corpus's own LM
    (pipeline/text.py:unigram_logprob) — the cheap perplexity proxy a
    quality-filter pass runs corpus-wide. Quantized at 1e-3 (ln +
    divide summation order differs between engines)."""
    res = pl.unigram_logprob(_docs(spark, sf_dir))
    return res.select(
        "doc_id", "n_tokens", _q3_col(F.col("avg_nll")).alias("nll_q")
    )


# ---------------------------------------------------------------------------
# cross-correlation (scipy surface beyond the reference's convolution pair)
# ---------------------------------------------------------------------------


_CORRELATE_ORACLE = (
    f"WITH {_S} "
    "SELECT a.user_id, a.j - b.j + a.n - 1 AS idx, "
    "round(sum(a.x * b.x), 4) + 0.0 AS corr4 "
    "FROM s a JOIN s b USING (user_id) "
    "GROUP BY a.user_id, a.j - b.j + a.n - 1"
)


def q_correlate(spark, sf_dir):
    """Self cross-correlation (mode=full) of each user's series through
    the cogrouped FFT kernel (operators/convolve.py:correlate)."""
    ev = _events(spark, sf_dir)
    res = ops.correlate(ev, ev, by=["user_id"], dim="ts", mode="full")
    return res.select("user_id", "idx", _r("value", 4, "corr4"))


def q_welch_blackman(spark, sf_dir):
    """ops.welch window='blackman' — the window-shape surface beyond
    the hann default (oracle = the same windowed DFT with the blackman
    taps inline)."""
    res = ops.welch(
        _events(spark, sf_dir),
        by=["user_id"],
        dim="ts",
        frame_len=_STFT_FL,
        hop=_STFT_HOP,
        window="blackman",
    )
    return res.select("user_id", "idx", _r("power", 4, "power4"))


def q_dedup_ngram_spans(spark, sf_dir):
    """Passage-level duplication: per-doc fraction of tokens covered by
    word-8-grams shared with >= 2 docs (pipeline/dedup.py
    duplicated_ngram_spans; oracle pre-validated in r6)."""
    res = pl.duplicated_ngram_spans(_docs(spark, sf_dir), k=_DUPNG_K, min_docs=2)
    return res.select(
        "doc_id",
        "n_tokens",
        "n_grams",
        "n_dup_grams",
        _q3_col(F.col("dup_token_frac")).alias("frac_q"),
    )


def q_deconvolve(spark, sf_dir):
    """scipy-style polynomial deconvolution by the fixed stable divisor
    (operators/convolve.py deconvolve; oracle pre-validated in r6)."""
    res = ops.deconvolve(
        _events(spark, sf_dir), list(_DECONV_DIV), by=["user_id"], dim="ts"
    )
    return res.select(
        "user_id",
        "idx",
        _q3_col(F.col("quotient")).alias("quot_q"),
        _q3_col(F.col("remainder")).alias("rem_q"),
    )


# --- probabilistic sketches (pipeline/sketches.py) -------------------------

_HLL_P = 12
_HLL_M = 1 << _HLL_P


def _hll_oracle() -> str:
    """DuckDB twin of pipeline.sketches.hll_state(p=12) over
    CAST(l_orderkey AS VARCHAR) grouped by l_returnflag: identical
    hex-split bucket/rank layout, the rank ladder spliced in VERBATIM
    from the same generator the Spark plan uses
    (sketches._hll_rank_ladder_sql — one source of truth), BIGINT
    register sum (sum() goes HUGEINT in DuckDB — cast back)."""
    from .pipeline.sketches import _hll_rank_ladder_sql

    return (
        "WITH v AS (SELECT l_returnflag AS rf, "
        "md5(CAST(l_orderkey AS VARCHAR)) AS hx FROM lineitem), "
        "br AS (SELECT rf, "
        f"('0x' || substring(hx, {15 - _HLL_P // 4 + 1}, {_HLL_P // 4}))::BIGINT AS bucket, "
        f"('0x' || substring(hx, 1, {15 - _HLL_P // 4}))::BIGINT AS hi FROM v), "
        f"rk AS (SELECT rf, bucket, ({_hll_rank_ladder_sql(_HLL_P)}) AS rank "
        "FROM br), "
        "regs AS (SELECT rf, bucket, max(rank) AS mj FROM rk GROUP BY rf, bucket) "
        f"SELECT rf, {_HLL_M} AS m, count(*) AS present, "
        f"{_HLL_M} - count(*) AS zeros, "
        "CAST(sum(1::BIGINT << (49 - mj)) "
        f"+ ({_HLL_M} - count(*)) * (1::BIGINT << 49) AS BIGINT) AS register_sum, "
        "CAST(sum(mj) AS BIGINT) AS rank_checksum "
        "FROM regs GROUP BY rf"
    )


def q_sketch_hll(spark, sf_dir):
    """HyperLogLog register state for distinct(l_orderkey) per
    l_returnflag (pipeline/sketches.py hll_state): the contract
    compares the EXACT integer sketch state — register sum is exact
    2^-rank arithmetic scaled to BIGINT, so approximation noise never
    enters the correctness gate."""
    li = load_table(spark, "lineitem", sf_dir).select(
        F.col("l_returnflag").alias("rf"),
        F.col("l_orderkey").cast("string").alias("k"),
    )
    return pl.hll_state(li, "k", by="rf", p=_HLL_P)


_CM_DEPTH = 4
_CM_WIDTH = 1024
_CM_TOPN = 20


def _countmin_oracle() -> str:
    """DuckDB twin of countmin_sketch + countmin_lookup over
    CAST(l_partkey AS VARCHAR): same 'cm<j>|' seeded h60 cells, probe
    set = deterministic exact top-20 (count DESC, tok ASC)."""
    cell = (
        "('0x' || substring(md5('cm' || CAST(u.j AS VARCHAR) || '|' || {t}), 1, 15))"
        f"::BIGINT % {_CM_WIDTH}"
    )
    return (
        "WITH v AS (SELECT CAST(l_partkey AS VARCHAR) AS tok FROM lineitem), "
        "cnt AS (SELECT tok, count(*) AS exact_cnt FROM v GROUP BY tok), "
        "probes AS (SELECT tok, exact_cnt FROM cnt "
        f"ORDER BY exact_cnt DESC, tok LIMIT {_CM_TOPN}), "
        "cells AS (SELECT u.j, " + cell.format(t="v.tok") + " AS cell, "
        "count(*) AS cnt "
        f"FROM v CROSS JOIN (SELECT unnest(range({_CM_DEPTH})) AS j) u "
        "GROUP BY u.j, " + cell.format(t="v.tok") + "), "
        "pc AS (SELECT p.tok, p.exact_cnt, u.j, "
        + cell.format(t="p.tok")
        + " AS cell "
        f"FROM probes p CROSS JOIN (SELECT unnest(range({_CM_DEPTH})) AS j) u) "
        "SELECT pc.tok, any_value(pc.exact_cnt) AS exact_cnt, "
        "CAST(min(c.cnt) AS BIGINT) AS est "
        "FROM pc JOIN cells c ON c.j = pc.j AND c.cell = pc.cell "
        "GROUP BY pc.tok"
    )


def q_sketch_countmin(spark, sf_dir):
    """Count-min frequency sketch (depth 4 × width 1024) of l_partkey
    occurrences, probed at the exact top-20 keys
    (pipeline/sketches.py countmin_sketch/countmin_lookup). width <
    distinct keys, so real cell collisions occur and the est >=
    exact_cnt upper-bound property is exercised on collided cells —
    both engines reproduce the identical collided counters."""
    v = load_table(spark, "lineitem", sf_dir).select(
        F.col("l_partkey").cast("string").alias("tok")
    )
    cnt = v.groupBy("tok").agg(F.count(F.lit(1)).alias("exact_cnt"))
    probes = cnt.orderBy(F.desc("exact_cnt"), "tok").limit(_CM_TOPN)
    # The sketch is the WEIGHTED sketch of the exact per-token counts
    # (sum of exact_cnt per cell ≡ sum of 1 per occurrence — integer
    # arithmetic, byte-identical counters): the exact side's aggregate
    # exchange is reused instead of a second corpus scan feeding the
    # depth-way explode — 2 lineitem passes → 1, and the explode runs
    # over distinct keys, not raw rows (r16, guide §2.3 "aggregate
    # before you shuffle").
    sk = pl.countmin_sketch(
        cnt, "tok", depth=_CM_DEPTH, width=_CM_WIDTH, weight=F.col("exact_cnt")
    )
    est = pl.countmin_lookup(
        sk, probes.select("tok"), "tok", depth=_CM_DEPTH, width=_CM_WIDTH
    )
    return probes.join(est, "tok").select("tok", "exact_cnt", "est")


_BLOOM_M = 1 << 18
_BLOOM_K = 3


def _bloom_oracle() -> str:
    """DuckDB twin of bloom_decontaminate on the decontaminate split:
    the filter's set-bit positions from the benchmark shingles, then
    every corpus shingle probes its k positions with IN-subqueries."""
    pos = (
        "('0x' || substring(md5('bloom{i}|' || {s}), 1, 15))::BIGINT % "
        f"{_BLOOM_M}"
    )
    probe = " AND ".join(
        pos.format(i=i, s="c.s") + " IN (SELECT pos FROM bits)"
        for i in range(_BLOOM_K)
    )
    sets = ", ".join(
        pos.format(i=i, s="b.s") + f" AS p{i}" for i in range(_BLOOM_K)
    )
    unions = " UNION ".join(f"SELECT p{i} AS pos FROM bp" for i in range(_BLOOM_K))
    return (
        f"WITH {_TOKS}, {_SHINGLES}, "
        "bench AS (SELECT DISTINCT unnest(shingles) AS s FROM sh "
        f"WHERE doc_id % {_DECON_BENCH_MOD} = 0), "
        f"bp AS (SELECT {sets} FROM bench b), "
        f"bits AS ({unions}), "
        "corpus_sh AS (SELECT doc_id, unnest(shingles) AS s FROM sh "
        f"WHERE doc_id % {_DECON_BENCH_MOD} <> 0), "
        f"hits AS (SELECT c.doc_id, count(*) AS nf FROM corpus_sh c "
        f"WHERE {probe} GROUP BY c.doc_id) "
        "SELECT d.doc_id, CAST(coalesce(h.nf, 0) AS BIGINT) AS n_flagged_shingles, "
        "coalesce(h.nf, 0) > 0 AS contaminated "
        "FROM documents d LEFT JOIN hits h ON h.doc_id = d.doc_id "
        f"WHERE d.doc_id % {_DECON_BENCH_MOD} <> 0"
    )


def q_bloom_decontaminate(spark, sf_dir):
    """decontaminate with a 32 KiB Bloom filter in place of the raw
    benchmark shingle broadcast (pipeline/sketches.py
    bloom_decontaminate): constant-size guard set, zero false
    negatives by construction; the oracle rebuilds the identical
    filter so even the false-positive flags match byte-for-byte."""
    docs = _docs(spark, sf_dir)
    bench = docs.filter(F.col("doc_id") % _DECON_BENCH_MOD == 0)
    corpus = docs.filter(F.col("doc_id") % _DECON_BENCH_MOD != 0)
    return pl.bloom_decontaminate(
        corpus, bench, m_bits=_BLOOM_M, k=_BLOOM_K
    )


# --- variant-tag unions ------------------------------------------------------


def _rfft_merged_oracle() -> str:
    return (
        "SELECT * FROM ("
        f"WITH {_S}, {_SPEC} "
        "SELECT 'default' AS variant, user_id, k AS idx, "
        f"{_q3('re')} AS re_q, {_q3('im')} AS im_q "
        "FROM spec WHERE k <= n // 2"
        ") UNION ALL SELECT * FROM ("
        f"WITH {_S}, "
        f"b AS (SELECT user_id, j AS k FROM s WHERE j <= {_RFFT_PAD_N // 2}) "
        "SELECT 'n64_ortho' AS variant, b.user_id, b.k AS idx, "
        + _q3(
            f"sum(CASE WHEN a.j < {_RFFT_PAD_N} THEN a.x * cos(2 * pi() * a.j * b.k / {_RFFT_PAD_N}) ELSE 0 END) / {float(np.sqrt(_RFFT_PAD_N))!r}"
        )
        + " AS re_q, "
        + _q3(
            f"sum(CASE WHEN a.j < {_RFFT_PAD_N} THEN -a.x * sin(2 * pi() * a.j * b.k / {_RFFT_PAD_N}) ELSE 0 END) / {float(np.sqrt(_RFFT_PAD_N))!r}"
        )
        + " AS im_q "
        "FROM b JOIN s a USING (user_id) GROUP BY b.user_id, b.k)"
    )


def q_rfft_merged(spark, sf_dir):
    """rfft default + (n=64, norm='ortho') variants in ONE query (a
    variant-tag union): both parameter surfaces stay value-verified
    in one registry row."""
    ev = _events(spark, sf_dir)
    base = ops.rfft(ev, by=["user_id"], dim="ts").select(
        F.lit("default").alias("variant"),
        "user_id",
        "idx",
        _q3_col(F.col("re")).alias("re_q"),
        _q3_col(F.col("im")).alias("im_q"),
    )
    ortho = ops.rfft(
        ev, by=["user_id"], dim="ts", n=_RFFT_PAD_N, norm="ortho"
    ).select(
        F.lit("n64_ortho").alias("variant"),
        "user_id",
        "idx",
        _q3_col(F.col("re")).alias("re_q"),
        _q3_col(F.col("im")).alias("im_q"),
    )
    return base.unionAll(ortho)


def _decimate_iir_merged_oracle() -> str:
    return (
        "SELECT * FROM ("
        f"WITH {_S}, {_impulse_response_sql(_DEC_IIR_SOS)}, "
        "filt AS ("
        "  SELECT xi.user_id, xi.j AS i, sum(h.hv * xj.x) AS y"
        "  FROM s xi JOIN h ON h.m <= xi.j"
        "  JOIN s xj ON xj.user_id = xi.user_id AND xj.j = xi.j - h.m"
        "  GROUP BY xi.user_id, xi.j"
        ") "
        f"SELECT 'causal' AS variant, user_id, i // {_DECIMATE_Q} AS idx, "
        f"round(y, 4) + 0.0 AS value4 FROM filt WHERE i % {_DECIMATE_Q} = 0"
        ") UNION ALL SELECT * FROM ("
        f"WITH {_S}, {_filtfilt_chain_sql(_DEC_IIR_SOS)} "
        f"SELECT 'zerophase' AS variant, user_id, idx // {_DECIMATE_Q} AS idx, "
        f"round(y, 4) + 0.0 AS value4 FROM ff WHERE idx % {_DECIMATE_Q} = 0)"
    )


def q_decimate_iir_merged(spark, sf_dir):
    """decimate ftype='iir' causal + zero-phase variants in one
    variant-tag union. Replaces decimate_iir + decimate_iir_zerophase."""
    ev = _events(spark, sf_dir)
    out = []
    for tag, zp in (("causal", False), ("zerophase", True)):
        res = ops.decimate(
            ev, _DECIMATE_Q, by=["user_id"], dim="ts", ftype="iir", zero_phase=zp
        )
        out.append(
            res.select(
                F.lit(tag).alias("variant"),
                "user_id",
                "idx",
                _r("value", 4, "value4"),
            )
        )
    return out[0].unionAll(out[1])


def _sosfiltfilt_merged_oracle() -> str:
    return (
        "SELECT 'odd' AS variant, user_id, idx, value4 FROM ("
        + _sosfiltfilt_oracle_sql()
        + ") UNION ALL SELECT * FROM ("
        f"WITH {_S}, {_filtfilt_chain_sql(_SFF_SOS, padtype='even')} "
        "SELECT 'even' AS variant, user_id, idx, round(y, 4) + 0.0 AS value4 "
        "FROM ff)"
    )


def q_sosfiltfilt_merged(spark, sf_dir):
    """sosfiltfilt padtype='odd' (scipy default) + 'even' variants in
    one variant-tag union. Replaces sosfiltfilt + sosfiltfilt_even."""
    ev = _events(spark, sf_dir)
    out = []
    for tag in ("odd", "even"):
        res = ops.sosfiltfilt(_SFF_SOS, ev, by=["user_id"], dim="ts", padtype=tag)
        out.append(
            res.select(
                F.lit(tag).alias("variant"),
                "user_id",
                "idx",
                _r("value", 4, "value4"),
            )
        )
    return out[0].unionAll(out[1])


def _text_lang_fp_oracle() -> str:
    return (
        "SELECT l.doc_id, l.score_en, l.score_de, l.score_fr, l.score_es, "
        "l.score_zh, l.pred_lang, f.n_chars, f.fingerprint "
        f"FROM ({_lang_id_oracle()}) l JOIN ("
        "SELECT doc_id, CAST(length(text) AS BIGINT) AS n_chars, "
        "list_min(list_transform(range(1, greatest(length(text) - 7, 1) + 1), "
        "i -> md5(substring(text, i, 8)))) AS fingerprint "
        "FROM documents) f USING (doc_id)"
    )


def q_text_lang_fp(spark, sf_dir):
    """lang_id + rolling-hash fingerprint joined per doc — two text
    operators in one query."""
    docs = _docs(spark, sf_dir)
    lang = pl.lang_id(docs).select(
        "doc_id",
        *[
            F.col(f"score_{lang}").cast("bigint").alias(f"score_{lang}")
            for lang in ("en", "de", "fr", "es", "zh")
        ],
        "pred_lang",
    )
    fp = pl.fingerprint(docs).select(
        "doc_id", F.col("n_chars").cast("bigint").alias("n_chars"), "fingerprint"
    )
    return lang.join(fp, "doc_id")


def _convolve_merged_oracle() -> str:
    return (
        "SELECT 'valid' AS variant, user_id, idx, conv6 AS v6 FROM ("
        + _CONVOLVE_VALID_SQL
        + ") UNION ALL SELECT 'fir' AS variant, user_id, idx, fir6 AS v6 "
        "FROM (" + _CONVOLVE_FIR_SQL + ")"
    )


def q_convolve_merged(spark, sf_dir):
    """mode='valid' convolution + centered FIR (mode='same' taps) in
    one variant-tag union."""
    valid = q_convolve_valid(spark, sf_dir).select(
        F.lit("valid").alias("variant"), "user_id", "idx",
        F.col("conv6").alias("v6"),
    )
    fir = q_convolve_fir(spark, sf_dir).select(
        F.lit("fir").alias("variant"), "user_id", "idx",
        F.col("fir6").alias("v6"),
    )
    return valid.unionAll(fir)


def _multimodal_merged_oracle() -> str:
    """png + bmp + jpeg + jpeg_ac + jpeg_prog + webp + gif decode
    oracles in one variant-tag union.
    n_bytes is closed-form only for BMP (54 + stride·h); png/jpeg
    compressed sizes are not SQL-computable and emit -1 on both
    sides."""

    def chan_means(expr_n: str, formula: str) -> str:
        return ", ".join(
            "round(list_aggregate(list_transform(range(0, " + expr_n + "), "
            f"p -> CAST({formula.format(c=c)} AS DOUBLE)), 'avg'), 4)"
            f" + 0.0 AS f{c}_4"
            for c in range(3)
        )

    rgb = chan_means("w * h", "(doc_id * 31 + (3 * p + {c}) * 7) % 256")
    return (
        "WITH dims AS (SELECT doc_id, 4 + doc_id % 5 AS w, 3 + doc_id % 4 AS h, "
        "1 + doc_id % 3 AS bw, 1 + doc_id % 2 AS bh FROM documents) "
        "SELECT 'png' AS variant, doc_id, CAST(-1 AS BIGINT) AS n_bytes, "
        + rgb
        + ", CAST(w AS DOUBLE) AS f3, CAST(h AS DOUBLE) AS f4 FROM dims "
        "UNION ALL "
        "SELECT 'bmp' AS variant, doc_id, "
        "CAST(54 + ((w * 3 + 3) // 4) * 4 * h AS BIGINT) AS n_bytes, "
        + rgb
        + ", CAST(w AS DOUBLE) AS f3, CAST(h AS DOUBLE) AS f4 FROM dims "
        "UNION ALL "
        "SELECT 'jpeg' AS variant, doc_id, CAST(-1 AS BIGINT) AS n_bytes, "
        "round(list_aggregate(list_transform(range(0, bw * bh), "
        "b -> CAST((doc_id * 37 + b * 11) % 256 AS DOUBLE)), 'avg'), 4) + 0.0 "
        "AS f0_4, 0.0 AS f1_4, 0.0 AS f2_4, "
        "CAST(bw * 8 AS DOUBLE) AS f3, CAST(bh * 8 AS DOUBLE) AS f4 FROM dims "
        "UNION ALL "
        # jpeg_ac (FIXTURES.md): block v + k·s(x)s(y) with s the sign
        # of cos((2x+1)π/4) — exactly two nonzero integer DCT
        # coefficients (DC=8(v−128), AC(4,4)=8k, a zigzag run > 15 so
        # the ZRL code fires), so the huffman-AC + IDCT path
        # roundtrips EXACTLY and the ± checker-cell means are the
        # closed forms v±k; overall mean stays v (the AC basis is
        # zero-mean)
        "SELECT 'jpeg_ac' AS variant, doc_id, CAST(-1 AS BIGINT) AS n_bytes, "
        "round(CAST(40 + doc_id % 160 AS DOUBLE), 4) + 0.0 AS f0_4, "
        "round(CAST(40 + doc_id % 160 + 1 + doc_id % 38 AS DOUBLE), 4) + 0.0 "
        "AS f1_4, "
        "round(CAST(40 + doc_id % 160 - 1 - doc_id % 38 AS DOUBLE), 4) + 0.0 "
        "AS f2_4, "
        "8.0 AS f3, 8.0 AS f4 FROM documents "
        "UNION ALL "
        # jpeg_prog (r7): the same AC-checkerboard fixture through the
        # progressive (SOF2) encode+decode pipeline — lossless on the
        # integer coefficients, so the same closed forms pin it
        "SELECT 'jpeg_prog' AS variant, doc_id, CAST(-1 AS BIGINT) AS n_bytes, "
        "round(CAST(40 + doc_id % 160 AS DOUBLE), 4) + 0.0 AS f0_4, "
        "round(CAST(40 + doc_id % 160 + 1 + doc_id % 38 AS DOUBLE), 4) + 0.0 "
        "AS f1_4, "
        "round(CAST(40 + doc_id % 160 - 1 - doc_id % 38 AS DOUBLE), 4) + 0.0 "
        "AS f2_4, "
        "8.0 AS f3, 8.0 AS f4 FROM documents "
        "UNION ALL "
        # webp (r8): lossless VP8L with subtract-green + color cache —
        # RGB pixels follow the same formula as the png branch, and
        # VP8L is lossless, so the same channel-mean expressions pin
        # the whole bitstream path (huffman, LZ77, cache, transform)
        "SELECT 'webp' AS variant, doc_id, CAST(-1 AS BIGINT) AS n_bytes, "
        + rgb
        + ", CAST(w AS DOUBLE) AS f3, CAST(h AS DOUBLE) AS f4 FROM dims "
        "UNION ALL "
        # gif (r7): grayscale palette (palette[i] = (i,i,i)), pixels
        # follow the PPM/PNG formula with c = 0 — lossless LZW, so all
        # three decoded channel means equal the formula mean
        "SELECT 'gif' AS variant, doc_id, CAST(-1 AS BIGINT) AS n_bytes, "
        "round(list_aggregate(list_transform(range(0, w * h), "
        "p -> CAST((doc_id * 31 + p * 7) % 256 AS DOUBLE)), 'avg'), 4) + 0.0 "
        "AS f0_4, "
        "round(list_aggregate(list_transform(range(0, w * h), "
        "p -> CAST((doc_id * 31 + p * 7) % 256 AS DOUBLE)), 'avg'), 4) + 0.0 "
        "AS f1_4, "
        "round(list_aggregate(list_transform(range(0, w * h), "
        "p -> CAST((doc_id * 31 + p * 7) % 256 AS DOUBLE)), 'avg'), 4) + 0.0 "
        "AS f2_4, "
        "CAST(w AS DOUBLE) AS f3, CAST(h AS DOUBLE) AS f4 FROM dims"
    )


def q_multimodal_decode_merged(spark, sf_dir):
    """The compressed-codec decode paths (PNG, BMP, baseline JPEG
    DC + AC fixtures, lossless WebP/VP8L, GIF/LZW — 7 variants) in ONE
    variant-tag union, so every codec stays value-verified."""
    import numpy as _np
    import pandas as _pd

    from xarray_scipy_spark.pipeline.hashes import spread as _spread

    docs = _spread(_docs(spark, sf_dir).select("doc_id"), "doc_id")
    png = q_multimodal_png_decode(spark, sf_dir).select(
        F.lit("png").alias("variant"),
        "doc_id",
        F.lit(-1).cast("bigint").alias("n_bytes"),
        "f0_4",
        "f1_4",
        "f2_4",
        "f3",
        "f4",
    )
    bmp = q_multimodal_bmp_decode(spark, sf_dir).select(
        F.lit("bmp").alias("variant"),
        "doc_id",
        "n_bytes",
        "f0_4",
        "f1_4",
        "f2_4",
        "f3",
        "f4",
    )
    jpg = q_multimodal_jpeg_decode(spark, sf_dir).select(
        F.lit("jpeg").alias("variant"),
        "doc_id",
        F.lit(-1).cast("bigint").alias("n_bytes"),
        "f0_4",
        F.col("f1").alias("f1_4"),
        F.col("f2").alias("f2_4"),
        "f3",
        "f4",
    )

    # jpeg_ac variant: encode+decode the AC-checkerboard fixture and
    # probe the ± cells — value-verifies the huffman-AC (incl. ZRL)
    # and IDCT paths, which the DC-only fixture cannot see
    def make_ac_probe(progressive):
        def ac_probe(batches):
            from xarray_scipy_spark.pipeline.jpeg import decode_jpeg, encode_jpeg

            sgn = _np.array([1, -1, -1, 1, 1, -1, -1, 1])
            pat = _np.outer(sgn, sgn)
            plus, minus = pat == 1, pat == -1
            for pdf in batches:
                rows = []
                for d in pdf["doc_id"]:
                    d = int(d)
                    v, k = 40 + d % 160, 1 + d % 38
                    img = (v + k * pat).astype(_np.uint8)
                    px, _w, _h = decode_jpeg(
                        encode_jpeg(img, progressive=progressive)
                    )
                    arr = _np.asarray(px, dtype=float).reshape(8, 8)
                    rows.append(
                        (
                            d,
                            float(arr.mean()),
                            float(arr[plus].mean()),
                            float(arr[minus].mean()),
                        )
                    )
                yield _pd.DataFrame(rows, columns=["doc_id", "f0", "fp", "fm"])

        return ac_probe

    def ac_variant(tag, progressive):
        return (
            _spread(_docs(spark, sf_dir).select("doc_id"), "doc_id")
            .mapInPandas(
                make_ac_probe(progressive),
                "doc_id bigint, f0 double, fp double, fm double",
            )
            .select(
                F.lit(tag).alias("variant"),
                "doc_id",
                F.lit(-1).cast("bigint").alias("n_bytes"),
                _r("f0", 4, "f0_4"),
                _r("fp", 4, "f1_4"),
                _r("fm", 4, "f2_4"),
                F.lit(8.0).alias("f3"),
                F.lit(8.0).alias("f4"),
            )
        )

    # jpeg_prog (r7): the same AC-checkerboard block through the SOF2
    # PROGRESSIVE pipeline — spectral selection, successive
    # approximation, EOB runs, correction bits — which completes
    # losslessly on integer coefficients, so the same closed forms pin it
    ac = ac_variant("jpeg_ac", False)
    ac_prog = ac_variant("jpeg_prog", True)

    # webp variant (r8): the png pixel formula through the VP8L
    # lossless pipeline (subtract-green transform + color cache +
    # data-derived huffman codes), decoded back by pipeline/webp.py
    webp_payload = _with_payloads(
        docs,
        lambda row: pl.encode_webp_lossless(
            _fixture_pixels(int(row.doc_id)), subtract_green=True, cache_bits=4
        ),
    )
    webp = pl.decode_features(
        webp_payload, n_features=5, decoder=pl.image_decoder
    ).select(
        F.lit("webp").alias("variant"),
        "doc_id",
        F.lit(-1).cast("bigint").alias("n_bytes"),
        _r("f0", 4, "f0_4"),
        _r("f1", 4, "f1_4"),
        _r("f2", 4, "f2_4"),
        "f3",
        "f4",
    )

    # gif variant (r7): grayscale-palette LZW — lossless, so the PPM
    # formula with a single channel drives all three decoded means
    gif_payload = _with_payloads(
        docs, lambda row: pl.encode_gif(_fixture_pixels(int(row.doc_id), channels=1))
    )
    gif = pl.decode_features(
        gif_payload, n_features=5, decoder=pl.image_decoder
    ).select(
        F.lit("gif").alias("variant"),
        "doc_id",
        F.lit(-1).cast("bigint").alias("n_bytes"),
        _r("f0", 4, "f0_4"),
        _r("f1", 4, "f1_4"),
        _r("f2", 4, "f2_4"),
        "f3",
        "f4",
    )
    return (
        png.unionAll(bmp)
        .unionAll(jpg)
        .unionAll(ac)
        .unionAll(ac_prog)
        .unionAll(webp)
        .unionAll(gif)
    )


def _savgol_merged_oracle() -> str:
    return (
        "SELECT 'smooth' AS variant, user_id, idx, sg6 AS v6 FROM ("
        + _savgol_oracle_sql(_SG_W, _SG_M, 0, 6, "sg6")
        + ") UNION ALL SELECT 'deriv' AS variant, user_id, idx, sgd6 AS v6 "
        "FROM (" + _savgol_oracle_sql(9, 4, 1, 6, "sgd6") + ")"
    )


def q_savgol_merged(spark, sf_dir):
    """Savitzky–Golay smoothing + first-derivative variants in one
    variant-tag union. Replaces savgol + savgol_deriv at r8."""
    sm = q_savgol(spark, sf_dir).select(
        F.lit("smooth").alias("variant"), "user_id", "idx",
        F.col("sg6").alias("v6"),
    )
    dv = q_savgol_deriv(spark, sf_dir).select(
        F.lit("deriv").alias("variant"), "user_id", "idx",
        F.col("sgd6").alias("v6"),
    )
    return sm.unionAll(dv)


def _windows_merged_oracle() -> str:
    return (
        "SELECT 'tumbling' AS variant, user_id, "
        f"(epoch_ns(ts) // {_WIN_SECONDS * 1_000_000_000}) * {_WIN_SECONDS} AS t0, "
        f"(epoch_ns(ts) // {_WIN_SECONDS * 1_000_000_000}) * {_WIN_SECONDS} "
        f"+ {_WIN_SECONDS} AS t1, "
        "count(*) AS n, "
        "CAST(floor(sum(value) * 1000 + 0.5 + 1e-6) AS BIGINT) AS sum_q, "
        "CAST(floor(avg(value) * 1000 + 0.5 + 1e-6) AS BIGINT) AS avg_q "
        "FROM events GROUP BY user_id, t0, t1 "
        "UNION ALL SELECT * FROM ("
        "WITH e AS ("
        "  SELECT user_id, epoch_us(ts) AS t, value AS x,"
        "         CASE WHEN epoch_us(ts) - lag(epoch_us(ts)) OVER "
        f"           (PARTITION BY user_id ORDER BY ts) >= {_SESSW_GAP_US} "
        "           THEN 1 ELSE 0 END AS new_sess"
        "  FROM events"
        "), sess AS ("
        "  SELECT user_id, t, x, sum(new_sess) OVER (PARTITION BY user_id "
        "    ORDER BY t ROWS UNBOUNDED PRECEDING) AS sid FROM e"
        ") "
        "SELECT 'session' AS variant, user_id, min(t) AS t0, "
        f"max(t) + {_SESSW_GAP_US} AS t1, "
        "count(*) AS n, "
        "CAST(floor(sum(x) * 1000 + 0.5 + 1e-6) AS BIGINT) AS sum_q, "
        "CAST(floor(avg(x) * 1000 + 0.5 + 1e-6) AS BIGINT) AS avg_q "
        "FROM sess GROUP BY user_id, sid)"
    )


def q_windows_merged(spark, sf_dir):
    """Tumbling event-time windows + native session windows in one
    variant-tag union (t0/t1 = window bounds; tumbling in epoch
    seconds, session in epoch µs — consistent within each variant and
    with the oracle). Replaces stream_window_stats +
    session_window_stats at r8; min4/max4 stay pinned by the live
    streaming twin's oracle (stream_window_stats_live)."""
    win = q_stream_window_stats(spark, sf_dir).select(
        F.lit("tumbling").alias("variant"),
        "user_id",
        F.col("window_start").alias("t0"),
        (F.col("window_start") + F.lit(_WIN_SECONDS)).cast("bigint").alias("t1"),
        "n",
        "sum_q",
        "avg_q",
    )
    sess = q_session_window_stats(spark, sf_dir).select(
        F.lit("session").alias("variant"),
        "user_id",
        F.col("session_start").alias("t0"),
        F.col("session_end").alias("t1"),
        "n",
        "sum_q",
        "avg_q",
    )
    return win.unionAll(sess)


# The spectral_apply roundtrip and istft's native plan share one
# oracle: the original series on covered positions.
_ISTFT_ORACLE = (
    f"WITH {_S} "
    "SELECT user_id, j AS t, round(x, 4) + 0.0 AS val4 "
    f"FROM s WHERE n >= {_STFT_FL} AND j >= 1 "
    f"AND j <= ((n - {_STFT_FL}) // {_STFT_HOP}) * {_STFT_HOP} + {_STFT_FL - 1}"
)


# --- OHLC bars, bloom semi-join, CDC latest ----------------------------------

_OHLC_BAR_S = 21_600.0  # 6-hour bars over the ~29-day event span


def _ohlc_oracle() -> str:
    """DuckDB twin of operators.tsstats.ohlc_bars (6 h bars, TWAP):
    identical epoch-seconds arithmetic, lead-based holding times
    capped at the bar end, arg_min/arg_max open/close (deterministic —
    (user, ts) is unique in events)."""
    b = _OHLC_BAR_S
    return (
        "WITH e AS (SELECT user_id, epoch_us(ts) / 1000000.0 AS t, "
        "CAST(value AS DOUBLE) AS v FROM events), "
        "l AS (SELECT user_id, t, v, "
        f"floor(t / {b!r}) AS bkt, "
        "lead(t) OVER (PARTITION BY user_id ORDER BY t) AS nt FROM e), "
        "d AS (SELECT user_id, bkt, t, v, "
        f"least(coalesce(nt, t), (bkt + 1) * {b!r}) - t AS dt FROM l), "
        "a AS (SELECT user_id, bkt, count(*) AS n, "
        "arg_min(v, t) AS open, max(v) AS high, min(v) AS low, "
        "arg_max(v, t) AS close, avg(v) AS mean, "
        "sum(v * dt) AS vdt, sum(dt) AS sdt FROM d GROUP BY user_id, bkt) "
        f"SELECT user_id, CAST(bkt * {b!r} AS BIGINT) AS bar_start, n, "
        + ", ".join(
            _q3(c) + f" AS {c}_q" for c in ("open", "high", "low", "close", "mean")
        )
        + ", "
        + _q3("CASE WHEN sdt > 0 THEN vdt / sdt ELSE mean END")
        + " AS twap_q FROM a"
    )


def q_ohlc_bars(spark, sf_dir):
    """6-hour OHLC + time-weighted-average bars per user
    (operators/tsstats.py ohlc_bars): one ordered window for the
    holding times, one map-side-combinable aggregation — the
    continuous-rollup shape. open/close are min_by/max_by aggregates,
    not a per-bucket ranking window."""
    res = ops.ohlc_bars(
        _events(spark, sf_dir), by=["user_id"], dim="ts", bar=_OHLC_BAR_S
    )
    return res.select(
        "user_id",
        F.col("bar_start").cast("bigint").alias("bar_start"),
        "n",
        *[
            _q3_col(F.col(c)).alias(f"{c}_q")
            for c in ("open", "high", "low", "close", "mean", "twap")
        ],
    )


def _bloom_semijoin_oracle() -> str:
    """Plain-join DuckDB mirror: the Bloom pre-filter must be INVISIBLE
    in the result — false positives are dropped by the exact join, so
    the oracle IS the unfiltered join + aggregation."""
    return (
        "WITH r AS (SELECT o_orderkey AS k FROM orders "
        "WHERE o_orderpriority = '1-URGENT') "
        "SELECT l.l_orderkey AS k, count(*) AS n_items, "
        + _q3("sum(l.l_quantity)")
        + " AS qty_q FROM lineitem l JOIN r ON r.k = l.l_orderkey "
        "GROUP BY l.l_orderkey"
    )


def q_bloom_semijoin(spark, sf_dir):
    """lineitem (probe) ⋈ urgent orders (selective build side) through
    operators/joins.py bloom_semijoin: the build side's distinct key
    fingerprints broadcast as ≤ m_bits position rows, k LEFT-SEMI
    broadcast probes prune the probe side BEFORE any shuffle, the
    exact join drops the false positives — result must be row-for-row
    the plain join (the oracle)."""
    li = load_table(spark, "lineitem", sf_dir).select(
        F.col("l_orderkey").alias("k"), "l_quantity"
    )
    orders = load_table(spark, "orders", sf_dir)
    urgent = orders.filter(F.col("o_orderpriority") == "1-URGENT").select(
        F.col("o_orderkey").alias("k")
    )
    j = ops.bloom_semijoin(li, urgent, on=["k"], m_bits=1 << 16, k=3)
    return j.groupBy("k").agg(
        F.count(F.lit(1)).alias("n_items"),
        _q3_col(F.sum("l_quantity")).alias("qty_q"),
    )


def _latest_oracle() -> str:
    """row_number window twin of pipeline.dedup.latest_by_key on
    (user_id, event_type): (user, ts) is unique so the winner is
    well-defined without a tiebreak."""
    return (
        "WITH r AS (SELECT user_id, event_type, event_id, value, "
        "epoch_us(ts) AS t, row_number() OVER ("
        "PARTITION BY user_id, event_type ORDER BY ts DESC) AS rk "
        "FROM events) "
        "SELECT user_id, event_type, t AS t_us, event_id, "
        + _q3("value")
        + " AS value_q FROM r WHERE rk = 1"
    )


def q_latest_by_key(spark, sf_dir):
    """CDC/upsert compaction: latest event per (user, event_type)
    (pipeline/dedup.py latest_by_key) — ONE max(struct) aggregation,
    partial-combined map-side, not the row_number window idiom the
    oracle uses (same answer, hot keys cost nothing extra)."""
    ev = load_table(spark, "events", sf_dir).select(
        "user_id", "event_type", "event_id", "ts", "value"
    )
    res = pl.latest_by_key(ev, keys=["user_id", "event_type"], order_col="ts")
    return res.select(
        "user_id",
        "event_type",
        timeutil.epoch_us(res, "ts").alias("t_us"),
        "event_id",
        _q3_col(F.col("value")).alias("value_q"),
    )


_FUNNEL_STEPS = ("signup", "view", "purchase")
_RET_PERIOD_S = 7 * 86_400


def _funnel_oracle() -> str:
    """DuckDB twin of operators.events.funnel_times on the
    signup→view→purchase event-type funnel: the identical cascaded
    running-window minima, chained through one CTE per step (each
    step's predicate reads the PREVIOUS step's running min at the same
    row). Final per-user values = group minima of the running columns
    (each is non-increasing); stalls coalesce to -1."""
    base = (
        "w0 AS (SELECT user_id, epoch_us(ts) AS t, event_type FROM events)"
    )
    ctes = [base]
    for i, step in enumerate(_FUNNEL_STEPS, 1):
        gate = f" AND t > t{i - 1}r" if i > 1 else ""
        ctes.append(
            f"w{i} AS (SELECT *, min(CASE WHEN event_type = '{step}'{gate} "
            f"THEN t END) OVER (PARTITION BY user_id ORDER BY t "
            f"ROWS UNBOUNDED PRECEDING) AS t{i}r FROM w{i - 1})"
        )
    outs = ", ".join(
        f"COALESCE(min(t{i}r), -1) AS t{i}_us"
        for i in range(1, len(_FUNNEL_STEPS) + 1)
    )
    return (
        "WITH "
        + ", ".join(ctes)
        + f" SELECT user_id, {outs} FROM w{len(_FUNNEL_STEPS)} "
        "GROUP BY user_id"
    )


def q_funnel(spark, sf_dir):
    """Ordered signup→view→purchase funnel per user
    (operators/events.py funnel_times): k cascaded running minima over
    ONE window spec — a single sort exchange, whole-stage codegen, no
    per-event state machine; exact step times pinned per user (-1 where
    the funnel stalls)."""
    ev = load_table(spark, "events", sf_dir).select(
        "user_id", "ts", "event_type"
    )
    times = ops.funnel_times(
        ev,
        [F.col("event_type") == s for s in _FUNNEL_STEPS],
        by="user_id",
        dim="ts",
    )
    return times.select(
        "user_id",
        *[
            F.coalesce(
                timeutil.epoch_us(times, f"t{i}"), F.lit(-1)
            ).alias(f"t{i}_us")
            for i in range(1, len(_FUNNEL_STEPS) + 1)
        ],
    )


def _retention_oracle() -> str:
    per_us = _RET_PERIOD_S * 1_000_000
    return (
        f"WITH e AS (SELECT user_id, epoch_us(ts) // {per_us} AS p FROM events), "
        "f AS (SELECT user_id, min(p) AS cohort FROM e GROUP BY user_id), "
        "c AS (SELECT DISTINCT e.user_id, f.cohort, e.p - f.cohort AS off "
        "FROM e JOIN f USING (user_id)) "
        "SELECT cohort AS cohort_period, off AS period_offset, "
        "count(*) AS n_active FROM c GROUP BY cohort, off"
    )


def q_retention(spark, sf_dir):
    """Weekly retention cohorts (operators/events.py
    retention_cohorts): first-seen period per user (map-side-combining
    aggregate), one user-keyed join, one distinct-aggregate — output
    width is cohorts × offsets, never raw events."""
    ev = load_table(spark, "events", sf_dir).select("user_id", "ts")
    return ops.retention_cohorts(
        ev, by="user_id", dim="ts", period_seconds=_RET_PERIOD_S
    )


_Z_BITS = 21
_Z_MASK = (1 << _Z_BITS) - 1


def _zorder_oracle() -> str:
    """DuckDB twin of sources.write.zvalue on (user_id, epoch-µs mod
    2^21): the same literal bit-interleave, generated as 2×21 shift
    terms (disjoint positions, so + == OR on both engines)."""

    def interleave(expr: str, d: int) -> str:
        return " + ".join(
            f"((({expr} >> {i}) & 1) << {2 * i + d})" for i in range(_Z_BITS)
        )

    x = f"(user_id % {_Z_MASK + 1})"
    y = f"(epoch_us(ts) % {_Z_MASK + 1})"
    return (
        f"WITH z AS (SELECT user_id, {interleave(x, 0)} + {interleave(y, 1)} "
        "AS zv FROM events) "
        "SELECT user_id, count(*) AS n, min(zv) AS min_z, max(zv) AS max_z, "
        "CAST(sum(zv) AS BIGINT) AS sum_z FROM z GROUP BY user_id"
    )


def q_zorder_curve(spark, sf_dir):
    """Morton z-values over (user_id, time-bucket) aggregated per user
    (sources/write.py zvalue — the expression write_zordered clusters
    by): pure whole-stage-codegen bit arithmetic, value-pinned by
    count/min/max/sum of the 42-bit curve positions."""
    from .sources.write import zvalue

    ev = _events(spark, sf_dir)
    z = zvalue(
        F.col("user_id") % (_Z_MASK + 1),
        F.pmod(timeutil.epoch_us(ev, "ts"), F.lit(_Z_MASK + 1)),
        bits=_Z_BITS,
    )
    return (
        ev.select("user_id", z.alias("zv"))
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min("zv").alias("min_z"),
            F.max("zv").alias("max_z"),
            F.sum("zv").alias("sum_z"),
        )
    )


_PR_MOD, _PR_ITERS, _PR_DAMP = 500, 10, 0.85


def _pagerank_oracle() -> str:
    """DuckDB twin of pipeline.graph.pagerank on the synthetic
    order→supplier link graph: the 10 power iterations UNROLLED as
    chained CTEs (standard SQL forbids aggregates in a recursive
    term), identical dangling-mass and damping arithmetic; ranks
    quantized at 1e-6 (epsilon-floor) — double drift across engines is
    ~1e-13 on this 500-node graph. Every pr{i} is AS MATERIALIZED:
    each references its predecessor twice (contribution join + the
    dangling scalar subquery), so inlined CTEs would re-evaluate the
    whole chain 2^10 times — measured as a multi-minute hang before
    the keyword; materialized, the oracle is milliseconds."""
    n = "(SELECT n FROM nn)"
    parts = [
        f"WITH e AS MATERIALIZED (SELECT DISTINCT l_orderkey % {_PR_MOD} AS s, "
        f"l_suppkey % {_PR_MOD} AS d FROM lineitem), "
        "nodes AS MATERIALIZED (SELECT s AS node FROM e UNION SELECT d FROM e), "
        "deg AS (SELECT s AS node, count(*) AS dg FROM e GROUP BY s), "
        "nn AS MATERIALIZED (SELECT CAST(count(*) AS DOUBLE) AS n FROM nodes), "
        "v AS MATERIALIZED (SELECT node, COALESCE(dg, 0) AS dg FROM nodes "
        "LEFT JOIN deg USING (node)), "
        f"pr0 AS MATERIALIZED (SELECT node, dg, 1.0 / {n} AS rank FROM v)"
    ]
    for i in range(1, _PR_ITERS + 1):
        p = f"pr{i - 1}"
        parts.append(
            f", pr{i} AS MATERIALIZED (SELECT v.node, v.dg, "
            f"(1.0 - {_PR_DAMP}) / {n} + {_PR_DAMP} * ("
            "COALESCE(c.recv, 0.0) + "
            f"(SELECT COALESCE(sum(rank), 0.0) FROM {p} WHERE dg = 0) / {n}"
            ") AS rank FROM v LEFT JOIN ("
            "SELECT e.d AS node, sum(p.rank / p.dg) AS recv "
            f"FROM {p} p JOIN e ON p.node = e.s WHERE p.dg > 0 "
            "GROUP BY e.d) c ON v.node = c.node)"
        )
    parts.append(
        f" SELECT node, CAST(floor(rank * 1000000 + 0.5 + 1e-6) AS BIGINT) "
        f"AS rank_u FROM pr{_PR_ITERS}"
    )
    return "".join(parts)


def q_pagerank(spark, sf_dir):
    """PageRank on the order→supplier link graph (src = l_orderkey mod
    500, dst = l_suppkey mod 500, distinct edges): 10 damped power
    iterations through pipeline/graph.py — one lazy query, one message
    shuffle per iteration, the dangling mass resolved by a closing
    1-row aggregate. The iterative-graph operator class
    (dedup_clusters' connected components being the other member)."""
    li = (
        load_table(spark, "lineitem", sf_dir)
        .select(
            (F.col("l_orderkey") % _PR_MOD).alias("src"),
            (F.col("l_suppkey") % _PR_MOD).alias("dst"),
        )
        .distinct()
    )
    res = pl.pagerank(li, iterations=_PR_ITERS, damping=_PR_DAMP)
    return res.select(
        "node",
        F.floor(F.col("rank") * 1_000_000 + F.lit(0.5) + F.lit(1e-6))
        .cast("bigint")
        .alias("rank_u"),
    )


_KF_K = 5


def _kfold_weights_oracle() -> str:
    """Twin of kfold_assign (exact md5 fold arithmetic) + class_weights
    (balanced inverse-frequency) on documents, summarized per
    (fold, lang): exact-by-id fold membership pinned via count/min/
    max/sum of ids, weights from the per-lang counts."""
    h = (
        "('0x' || substring(md5('fold' || '|' || CAST(doc_id AS VARCHAR)), 1, 15))"
        f"::BIGINT % {_KF_K}"
    )
    return (
        f"WITH f AS (SELECT doc_id, lang, {h} AS fold FROM documents), "
        "cls AS (SELECT lang, count(*) AS n_lang FROM documents GROUP BY lang), "
        "tot AS (SELECT sum(n_lang) AS n_total, count(*) AS n_cls FROM cls) "
        "SELECT f.fold, f.lang, count(*) AS n, "
        "CAST(min(f.doc_id) AS BIGINT) AS min_id, "
        "CAST(max(f.doc_id) AS BIGINT) AS max_id, "
        "CAST(sum(f.doc_id) AS BIGINT) AS sum_id, "
        + _q3("any_value(tot.n_total / (tot.n_cls * CAST(cls.n_lang AS DOUBLE)) * 1000)")
        + " AS w_mille_q "
        "FROM f JOIN cls USING (lang) CROSS JOIN tot "
        "GROUP BY f.fold, f.lang"
    )


def q_kfold_weights(spark, sf_dir):
    """k-fold assignment + balanced class weights in one summary
    (pipeline/sample.py kfold_assign/class_weights): per (fold, lang)
    membership pinned EXACT-BY-ID (min/max/sum of surviving ids — the
    stratified_sample precedent) with the label's inverse-frequency
    weight carried along via a broadcast join."""
    docs = _docs(spark, sf_dir).select("doc_id", "lang")
    folded = pl.kfold_assign(docs, k=_KF_K)
    w = pl.class_weights(docs, label_col="lang")
    j = folded.join(
        F.broadcast(w.select(F.col("label").alias("lang"), "weight")), "lang"
    )
    return j.groupBy("fold", "lang").agg(
        F.count(F.lit(1)).alias("n"),
        F.min("doc_id").cast("long").alias("min_id"),
        F.max("doc_id").cast("long").alias("max_id"),
        F.sum("doc_id").cast("long").alias("sum_id"),
        _q3_col(F.first("weight") * 1000).alias("w_mille_q"),
    )


def _rolling_median_oracle() -> str:
    span = _ROLL_WIN_S * 1_000_000
    frame = (
        f"OVER (PARTITION BY user_id ORDER BY t_us "
        f"RANGE BETWEEN {span} PRECEDING AND CURRENT ROW)"
    )
    return (
        "WITH e AS (SELECT user_id, epoch_us(ts) AS t_us, "
        "CAST(value AS DOUBLE) AS v FROM events) "
        "SELECT user_id, t_us, "
        f"CAST(count(*) {frame} AS BIGINT) AS roll_count, "
        + _q3(f"quantile_cont(v, 0.5) {frame}")
        + " AS median_q FROM e"
    )


def q_rolling_median(spark, sf_dir):
    """Trailing 6-hour rolling MEDIAN per user (operators/tsstats.py
    rolling_stats stats=('count','median')): the exact
    linear-interpolation median as a RANGE-frame window aggregate —
    the robust smoother medfilt's index-based kernel cannot express on
    irregular instants; same single ordered exchange as the other
    rolling statistics."""
    res = ops.rolling_stats(
        _events(spark, sf_dir),
        by=["user_id"],
        dim="ts",
        window=_ROLL_WIN_S,
        stats=("count", "median"),
    )
    return res.select(
        "user_id",
        "t_us",
        "roll_count",
        _q3_col(F.col("roll_median")).alias("median_q"),
    )


def _qnorm_oracle() -> str:
    return (
        "SELECT user_id, epoch_us(ts) AS t_us, "
        + _q3(
            "percent_rank() OVER (PARTITION BY user_id ORDER BY value ASC) * 1000"
        )
        + " AS qn_mille FROM events"
    )


def q_quantile_normalize(spark, sf_dir):
    """Per-user rank-uniformization of event values (pipeline/sample.py
    quantile_normalize — percent_rank over one ordered window; the
    distribution-free normalization both engines define identically)."""
    ev = _events(spark, sf_dir)
    res = pl.quantile_normalize(ev, value="value", by="user_id")
    return res.select(
        "user_id",
        timeutil.epoch_us(res, "ts").alias("t_us"),
        _q3_col(F.col("value_qn") * 1000).alias("qn_mille"),
    )


_NGC_N, _NGC_TOP = 3, 200


def _ngram_counts_oracle() -> str:
    """DuckDB twin of pipeline.text.ngram_counts(n=3, top=200): same
    whitespace tokenizer, positional trigram expansion, deterministic
    (cnt DESC, gram ASC) cap."""
    return (
        f"WITH {_TOKS}, "
        "g AS (SELECT unnest(list_transform(range(1, len(tk) - 1), "
        "i -> tk[i] || ' ' || tk[i + 1] || ' ' || tk[i + 2])) AS gram "
        f"FROM toks WHERE len(tk) >= {_NGC_N}) "
        "SELECT gram, count(*) AS cnt FROM g GROUP BY gram "
        f"ORDER BY cnt DESC, gram ASC LIMIT {_NGC_TOP}"
    )


def q_ngram_counts(spark, sf_dir):
    """Corpus trigram frequency table, top-200 by (count DESC, gram
    ASC) (pipeline/text.py ngram_counts) — one explode + one
    map-side-combinable count shuffle; skewed grams still combine
    map-side, unlike a join key."""
    res = pl.ngram_counts(_docs(spark, sf_dir), n=_NGC_N, top=_NGC_TOP)
    return res.select("gram", "cnt")


def _char_entropy_oracle() -> str:
    """DuckDB twin of pipeline.text.char_entropy: identical per-char
    count aggregation and the same two-sum algebra
    (log2 n − Σ c·log2 c / n)."""
    return (
        "WITH ch AS (SELECT doc_id, unnest(string_split(text, '')) AS c "
        "FROM documents WHERE length(text) > 0), "
        "cnt AS (SELECT doc_id, c, count(*) AS n FROM ch GROUP BY doc_id, c), "
        "agg AS (SELECT doc_id, CAST(sum(n) AS BIGINT) AS n_chars, "
        "sum(n * log2(n)) AS clogc FROM cnt GROUP BY doc_id) "
        "SELECT doc_id, n_chars, "
        + _q3("log2(n_chars) - clogc / n_chars")
        + " AS entropy_q FROM agg"
    )


def q_char_entropy(spark, sf_dir):
    """Per-document character-level Shannon entropy (pipeline/text.py
    char_entropy) — the cheap junk detector: two map-side-combinable
    aggregations, shuffle bounded by docs × alphabet, never total
    characters."""
    res = pl.char_entropy(_docs(spark, sf_dir))
    return res.select(
        "doc_id",
        F.col("n_chars").cast("long").alias("n_chars"),
        _q3_col(F.col("entropy_bits")).alias("entropy_q"),
    )


_ASP_N, _ASP_SR, _ASP_AMP = 128, 8000, 0.8


def _audio_spectral_oracle() -> str:
    """Literal-DFT twin of pipeline.multimodal.audio_spectral_features
    on per-doc bin-exact tones: sample j = round(0.8·32767·sin(2πkj/n))
    / 32768 (the int16 encode→decode arithmetic, mirrored exactly),
    magnitude spectrum by O(n²) DFT, then the same centroid/bandwidth/
    peak/flatness arithmetic. peak_hz is closed-form k·sr/n; the other
    features carry deterministic quantization leakage both engines
    reproduce to ~1e-9."""
    n, sr, a = _ASP_N, _ASP_SR, _ASP_AMP
    return (
        f"WITH d AS (SELECT doc_id, 3 + doc_id % 40 AS k FROM documents), "
        f"s AS (SELECT doc_id, k, j, "
        f"round({a!r} * 32767 * sin(2 * pi() * k * j / {n})) / 32768.0 AS v "
        f"FROM d CROSS JOIN (SELECT unnest(range({n})) AS j) u), "
        f"spec AS (SELECT doc_id, k, b.m, "
        f"sqrt(pow(sum(v * cos(2 * pi() * j * b.m / {n})), 2) "
        f"   + pow(sum(v * sin(2 * pi() * j * b.m / {n})), 2)) AS mag "
        f"FROM s CROSS JOIN (SELECT unnest(range(1, {n // 2 + 1})) AS m) b "
        "GROUP BY doc_id, k, b.m), "
        f"f AS (SELECT doc_id, k, m, mag, m * ({sr} / CAST({n} AS DOUBLE)) AS fr "
        "FROM spec), "
        "agg AS (SELECT doc_id, any_value(k) AS k, sum(mag) AS tot, "
        "sum(fr * mag) AS wf, arg_max(fr, mag) AS peak_hz, "
        "avg(mag) AS am, exp(avg(ln(greatest(mag, 1e-30)))) AS gm "
        "FROM f GROUP BY doc_id), "
        "c AS (SELECT doc_id, k, tot, wf / tot AS centroid, peak_hz, gm / am AS flat "
        "FROM agg), "
        "bw AS (SELECT f.doc_id, sqrt(sum(pow(f.fr - c.centroid, 2) * f.mag) "
        "/ any_value(c.tot)) AS bandwidth "
        "FROM f JOIN c USING (doc_id) GROUP BY f.doc_id) "
        "SELECT c.doc_id, c.k, "
        + _q3("c.centroid")
        + " AS centroid_q, "
        + _q3("bw.bandwidth")
        + " AS bandwidth_q, round(c.peak_hz, 4) + 0.0 AS peak_hz4, "
        + _q3("c.flat * 1000")
        + " AS flat_mille_q "
        "FROM c JOIN bw USING (doc_id)"
    )


def q_audio_spectral(spark, sf_dir):
    """REAL audio feature extraction end-to-end: per doc a bin-exact
    int16 PCM tone (k = 3 + doc_id % 40 cycles over 128 samples) is
    WAV-encoded, decoded back, and summarized by
    pipeline/multimodal.py audio_spectral_features (rfft magnitude →
    centroid/bandwidth/peak/flatness). The oracle recomputes the
    identical int16-quantized samples and their literal DFT in SQL —
    peak lands exactly on k·sr/n and even the quantization-leakage
    noise in centroid/bandwidth matches to the quantum."""
    import numpy as _np
    import pandas as _pd

    from xarray_scipy_spark.pipeline.hashes import spread as _spread

    n, sr, amp = _ASP_N, _ASP_SR, _ASP_AMP
    docs = _spread(_docs(spark, sf_dir).select("doc_id"), "doc_id")

    def tone(row):
        k = 3 + int(row.doc_id) % 40
        pcm = _np.round(amp * 32767 * _np.sin(2 * _np.pi * k * _np.arange(n) / n))
        return _wav(pcm.astype("<i2").tobytes(), sr)

    withp = _with_payloads(docs, tone)

    def feats(batches):
        from xarray_scipy_spark.pipeline.multimodal import (
            audio_spectral_features,
        )

        for pdf in batches:
            rows = []
            for d, payload in zip(pdf["doc_id"], pdf["payload"]):
                c, b, p, fl = audio_spectral_features(bytes(payload))
                rows.append((int(d), c, b, p, fl))
            yield _pd.DataFrame(
                rows, columns=["doc_id", "c", "b", "p", "fl"]
            )

    res = withp.mapInPandas(
        feats, "doc_id bigint, c double, b double, p double, fl double"
    )
    return res.select(
        "doc_id",
        (F.lit(3) + F.col("doc_id") % 40).cast("bigint").alias("k"),
        _q3_col(F.col("c")).alias("centroid_q"),
        _q3_col(F.col("b")).alias("bandwidth_q"),
        _r("p", 4, "peak_hz4"),
        _q3_col(F.col("fl") * 1000).alias("flat_mille_q"),
    )


_IVJ_DAY_US = 86_400_000_000


def _interval_join_oracle() -> str:
    """Naive overlap-predicate join twin of operators.joins
    interval_join on per-(user, day, event-type) activity spans — the
    chunked exactly-once plan must reproduce it pair-for-pair."""
    return (
        "WITH sp AS (SELECT user_id, event_type, "
        f"epoch_us(ts) // {_IVJ_DAY_US} AS day, "
        "min(epoch_us(ts)) AS s, max(epoch_us(ts)) AS e "
        "FROM events GROUP BY user_id, event_type, day) "
        "SELECT a.day, a.user_id AS ua, "
        "a.event_type AS type_a, b.event_type AS type_b, "
        + _q3("(least(a.e, b.e) - greatest(a.s, b.s)) / 1000000.0")
        + " AS overlap_q "
        "FROM sp a JOIN sp b ON a.day = b.day AND a.user_id = b.user_id "
        "AND a.event_type < b.event_type "
        "AND a.s <= b.e AND b.s <= a.e"
    )


def q_interval_join(spark, sf_dir):
    """Which activity phases co-occur, per user-day: per-(user, day,
    event-type) spans overlap-joined against themselves keyed (user,
    day) (operators/joins.py interval_join — both sides chunk-exploded
    onto a 6 h grid, equi hash join, each overlapping pair emitted
    exactly once at the chunk of its later start; no CartesianProduct,
    no dedup shuffle). The demo keys the self-join on (user, day)
    DELIBERATELY: the r9 tier sweep caught the earlier all-users-per-
    day shape producing output QUADRATIC in users (17 M pairs at
    sf0.1, 1.7 B at the 10× tier — ×100 rows for ×10 data); with the
    join keyed per user the output is ≤ C(|event types|, 2) rows per
    (user, day) — linear in users at any scale, which is the shape an
    interval join must be given to survive 100 TB."""
    ev = load_table(spark, "events", sf_dir).select(
        "user_id", "ts", "event_type"
    )
    t = timeutil.epoch_us(ev, "ts")
    sp = (
        ev.select("user_id", "event_type", t.alias("t"))
        .withColumn("day", F.expr(f"t div {_IVJ_DAY_US}"))
        .groupBy("user_id", "event_type", "day")
        .agg(F.min("t").alias("s"), F.max("t").alias("e"))
    )
    j = ops.interval_join(
        sp,
        sp,
        left_start="s",
        left_end="e",
        right_start="s",
        right_end="e",
        on=["user_id", "day"],
        granularity=21_600_000_000,
    )
    j = j.filter(F.col("event_type") < F.col("event_type_right"))
    overlap = (
        F.least(F.col("e"), F.col("e_right"))
        - F.greatest(F.col("s"), F.col("s_right"))
    ) / F.lit(1_000_000.0)
    return j.select(
        "day",
        F.col("user_id").alias("ua"),
        F.col("event_type").alias("type_a"),
        F.col("event_type_right").alias("type_b"),
        _q3_col(overlap).alias("overlap_q"),
    )


_URL_EXPR_SQL = (
    "'HTTPS://Site' || CAST(doc_id % 7 AS VARCHAR) || '.Example.COM/page/' "
    "|| CAST(doc_id % 50 AS VARCHAR) || '/?utm_source=x&id=' "
    "|| CAST(doc_id % 25 AS VARCHAR) || '#frag'"
)


def _url_dedup_oracle() -> str:
    """DuckDB twin of pipeline.text.canonical_url applied to the
    synthetic per-doc URLs, mirroring the Spark regex pipeline step
    for step (head lowercase, fragment strip, tracking-param strip,
    separator tidy, trailing slash)."""
    c = f"({_URL_EXPR_SQL})"
    c = (
        f"lower(regexp_extract({c}, '^([a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]*)', 1)) || "
        f"substring({_URL_EXPR_SQL}, length(regexp_extract({_URL_EXPR_SQL}, "
        "'^([a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]*)', 1)) + 1)"
    )
    for pat, rep in (
        (r"#.*$", ""),
        (r"([?&])(utm_[A-Za-z0-9_]*|gclid|fbclid|ref)=[^&#]*", r"\1"),
        (r"&{2,}", "&"),
        (r"\?&", "?"),
        (r"[?&]+$", ""),
        (r"(.+[^/])/$", r"\1"),
    ):
        c = f"regexp_replace({c}, '{pat}', '{rep}', 'g')"
    return (
        f"WITH u AS (SELECT doc_id, {c} AS cu FROM documents) "
        "SELECT cu, count(*) AS n_docs, CAST(min(doc_id) AS BIGINT) AS keep_id "
        "FROM u GROUP BY cu"
    )


def q_url_canonical_dedup(spark, sf_dir):
    """Crawl-style URL canonicalization + dedup-by-canonical-key
    (pipeline/text.py canonical_url): synthetic per-doc URLs with
    mixed case, tracking params and fragments collapse onto their
    canonical form; one hash aggregation keeps the count and the
    minimum doc id per canonical URL — the re-crawl compaction key."""
    docs = _docs(spark, sf_dir).select("doc_id")
    url = F.concat(
        F.lit("HTTPS://Site"),
        (F.col("doc_id") % 7).cast("string"),
        F.lit(".Example.COM/page/"),
        (F.col("doc_id") % 50).cast("string"),
        F.lit("/?utm_source=x&id="),
        (F.col("doc_id") % 25).cast("string"),
        F.lit("#frag"),
    )
    withu = docs.withColumn("u", url)
    res = withu.select(pl.canonical_url("u").alias("cu"), "doc_id")
    return res.groupBy("cu").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.min("doc_id").cast("long").alias("keep_id"),
    )


_WINS_LO, _WINS_HI = 0.05, 0.95


def _winsorize_oracle() -> str:
    return (
        "WITH b AS (SELECT user_id, "
        f"quantile_cont(value, {_WINS_LO!r}) AS lo, "
        f"quantile_cont(value, {_WINS_HI!r}) AS hi FROM events GROUP BY user_id) "
        "SELECT e.user_id, epoch_us(e.ts) AS t_us, "
        + _q3("greatest(b.lo, least(b.hi, CAST(e.value AS DOUBLE)))")
        + " AS w_q FROM events e JOIN b USING (user_id)"
    )


def q_winsorize(spark, sf_dir):
    """Per-user exact-quantile winsorization at [5%, 95%]
    (pipeline/text.py winsorize_by_group — one tiny percentile
    aggregate broadcast back, clip as pure projection)."""
    ev = _events(spark, sf_dir)
    res = pl.winsorize_by_group(
        ev, value="value", by="user_id", lower=_WINS_LO, upper=_WINS_HI
    )
    return res.select(
        "user_id",
        timeutil.epoch_us(res, "ts").alias("t_us"),
        _q3_col(F.col("value_wins")).alias("w_q"),
    )


def _clean_text_oracle() -> str:
    aug = "text || chr(7) || '  trailing   ' || chr(0) || chr(10) || chr(10) || chr(10) || chr(10) || 'end' || chr(127)"
    c = f"({aug})"
    # RE2 rewrite strings know only \1-\9 and \\ — a newline in the
    # REPLACEMENT must be a literal newline character in the SQL string
    for pat, rep in (
        (r"[\x00-\x08\x0B-\x1F\x7F-\x9F]", ""),
        (r"[ \t]+", " "),
        (r" ?\n ?", "\n"),
        (r"\n{3,}", "\n\n"),
    ):
        c = f"regexp_replace({c}, '{pat}', '{rep}', 'g')"
    c = f"trim({c})"
    return (
        f"SELECT doc_id, CAST(length({aug}) - length({c}) AS BIGINT) AS n_removed, "
        f"md5({c}) AS clean_md5 FROM documents"
    )


def q_clean_text(spark, sf_dir):
    """JVM-side text normalization (pipeline/text.py clean_text):
    control-char strip, whitespace collapse, blank-line squeeze, trim
    — applied to documents augmented with deterministic control-char
    noise; the oracle pins the md5 of every cleaned document and the
    removed-char count."""
    docs = _docs(spark, sf_dir).select("doc_id", "text")
    aug = F.concat(
        F.col("text"),
        F.expr("char(7)"),
        F.lit("  trailing   "),
        F.expr("char(0)"),
        F.lit("\n\n\n\n"),
        F.lit("end"),
        F.expr("char(127)"),
    )
    res = pl.clean_text(docs.withColumn("text", aug))
    return res.select(
        "doc_id",
        F.col("n_removed").cast("long").alias("n_removed"),
        F.md5(F.col("text_clean")).alias("clean_md5"),
    )


def q_sketch_hll_merge(spark, sf_dir):
    """Re-aggregation invariance — THE property that makes sketches
    100 TB primitives: per-(flag, ship-month) HLL register shards
    (pipeline/sketches.py hll_registers, the mergeable layer) merged
    down to per-flag states (hll_merge, max per bucket) must equal the
    single-pass per-flag state byte-for-byte. The oracle is the SAME
    direct-computation SQL as sketch_hll — merged-from-shards vs
    computed-at-once."""
    li = load_table(spark, "lineitem", sf_dir).select(
        F.col("l_returnflag").alias("rf"),
        F.date_trunc("month", F.col("l_shipdate")).alias("mon"),
        F.col("l_orderkey").cast("string").alias("k"),
    )
    shards = pl.hll_registers(li, "k", by=["rf", "mon"], p=_HLL_P)
    return pl.hll_merge(shards, by="rf", p=_HLL_P)


_GQ_QS = (0.1, 0.25, 0.5, 0.75, 0.9)


def _group_quantiles_oracle() -> str:
    """DuckDB quantile_cont twin — Spark's exact percentile aggregate
    uses the identical linear-interpolation definition (measured
    bit-equal; quantized anyway per protocol)."""
    selects = [
        f"SELECT user_id, {q!r} AS q, quantile_cont(value, {q!r}) AS v "
        "FROM events GROUP BY user_id"
        for q in _GQ_QS
    ]
    return (
        "SELECT user_id, "
        + _q3("q * 1000")
        + " AS q_mille, "
        + _q3("v")
        + " AS v_q FROM ("
        + " UNION ALL ".join(selects)
        + ")"
    )


def q_group_quantiles(spark, sf_dir):
    """EXACT per-user quantiles at five probe points
    (pipeline/sample.py group_quantiles — Spark's percentile
    aggregate, the linear-interpolation definition DuckDB's
    quantile_cont shares). The exact end of the quantile question; the
    histogram sketch is the bounded-state end."""
    res = pl.group_quantiles(
        _events(spark, sf_dir), value="value", qs=list(_GQ_QS), by="user_id"
    )
    return res.select(
        "user_id",
        _q3_col(F.col("q") * 1000).alias("q_mille"),
        _q3_col(F.col("quantile")).alias("v_q"),
    )


_ROLL_WIN_S = 21_600  # 6-hour trailing range window


def _rolling_oracle() -> str:
    """DuckDB twin of operators.tsstats.rolling_stats: the same
    RANGE-frame window over the epoch-µs axis."""
    span = _ROLL_WIN_S * 1_000_000
    frame = (
        f"OVER (PARTITION BY user_id ORDER BY t_us "
        f"RANGE BETWEEN {span} PRECEDING AND CURRENT ROW)"
    )
    return (
        "WITH e AS (SELECT user_id, epoch_us(ts) AS t_us, "
        "CAST(value AS DOUBLE) AS v FROM events) "
        "SELECT user_id, t_us, "
        f"CAST(count(*) {frame} AS BIGINT) AS roll_count, "
        + _q3(f"sum(v) {frame}")
        + " AS sum_q, "
        + _q3(f"avg(v) {frame}")
        + " AS mean_q, "
        + _q3(f"min(v) {frame}")
        + " AS min_q, "
        + _q3(f"max(v) {frame}")
        + " AS max_q FROM e"
    )


def q_rolling_stats(spark, sf_dir):
    """Trailing 6-hour time-RANGE rolling statistics per user
    (operators/tsstats.py rolling_stats): the rangeBetween window
    surface — every statistic rides ONE ordered exchange; row-count
    frames would be wrong on these irregular event times."""
    res = ops.rolling_stats(
        _events(spark, sf_dir), by=["user_id"], dim="ts", window=_ROLL_WIN_S
    )
    return res.select(
        "user_id",
        "t_us",
        F.col("roll_count").alias("roll_count"),
        _q3_col(F.col("roll_sum")).alias("sum_q"),
        _q3_col(F.col("roll_mean")).alias("mean_q"),
        _q3_col(F.col("roll_min")).alias("min_q"),
        _q3_col(F.col("roll_max")).alias("max_q"),
    )


_NEG_K = 4


def _negatives_oracle() -> str:
    """DuckDB twin of pipeline.sample.sample_negatives(k=4,
    payload=[lang]): identical md5 slot hash, dense-id modulo, and
    +1 self-collision step; lang joined from the NEGATIVE doc."""
    h = (
        "('0x' || substring(md5('neg' || '|' || CAST(doc_id AS VARCHAR) "
        "|| '|' || CAST(neg_slot AS VARCHAR)), 1, 15))::BIGINT"
    )
    return (
        "WITH nn AS (SELECT max(doc_id) + 1 AS n FROM documents), "
        f"s AS (SELECT doc_id, unnest(range({_NEG_K})) AS neg_slot FROM documents), "
        f"c AS (SELECT doc_id, neg_slot, {h} % (SELECT n FROM nn) AS cand FROM s), "
        "g AS (SELECT doc_id, neg_slot, CASE WHEN cand = doc_id "
        "THEN (cand + 1) % (SELECT n FROM nn) ELSE cand END AS neg_id FROM c) "
        "SELECT g.doc_id, CAST(g.neg_slot AS INTEGER) AS neg_slot, g.neg_id, "
        "d.lang FROM g JOIN documents d ON d.doc_id = g.neg_id"
    )


def q_sample_negatives(spark, sf_dir):
    """Contrastive/DPO negative-pair mining (pipeline/sample.py
    sample_negatives): 4 deterministic salted-hash negatives per
    anchor over the dense doc-id space, self-hits stepped, the
    negative doc's lang joined on with one hash join — exact-by-id
    like every sampler in the module."""
    res = pl.sample_negatives(_docs(spark, sf_dir), k=_NEG_K, payload=["lang"])
    return res.select(
        "doc_id",
        F.col("neg_slot").cast("int").alias("neg_slot"),
        "neg_id",
        "lang",
    )


def _video_frames_oracle() -> str:
    """Closed-form twin of the MJPEG frame-sample query: frame f of
    doc d is a constant 8×8 block of value (d*31 + f*17) % 256 — DC
    only, exact under the all-ones quant table (FIXTURES.md §6) — so
    the sampled frames' decoded means are the formula values."""
    return (
        "WITH n AS (SELECT doc_id, 2 + doc_id % 4 AS n_frames FROM documents), "
        "f AS (SELECT doc_id, unnest(range(0, n_frames, 2)) AS frame_idx FROM n) "
        "SELECT doc_id, CAST(frame_idx AS INTEGER) AS frame_idx, "
        "round(CAST((doc_id * 31 + frame_idx * 17) % 256 AS DOUBLE), 4) + 0.0 "
        "AS f0_4 FROM f"
    )


def q_multimodal_video_frames(spark, sf_dir):
    """REAL video path end-to-end: each doc gets a RIFF/AVI
    Motion-JPEG container (pipeline/multimodal.py encode_avi_mjpeg)
    of 2-5 constant 8×8 DC-only frames, frame_sample(codec='mjpeg')
    demuxes the movi chunks, samples every 2nd frame, and decodes it
    through the in-repo baseline-JPEG decoder — the oracle recomputes
    each sampled frame's exact pixel mean from the generating
    formula."""
    from xarray_scipy_spark.pipeline.hashes import spread as _spread
    from xarray_scipy_spark.pipeline.multimodal import encode_avi_mjpeg

    docs = _spread(_docs(spark, sf_dir).select("doc_id"), "doc_id")

    def avi(row):
        d = int(row.doc_id)
        frames = range(2 + d % 4)
        return encode_avi_mjpeg(
            [np.full((8, 8), (d * 31 + f * 17) % 256, dtype=np.uint8) for f in frames]
        )

    with_payload = _with_payloads(docs, avi)
    res = pl.frame_sample(with_payload, every=2, codec="mjpeg")
    return res.select("doc_id", "frame_idx", _r("f0", 4, "f0_4"))


# --- gap-fill / regular-grid resampling ------------------------------------

_GF_DT_S = 21_600  # 6-hour grid over the ~29-day event span (~117/user)


def _gapfill_oracle() -> str:
    """DuckDB twin of operators.timegrid.gapfill on events (6 h grid):
    the same union-of-grid-and-observations + one ordered window with
    running last/first-ignore-nulls brackets, identical interpolation
    op order ((v1-v0) * dt_num / dt_den, diff ratio last)."""
    step = _GF_DT_S * 1_000_000
    return (
        "WITH e AS (SELECT user_id, epoch_us(ts) AS t, value AS v FROM events), "
        "rng AS (SELECT user_id, min(t) AS t0, max(t) AS t1 FROM e GROUP BY user_id), "
        f"grid AS (SELECT user_id, unnest(range(t0, t1 + 1, {step})) AS t FROM rng), "
        "u AS (SELECT user_id, t, v, 1 AS obs FROM e "
        "UNION ALL SELECT user_id, t, CAST(NULL AS DOUBLE) AS v, 0 AS obs FROM grid), "
        "f AS (SELECT user_id, t, obs, "
        "last_value(v IGNORE NULLS) OVER w_back AS v0, "
        "last_value(CASE WHEN v IS NOT NULL THEN t END IGNORE NULLS) OVER w_back AS pt, "
        "first_value(v IGNORE NULLS) OVER w_fwd AS v1, "
        "first_value(CASE WHEN v IS NOT NULL THEN t END IGNORE NULLS) OVER w_fwd AS nt "
        "FROM u WINDOW "
        "w_back AS (PARTITION BY user_id ORDER BY t, obs DESC "
        "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), "
        "w_fwd AS (PARTITION BY user_id ORDER BY t, obs DESC "
        "ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)), "
        "sel AS (SELECT user_id, t, "
        "CASE WHEN t = pt THEN v0 WHEN nt IS NULL THEN v0 "
        "ELSE v0 + (v1 - v0) * CAST(t - pt AS DOUBLE) / CAST(nt - pt AS DOUBLE) "
        "END AS lin, v0 AS ff FROM f WHERE obs = 0) "
        "SELECT 'linear' AS variant, user_id, t AS t_us, "
        + _q3("lin")
        + " AS v_q FROM sel "
        "UNION ALL SELECT 'ffill' AS variant, user_id, t AS t_us, "
        + _q3("ff")
        + " AS v_q FROM sel"
    )


def q_gapfill(spark, sf_dir):
    """Regular-grid resampling of the irregular event series (6 h
    grid): linear interpolation + last-observation-carried-forward
    (operators/timegrid.py gapfill_variants — both fill methods are
    pure projections over the same bracketing columns, so ONE grid +
    ordered-window pass emits the two variant tags via an inline
    array explode; the r15 per-variant union re-ran the scan, grid
    and window once per method — plan 4 scans / 2 windows → 2 / 1,
    r16)."""
    ev = _events(spark, sf_dir)
    res = ops.gapfill_variants(
        ev,
        by=["user_id"],
        dim="ts",
        value="value",
        dt=_GF_DT_S,
        methods=("linear", "ffill"),
    )
    return res.select(
        "variant",
        "user_id",
        timeutil.epoch_us(res, "ts").alias("t_us"),
        _q3_col(F.col("value")).alias("v_q"),
    )


# --- skew-diffused join ------------------------------------------------------

_SKEW_PIVOT = 75  # user_id <= pivot collapses to key 0 -> ~half the rows


def _skew_join_oracle() -> str:
    """Plain-join DuckDB mirror: salting must be invisible in the
    result — the oracle IS the unsalted join."""
    return (
        "WITH l AS (SELECT event_id, "
        f"CASE WHEN user_id <= {_SKEW_PIVOT} THEN 0 ELSE user_id END AS k, "
        "value FROM events), "
        "r AS (SELECT k, count(*) AS k_n, avg(value) AS k_avg FROM l GROUP BY k) "
        "SELECT l.event_id, l.k, r.k_n, "
        + _q3("r.k_avg")
        + " AS k_avg_q FROM l JOIN r USING (k)"
    )


def q_skew_join(spark, sf_dir):
    """Hot-key-salted equi-join (operators/joins.py skew_join): half
    the events collapse onto key 0 (the pathological sentinel-key
    shape), the join right side is the per-key profile, and the salted
    plan must reproduce the plain join row-for-row while spreading
    key 0 across 8 salt buckets."""
    ev = load_table(spark, "events", sf_dir).select("event_id", "user_id", "value")
    left = ev.select(
        "event_id",
        F.when(F.col("user_id") <= _SKEW_PIVOT, 0)
        .otherwise(F.col("user_id"))
        .alias("k"),
        "value",
    )
    right = left.groupBy("k").agg(
        F.count(F.lit(1)).alias("k_n"), F.avg("value").alias("k_avg")
    )
    res = ops.skew_join(
        left, right, on=["k"], left_id="event_id", salt=8, hot_threshold=1000
    )
    return res.select(
        "event_id", "k", "k_n", _q3_col(F.col("k_avg")).alias("k_avg_q")
    )


_HG_LO, _HG_HI, _HG_BINS = 0.0, 500.0, 256


def _histogram_oracle() -> str:
    """DuckDB twin of pipeline.sketches.histogram_sketch over event
    values per event_type: identical floor((x-lo)*bins/(hi-lo)) bin
    arithmetic, BIGINT counts only."""
    raw = f"floor((value - {_HG_LO!r}) * {float(_HG_BINS)!r} / {_HG_HI - _HG_LO!r})"
    return (
        "WITH b AS (SELECT event_type, CAST(CASE "
        f"WHEN {raw} < 0 THEN -1 "
        f"WHEN {raw} > {_HG_BINS} THEN {_HG_BINS} "
        f"ELSE {raw} END AS INTEGER) AS bin FROM events) "
        "SELECT event_type, bin, count(*) AS cnt FROM b "
        "GROUP BY event_type, bin"
    )


def q_sketch_histogram(spark, sf_dir):
    """Fixed-bin histogram state per event_type (pipeline/sketches.py
    histogram_sketch) — the one-pass bounded-state quantile machinery;
    the contract compares the exact BIGINT bin counts."""
    ev = load_table(spark, "events", sf_dir).select("event_type", "value")
    return pl.histogram_sketch(
        ev, "value", lo=_HG_LO, hi=_HG_HI, bins=_HG_BINS, by="event_type"
    )


# --- feature-hashed TF-IDF vectors -------------------------------------------


_HV_DIM = 64


def _hash_vectors_oracle() -> str:
    """DuckDB twin of pipeline.text.hashed_tfidf_vectors(dim=64):
    identical md5 slot/sign hashes and smoothed-idf weights; per-slot
    sums and the L2 norm are group aggregates whose float summation
    order differs between engines, so outputs are epsilon-floor
    quantized (the text_logprob precedent)."""
    d = _HV_DIM
    slot = f"('0x' || substring(md5('fh|' || tf.tok), 1, 15))::BIGINT % {d}"
    sign = (
        f"(CASE WHEN ('0x' || substring(md5('fhs|' || tf.tok), 1, 15))::BIGINT % 2 = 0 "
        "THEN 1.0 ELSE -1.0 END)"
    )
    return (
        f"WITH {_TOKS}, "
        "tok AS (SELECT doc_id, unnest(tk) AS tok FROM toks), "
        "tf AS (SELECT doc_id, tok, count(*) AS tf FROM tok GROUP BY doc_id, tok), "
        "dl AS (SELECT doc_id, sum(tf) AS n_tok FROM tf GROUP BY doc_id), "
        "dfq AS (SELECT tok, count(*) AS df FROM tf GROUP BY tok), "
        "nd AS (SELECT count(DISTINCT doc_id) AS n FROM documents), "
        f"w AS (SELECT tf.doc_id, {slot} AS slot, "
        f"{sign} * (tf.tf / dl.n_tok) * (ln((nd.n + 1) / (dfq.df + 1)) + 1.0) AS w "
        "FROM tf JOIN dl USING (doc_id) JOIN dfq USING (tok) CROSS JOIN nd), "
        "sw AS (SELECT doc_id, slot, sum(w) AS w FROM w GROUP BY doc_id, slot), "
        "nrm AS (SELECT doc_id, sqrt(sum(w * w)) AS nn FROM sw GROUP BY doc_id), "
        "slots AS (SELECT d.doc_id, u.slot FROM documents d "
        f"CROSS JOIN (SELECT unnest(range({d})) AS slot) u) "
        "SELECT s.doc_id, CAST(s.slot AS BIGINT) AS slot, "
        + _q3(
            "coalesce(CASE WHEN n.nn > 0 THEN sw.w / n.nn ELSE 0.0 END, 0.0)"
        )
        + " AS w_q "
        "FROM slots s LEFT JOIN sw ON sw.doc_id = s.doc_id AND sw.slot = s.slot "
        "LEFT JOIN nrm n ON n.doc_id = s.doc_id"
    )


def q_text_hash_vectors(spark, sf_dir):
    """Feature-hashed TF-IDF document vectors (pipeline/text.py
    hashed_tfidf_vectors, dim=64) exploded to (doc_id, slot, w_q) —
    the model-free text→embedding bridge into the ANN/dedup stack."""
    res = pl.hashed_tfidf_vectors(_docs(spark, sf_dir), dim=_HV_DIM)
    return res.select(
        "doc_id", F.posexplode(F.col("vec")).alias("slot", "w")
    ).select("doc_id", F.col("slot").cast("bigint").alias("slot"), _q3_col(F.col("w")).alias("w_q"))


# --- Lomb-Scargle ------------------------------------------------------------

_LS_FREQS = (1e-5, 5e-5, 1e-4, 5e-4)  # rad/s against the ~29-day span


def _lombscargle_oracle() -> str:
    """DuckDB twin of operators.lomb.lombscargle (precenter +
    normalize): the same five trig sums per (user, freq) and the same
    tau rotation, epsilon-floor quantized (libm sin/cos differ across
    engines in ulps; the quantum is 11 orders above the noise)."""
    freqs_sql = ", ".join(
        f"({i}, {w!r})" for i, w in enumerate(_LS_FREQS)
    )
    return (
        "WITH e AS (SELECT user_id, epoch_us(ts) / 1000000.0 AS t, value AS y "
        "FROM events), "
        "c AS (SELECT user_id, t, y - avg(y) OVER (PARTITION BY user_id) AS y "
        "FROM e), "
        f"f(idx, w) AS (VALUES {freqs_sql}), "
        "s AS (SELECT user_id, idx, w, "
        "sum(y * cos(w * t)) AS yc, sum(y * sin(w * t)) AS ys, "
        "sum(cos(w * t) * cos(w * t)) AS cc, "
        "sum(sin(w * t) * sin(w * t)) AS ss, "
        "sum(sin(w * t) * cos(w * t)) AS sc, "
        "sum(y * y) AS yy "
        "FROM c CROSS JOIN f GROUP BY user_id, idx, w), "
        "r AS (SELECT user_id, idx, w, yc, ys, cc, ss, sc, yy, "
        "0.5 * atan2(2.0 * sc, cc - ss) AS wtau FROM s), "
        "p AS (SELECT user_id, idx, "
        "0.5 * ("
        " pow(cos(wtau) * yc + sin(wtau) * ys, 2) / "
        "  (cos(wtau) * cos(wtau) * cc + 2.0 * cos(wtau) * sin(wtau) * sc "
        "   + sin(wtau) * sin(wtau) * ss) "
        " + pow(cos(wtau) * ys - sin(wtau) * yc, 2) / "
        "  (sin(wtau) * sin(wtau) * cc - 2.0 * cos(wtau) * sin(wtau) * sc "
        "   + cos(wtau) * cos(wtau) * ss)"
        ") / (0.5 * yy) AS power FROM r) "
        "SELECT user_id, CAST(idx AS BIGINT) AS idx, "
        + _q3("power")
        + " AS power_q FROM p"
    )


def q_lombscargle(spark, sf_dir):
    """Lomb-Scargle periodogram of the IRREGULAR event series at four
    angular frequencies (operators/lomb.py — one aggregation per
    (series, freq) via the angle-addition collapse; no gap-filling,
    no equispaced assumption). precenter+normalize; power quantized at
    1e-3 (trig libm noise is ~1e-14)."""
    res = ops.lombscargle(
        _events(spark, sf_dir),
        list(_LS_FREQS),
        by=["user_id"],
        dim="ts",
        precenter=True,
        normalize=True,
    )
    return res.select(
        "user_id",
        F.col("idx").cast("bigint").alias("idx"),
        _q3_col(F.col("power")).alias("power_q"),
    )


# --- classical time-series stats ---------------------------------------------

_ACF_NLAGS = 8
_EWMA_ALPHA = 0.3


def _acf_oracle() -> str:
    """DuckDB twin of operators.tsstats.acf (biased, mean-centered):
    lag cross-products as window columns (DuckDB cannot nest a window
    fn inside sum()), then one group aggregate; _q3 quantized
    (summation order differs between engines)."""
    k = _ACF_NLAGS
    prods = ", ".join(
        f"d * lag(d, {j}) OVER w AS p{j}" for j in range(1, k + 1)
    )
    unions = " UNION ALL ".join(
        "SELECT user_id, "
        + (
            f"{j} AS lag, " + _q3(f"CASE WHEN c0 > 0 THEN c{j} / c0 ELSE 0.0 END")
            if j
            else f"{j} AS lag, " + _q3("1.0")
        )
        + " AS acf_q FROM g"
        for j in range(0, k + 1)
    )
    return (
        "WITH c AS (SELECT user_id, ts, "
        "value - avg(value) OVER (PARTITION BY user_id) AS d FROM events), "
        f"pr AS (SELECT user_id, d, {prods} FROM c "
        "WINDOW w AS (PARTITION BY user_id ORDER BY ts)), "
        "g AS (SELECT user_id, sum(d * d) AS c0, "
        + ", ".join(f"sum(p{j}) AS c{j}" for j in range(1, k + 1))
        + " FROM pr GROUP BY user_id) "
        + unions
    )


def q_acf(spark, sf_dir):
    """Per-series autocorrelation at lags 0..8 (operators/tsstats.py
    acf — one ordered-window exchange, lag products as window columns,
    one aggregate)."""
    res = ops.acf(_events(spark, sf_dir), by=["user_id"], dim="ts", nlags=_ACF_NLAGS)
    return res.select(
        "user_id",
        F.col("lag").cast("bigint").alias("lag"),
        _q3_col(F.col("acf")).alias("acf_q"),
    )


def _ewma_oracle() -> str:
    """DuckDB twin of operators.tsstats.ewma, both adjust modes in one
    variant union. The zero-state one-pole filter is the join-sum over
    the geometric impulse response h[m] = α(1−α)^m (the lfilter oracle
    pattern, truncated where the tap underflows quantization); the
    adjust=False correction and the adjust=True weight normalization
    are the same closed forms the Spark side projects."""
    al = _EWMA_ALPHA
    # (1-0.3)^m < 1e-12 after ~78 taps; 120 gives margin
    h = al * (1.0 - al) ** np.arange(120)
    return (
        f"WITH {_S}, {_values_cte('h', 'hv', h)}, "
        "z AS ("
        "  SELECT xi.user_id, xi.j, any_value(xi.x) AS x, sum(h.hv * xj.x) AS zv"
        "  FROM s xi JOIN h ON h.m <= xi.j"
        "  JOIN s xj ON xj.user_id = xi.user_id AND xj.j = xi.j - h.m"
        "  GROUP BY xi.user_id, xi.j"
        "), "
        "x0 AS (SELECT user_id, x AS x0 FROM s WHERE j = 0) "
        "SELECT 'recursive' AS variant, z.user_id, z.j AS idx, "
        + _q3(f"z.zv + pow({1.0 - al!r}, z.j) * {1.0 - al!r} * x0.x0")
        + " AS ewma_q FROM z JOIN x0 ON x0.user_id = z.user_id "
        "UNION ALL "
        "SELECT 'adjust' AS variant, user_id, j AS idx, "
        + _q3(
            f"zv / ({al!r} * (1.0 - pow({1.0 - al!r}, j + 1)) / {al!r})"
        )
        + " AS ewma_q FROM z"
    )


def q_ewma(spark, sf_dir):
    """Exponentially weighted moving average, recursive (pandas
    adjust=False) + adjusted variants in one union
    (operators/tsstats.py ewma — the verified ragged one-pole lfilter
    kernel + closed-form projections)."""
    ev = _events(spark, sf_dir)
    out = []
    for tag, adj in (("recursive", False), ("adjust", True)):
        res = ops.ewma(ev, _EWMA_ALPHA, by=["user_id"], dim="ts", adjust=adj)
        out.append(
            res.select(
                F.lit(tag).alias("variant"),
                "user_id",
                "idx",
                _q3_col(F.col("ewma")).alias("ewma_q"),
            )
        )
    return out[0].unionAll(out[1])


_SD_PERIOD = 12


def _seasonal_oracle() -> str:
    """DuckDB twin of operators.tsstats.seasonal_decompose (additive,
    even period 12): the same centered [0.5, 1.., 0.5]/p window sum,
    per-phase detrended means, re-centering, and residual; _q3
    quantized (window/group summation order)."""
    p2 = _SD_PERIOD
    half = p2 // 2
    return (
        f"WITH {_S}, "
        "t AS (SELECT user_id, j, x, CASE WHEN "
        f"count(x) OVER wf = {2 * half + 1} THEN "
        f"(sum(x) OVER wi + 0.5 * (lag(x, {half}) OVER wo + lead(x, {half}) OVER wo)) / {float(p2)!r} "
        "END AS trend FROM s WINDOW "
        f"wf AS (PARTITION BY user_id ORDER BY j ROWS BETWEEN {half} PRECEDING AND {half} FOLLOWING), "
        f"wi AS (PARTITION BY user_id ORDER BY j ROWS BETWEEN {half - 1} PRECEDING AND {half - 1} FOLLOWING), "
        "wo AS (PARTITION BY user_id ORDER BY j)), "
        f"d AS (SELECT user_id, j, x, trend, x - trend AS detr, j % {p2} AS ph FROM t), "
        "pm AS (SELECT user_id, ph, avg(detr) AS pmv FROM d GROUP BY user_id, ph), "
        "pc AS (SELECT user_id, avg(pmv) AS pcv FROM pm GROUP BY user_id) "
        "SELECT d.user_id, d.j AS idx, "
        + _q3("pm.pmv - pc.pcv")
        + " AS seasonal_q, "
        + _q3("coalesce(d.trend, 0.0)")
        + " AS trend_q, "
        + _q3("coalesce(d.x - d.trend - (pm.pmv - pc.pcv), 0.0)")
        + " AS resid_q, d.trend IS NULL AS edge "
        "FROM d JOIN pm ON pm.user_id = d.user_id AND pm.ph = d.ph "
        "JOIN pc ON pc.user_id = d.user_id"
    )


def q_seasonal_decompose(spark, sf_dir):
    """Classical additive seasonal decomposition at period 12
    (operators/tsstats.py seasonal_decompose — one ordered-window
    exchange for the centered-MA trend + one phase-mean aggregation,
    zero Python). Edge rows (trend undefined within period/2 of either
    end) are flagged and zero-coalesced in the quantized compare."""
    res = ops.seasonal_decompose(
        _events(spark, sf_dir), _SD_PERIOD, by=["user_id"], dim="ts"
    )
    return res.select(
        "user_id",
        F.col("idx").cast("bigint").alias("idx"),
        _q3_col(F.col("seasonal")).alias("seasonal_q"),
        _q3_col(F.coalesce(F.col("trend"), F.lit(0.0))).alias("trend_q"),
        _q3_col(F.coalesce(F.col("resid"), F.lit(0.0))).alias("resid_q"),
        F.col("trend").isNull().alias("edge"),
    )


_CAP_GROUPS, _CAP_N = 7, 40


def _cap_oracle() -> str:
    """DuckDB twin of pipeline.sample.cap_per_group: identical salted
    md5 ranking key (bit-exact uniform, the split_assign pattern), same
    row_number window, BIGINT output only."""
    u = "(('0x' || substring(md5('cap|' || CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT / 16.0 ^ 15)"
    return (
        f"WITH g AS (SELECT doc_id, doc_id % {_CAP_GROUPS} AS grp FROM documents), "
        "r AS (SELECT doc_id, grp, row_number() OVER ("
        f"PARTITION BY grp ORDER BY {u} ASC, doc_id ASC) AS rk FROM g) "
        f"SELECT grp, doc_id FROM r WHERE rk <= {_CAP_N}"
    )


def q_cap_per_group(spark, sf_dir):
    """Per-group document caps (pipeline/sample.py cap_per_group):
    synthetic 7-way grouping over documents, at most 40 kept per
    group by the salted-hash uniform — deterministic, rerun- and
    growth-stable."""
    docs = _docs(spark, sf_dir).select(
        "doc_id", (F.col("doc_id") % _CAP_GROUPS).alias("grp")
    )
    res = pl.cap_per_group(docs, by="grp", n=_CAP_N)
    return res.select("grp", "doc_id")


def _robust_z_oracle() -> str:
    """DuckDB twin of pipeline.sample.robust_zscore on event values per
    event_type: exact medians are order statistics — no summation-order
    noise — so the scores match bit-for-bit without quantization...
    except the 0.6745·(x−med)/MAD arithmetic itself, mirrored in the
    same op order; _q3 guards the residual division rounding."""
    return (
        "WITH m AS (SELECT event_type, median(value) AS med FROM events "
        "GROUP BY event_type), "
        "j AS (SELECT e.event_id, e.event_type, e.value, m.med FROM events e "
        "JOIN m USING (event_type)), "
        "md AS (SELECT event_type, median(abs(value - med)) AS mad FROM j "
        "GROUP BY event_type) "
        "SELECT j.event_id, j.event_type, "
        + _q3(
            "CASE WHEN md.mad > 0 THEN 0.6745 * (j.value - j.med) / md.mad "
            "ELSE 0.0 END"
        )
        + " AS rz_q, "
        "CASE WHEN md.mad > 0 THEN abs(0.6745 * (j.value - j.med) / md.mad) > 3.5 "
        "ELSE FALSE END AS is_out "
        "FROM j JOIN md USING (event_type)"
    )


def q_robust_zscore(spark, sf_dir):
    """Median/MAD robust outlier scores per event_type
    (pipeline/sample.py robust_zscore — exact order-statistic medians,
    3 group-key exchanges)."""
    ev = load_table(spark, "events", sf_dir).select(
        "event_id", "event_type", "value"
    )
    res = pl.robust_zscore(ev, "value", by="event_type", flag_col="is_out")
    return res.select(
        "event_id", "event_type", _q3_col(F.col("rz")).alias("rz_q"), "is_out"
    )


_MHX_MOD = 3  # doc_id % 3 == 0 -> the "snapshot" side; else the new shard


def _minhash_cross_oracle() -> str:
    """DuckDB twin of pipeline.dedup.minhash_pairs_cross on a 1/3-2/3
    split of documents: the registered dedup_minhash oracle's banding,
    with candidates restricted to cross-side pairs."""
    from .pipeline.hashes import MINHASH_P, minhash_coeffs

    rows = _MINHASH_N // _MINHASH_BANDS
    mins = ", ".join(
        f"min(({a} * x + {b}) % {MINHASH_P}) AS mh_{i}"
        for i, (a, b) in enumerate(minhash_coeffs(_MINHASH_N))
    )
    band_selects = " UNION ALL ".join(
        f"SELECT doc_id, side, {b} AS band, md5("
        + " || '|' || ".join(
            f"CAST(mh_{b * rows + r} AS VARCHAR)" for r in range(rows)
        )
        + ") AS band_hash FROM sigs"
        for b in range(_MINHASH_BANDS)
    )
    return f"""
WITH {_TOKS}, {_SHINGLES},
inv AS (SELECT doc_id, doc_id % {_MHX_MOD} = 0 AS side, sh,
               ('0x' || substring(md5(sh), 1, 8))::BIGINT AS x
        FROM (SELECT doc_id, unnest(shingles) AS sh FROM sh)),
sigs AS (SELECT doc_id, any_value(side) AS side, {mins} FROM inv GROUP BY doc_id),
bands AS ({band_selects}),
cand AS (
  SELECT DISTINCT a.doc_id AS left_id, b.doc_id AS right_id
  FROM bands a JOIN bands b
    ON a.band = b.band AND a.band_hash = b.band_hash
   AND NOT a.side AND b.side
)
SELECT left_id, right_id, jaccard FROM (
  SELECT c.left_id, c.right_id,
         len(list_intersect(sa.shingles, sb.shingles))
           / len(list_distinct(list_concat(sa.shingles, sb.shingles))) AS jaccard
  FROM cand c
  JOIN sh sa ON sa.doc_id = c.left_id
  JOIN sh sb ON sb.doc_id = c.right_id
) WHERE jaccard >= {_MINHASH_THRESHOLD}
"""


def q_dedup_minhash_cross(spark, sf_dir):
    """Incremental dedup: the 2/3 "new shard" of documents matched
    against the 1/3 "snapshot" side via cross-corpus banded LSH
    (pipeline/dedup.py minhash_pairs_cross — cross-side pairs only,
    the snapshot never self-pairs)."""
    docs = _docs(spark, sf_dir)
    left = docs.filter(F.col("doc_id") % _MHX_MOD != 0)
    right = docs.filter(F.col("doc_id") % _MHX_MOD == 0)
    return pl.minhash_pairs_cross(
        left,
        right,
        num_hashes=_MINHASH_N,
        bands=_MINHASH_BANDS,
        threshold=_MINHASH_THRESHOLD,
    )


def _cube_oracle() -> str:
    """DuckDB CUBE mirror: decimal sums are exact, so no quantization;
    GROUPING() markers disambiguate real NULL groups from rollup rows
    (both engines follow the standard)."""
    return (
        "SELECT coalesce(CAST(l_returnflag AS VARCHAR), '<all>') AS rf, "
        "coalesce(CAST(l_linestatus AS VARCHAR), '<all>') AS ls, "
        "CAST(grouping(l_returnflag) AS BIGINT) AS g_rf, "
        "CAST(grouping(l_linestatus) AS BIGINT) AS g_ls, "
        "count(*) AS n, sum(l_quantity) AS sum_qty, "
        "sum(l_extendedprice) AS sum_price "
        "FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)"
    )


def q_cube_revenue(spark, sf_dir):
    """CUBE aggregation over (returnflag, linestatus) — the grouping-
    sets surface (§2.3 'aggregations: grouping sets/cube/rollup'),
    with GROUPING() markers and exact decimal sums."""
    li = load_table(spark, "lineitem", sf_dir)
    return (
        li.cube("l_returnflag", "l_linestatus")
        .agg(
            F.grouping("l_returnflag").cast("bigint").alias("g_rf"),
            F.grouping("l_linestatus").cast("bigint").alias("g_ls"),
            F.count(F.lit(1)).alias("n"),
            F.sum("l_quantity").alias("sum_qty"),
            F.sum("l_extendedprice").alias("sum_price"),
        )
        .select(
            F.coalesce(F.col("l_returnflag").cast("string"), F.lit("<all>")).alias("rf"),
            F.coalesce(F.col("l_linestatus").cast("string"), F.lit("<all>")).alias("ls"),
            "g_rf",
            "g_ls",
            "n",
            "sum_qty",
            "sum_price",
        )
    )


_FQ_Q, _FQ_LO, _FQ_HI, _FQ_BINS = 0.8, 0.0, 500.0, 256


def _filter_quantile_oracle() -> str:
    """DuckDB twin of pipeline.sketches.filter_by_quantile: the same
    histogram state, windowed cumulative walk, and bin-edge
    interpolation in the IDENTICAL float op order, so even the kept
    row SET matches bit-for-bit; the threshold itself is _q3-emitted."""
    q, lo, hi, b = _FQ_Q, _FQ_LO, _FQ_HI, _FQ_BINS
    raw = f"floor((value - {lo!r}) * {float(b)!r} / {hi - lo!r})"
    width = (hi - lo) / b
    return (
        "WITH h0 AS (SELECT event_type, CAST(CASE "
        f"WHEN {raw} < 0 THEN -1 WHEN {raw} > {b} THEN {b} "
        f"ELSE {raw} END AS INTEGER) AS bin FROM events), "
        "hist AS (SELECT event_type, bin, count(*) AS cnt FROM h0 "
        "GROUP BY event_type, bin), "
        "ann AS (SELECT event_type, bin, cnt, "
        "sum(cnt) OVER (PARTITION BY event_type ORDER BY bin "
        "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum, "
        "sum(cnt) OVER (PARTITION BY event_type ORDER BY bin "
        "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - cnt AS prev, "
        f"{q!r} * sum(cnt) OVER (PARTITION BY event_type) AS rawtgt, "
        f"greatest({q!r} * sum(cnt) OVER (PARTITION BY event_type), 1e-12) AS tgt "
        "FROM hist), "
        "thr AS (SELECT event_type, CASE "
        f"WHEN bin < 0 THEN {lo!r} WHEN bin >= {b} THEN {hi!r} "
        f"ELSE {lo!r} + (bin + (CASE WHEN cnt > 0 THEN "
        "greatest((rawtgt - prev) / cnt, 0.0) ELSE 0.0 END)) "
        f"* {width!r} END AS t "
        "FROM ann WHERE cum >= tgt AND prev < tgt) "
        "SELECT e.event_id, e.event_type, "
        + _q3("t.t")
        + " AS thr_q "
        "FROM events e JOIN thr t USING (event_type) WHERE e.value >= t.t"
    )


def q_filter_by_quantile(spark, sf_dir):
    """Histogram-sketch quantile gate: keep events above their
    event_type's 0.8 quantile (pipeline/sketches.py
    filter_by_quantile — the no-sort percentile threshold; even the
    kept row set reproduces byte-for-byte because the whole decision
    is exact bin integers + one fixed float formula)."""
    ev = load_table(spark, "events", sf_dir).select(
        "event_id", "event_type", "value"
    )
    res = pl.filter_by_quantile(
        ev,
        "value",
        _FQ_Q,
        lo=_FQ_LO,
        hi=_FQ_HI,
        bins=_FQ_BINS,
        by="event_type",
        threshold_col="thr",
    )
    return res.select(
        "event_id", "event_type", _q3_col(F.col("thr")).alias("thr_q")
    )


_IT_SHIFT_US = 3_600_000_000  # evaluate each series one hour after each event


def _interp_to_oracle() -> str:
    """DuckDB twin of operators.timegrid.interp_to: the same
    union-of-observations-and-targets + one ordered window, identical
    interpolation op order; targets = every event instant shifted one
    hour forward (so interior, exact-hit-free, and past-the-end cases
    all occur)."""
    return (
        "WITH e AS (SELECT user_id, epoch_us(ts) AS t, value AS v FROM events), "
        f"g AS (SELECT user_id, t + {_IT_SHIFT_US} AS t FROM e), "
        "u AS (SELECT user_id, t, v, 1 AS obs FROM e "
        "UNION ALL SELECT user_id, t, CAST(NULL AS DOUBLE), 0 FROM g), "
        "f AS (SELECT user_id, t, obs, "
        "last_value(v IGNORE NULLS) OVER w_back AS v0, "
        "last_value(CASE WHEN v IS NOT NULL THEN t END IGNORE NULLS) OVER w_back AS pt, "
        "first_value(v IGNORE NULLS) OVER w_fwd AS v1, "
        "first_value(CASE WHEN v IS NOT NULL THEN t END IGNORE NULLS) OVER w_fwd AS nt "
        "FROM u WINDOW "
        "w_back AS (PARTITION BY user_id ORDER BY t, obs DESC "
        "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), "
        "w_fwd AS (PARTITION BY user_id ORDER BY t, obs DESC "
        "ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)) "
        "SELECT user_id, t AS t_us, "
        + _q3(
            "coalesce(CASE WHEN t = pt THEN v0 WHEN nt IS NULL THEN v0 "
            "WHEN pt IS NULL THEN NULL "
            "ELSE v0 + (v1 - v0) * CAST(t - pt AS DOUBLE) / CAST(nt - pt AS DOUBLE) "
            "END, 0.0)"
        )
        + " AS v_q, pt IS NULL AS before_first "
        "FROM f WHERE obs = 0"
    )


def q_interp_to(spark, sf_dir):
    """Arbitrary-target interpolation (operators/timegrid.py
    interp_to): every event series evaluated one hour after each of
    its own events — union + one ordered window, no join node.
    Null-before-first flagged and zero-coalesced in the quantized
    compare."""
    ev = _events(spark, sf_dir)
    targets = ev.select(
        "user_id",
        F.expr("timestampadd(MICROSECOND, 3600000000, ts)").alias("ts"),
    )
    res = ops.interp_to(ev, targets, by=["user_id"], dim="ts")
    return res.select(
        "user_id",
        timeutil.epoch_us(res, "ts").alias("t_us"),
        _q3_col(F.coalesce(F.col("value"), F.lit(0.0))).alias("v_q"),
        F.col("value").isNull().alias("before_first"),
    )


# --- variant-family unions ---------------------------------------------------
# Each union calls the plain q_* functions as literal unionAll branches;
# each oracle wraps the constituent oracles in derived tables (DuckDB
# WINDOW must not scope across UNION branches).


# --- relational coverage + LLM-pipeline additions ----------------------------
# Semi-join + having-join TPC-H shapes (Q4/Q18), per-group regression as
# pure aggregate algebra, triangle counting (the non-iterative graph
# member), sequence packing (the concat-and-chunk layout every LLM
# pre-training run needs), and the inverted-index build.

_Q4_D1, _Q4_D2 = "1996-01-01", "1997-01-01"
_Q4_LATE_DAYS = 60


def _tpch_q4_oracle() -> str:
    return (
        "SELECT o_orderpriority, count(*) AS n_orders FROM orders o "
        f"WHERE o_orderdate >= TIMESTAMP '{_Q4_D1}' "
        f"AND o_orderdate < TIMESTAMP '{_Q4_D2}' "
        "AND EXISTS (SELECT 1 FROM lineitem l "
        "WHERE l.l_orderkey = o.o_orderkey "
        f"AND l.l_shipdate >= o.o_orderdate + INTERVAL {_Q4_LATE_DAYS} DAY) "
        "GROUP BY o_orderpriority"
    )


def q_tpch_q4(spark, sf_dir):
    """Order-priority checking (TPC-H Q4 shape, adapted to this
    schema's columns: 'late' = some line shipped >= 60 days after the
    order date). The EXISTS becomes a LEFT SEMI hash join — one shuffle
    of each side on the order key, the date inequality evaluated on
    matched pairs, and the priority count partial-aggregates map-side.
    At 100 TB both sides are fact-sized, so semi-join (which never
    duplicates or carries right columns) is the only sane plan — it
    also deduplicates multi-line matches for free."""
    orders = load_table(spark, "orders", sf_dir).filter(
        (F.col("o_orderdate") >= F.lit(_Q4_D1).cast("timestamp_ntz"))
        & (F.col("o_orderdate") < F.lit(_Q4_D2).cast("timestamp_ntz"))
    )
    li = load_table(spark, "lineitem", sf_dir).select("l_orderkey", "l_shipdate")
    late = orders.join(
        li,
        (orders.o_orderkey == li.l_orderkey)
        & (
            li.l_shipdate
            >= orders.o_orderdate + F.expr(f"INTERVAL {_Q4_LATE_DAYS} DAYS")
        ),
        "left_semi",
    )
    return late.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_orders")
    )


_Q18_QTY = 250


def _tpch_q18_oracle() -> str:
    return (
        "SELECT o_orderkey, c_custkey, CAST(o_orderdate AS VARCHAR) AS o_orderdate, "
        "o_totalprice, CAST(sum_qty AS DOUBLE) AS sum_qty "
        "FROM (SELECT l_orderkey, "
        "sum(CAST(l_quantity AS DECIMAL(18,2))) AS sum_qty "
        f"FROM lineitem GROUP BY l_orderkey HAVING sum_qty > {_Q18_QTY}) big "
        "JOIN orders ON o_orderkey = l_orderkey "
        "JOIN customer ON c_custkey = o_custkey "
        "ORDER BY o_totalprice DESC, o_orderkey LIMIT 100"
    )


def q_tpch_q18(spark, sf_dir):
    """Large-volume customers (TPC-H Q18 shape): aggregate-then-join —
    the HAVING filter shrinks lineitem to the rare big orders BEFORE
    any join touches orders/customer, so the joins carry ~1% of the
    keys; decimal sums keep the threshold and output exact across
    engines; top-100 via orderBy+limit plans as TakeOrderedAndProject
    (per-partition heaps, no global sort)."""
    big = (
        load_table(spark, "lineitem", sf_dir)
        .groupBy("l_orderkey")
        .agg(
            F.sum(F.col("l_quantity").cast("decimal(18,2)")).alias("_qd")
        )
        .filter(F.col("_qd") > _Q18_QTY)
    )
    orders = load_table(spark, "orders", sf_dir).select(
        "o_orderkey", "o_custkey", "o_orderdate", "o_totalprice"
    )
    cust = load_table(spark, "customer", sf_dir).select("c_custkey")
    j = big.join(orders, big.l_orderkey == orders.o_orderkey).join(
        cust, orders.o_custkey == cust.c_custkey
    )
    return (
        j.orderBy(F.col("o_totalprice").desc(), "o_orderkey")
        .limit(100)
        .select(
            "o_orderkey",
            "c_custkey",
            F.date_format("o_orderdate", "yyyy-MM-dd HH:mm:ss").alias(
                "o_orderdate"
            ),
            "o_totalprice",
            F.col("_qd").cast("double").alias("sum_qty"),
        )
    )


# x = days since 2024-01-01 (epoch day 19723): |x| <= ~31 keeps the
# n·Σx² − (Σx)² cancellation far above FP noise, so the _q3 lattice
# guard holds (see grouped_ols docstring).
_OLS_X = "epoch_us(ts) / 86400000000.0 - 19723.0"


def _grouped_ols_oracle() -> str:
    return (
        f"WITH b AS (SELECT user_id, event_type, {_OLS_X} AS x, "
        "value AS y FROM events), "
        "a AS (SELECT user_id, event_type, count(*) AS n, "
        "sum(x) AS sx, sum(y) AS sy, sum(x*y) AS sxy, "
        "sum(x*x) AS sxx, sum(y*y) AS syy FROM b GROUP BY user_id, event_type) "
        "SELECT user_id, event_type, n, "
        + _q3(
            "CASE WHEN n >= 2 AND n*sxx - sx*sx > 0 "
            "THEN (n*sxy - sx*sy) / (n*sxx - sx*sx) END"
        )
        + " AS slope_q, "
        + _q3(
            "CASE WHEN n >= 2 AND n*sxx - sx*sx > 0 "
            "THEN (sy - (n*sxy - sx*sy) / (n*sxx - sx*sx) * sx) / n END"
        )
        + " AS icept_q, "
        + _q3(
            "CASE WHEN n >= 2 AND n*sxx - sx*sx > 0 AND n*syy - sy*sy > 0 "
            "THEN (n*sxy - sx*sy)*(n*sxy - sx*sy) / "
            "((n*sxx - sx*sx) * (n*syy - sy*sy)) END"
        )
        + " AS r2_q FROM a"
    )


def q_grouped_ols(spark, sf_dir):
    """Per-(user, event_type) trend fit: value regressed on time
    (pipeline/linear.py grouped_ols) — ONE map-side-combinable
    aggregation carrying five sufficient statistics per group; the
    oracle runs the identical normal-equations algebra, so agreement is
    FP-exact under the _q3 lattice."""
    ev = load_table(spark, "events", sf_dir).select(
        "user_id", "event_type", "ts", "value"
    )
    ev = ev.withColumn(
        "x",
        timeutil.epoch_us(ev, "ts") / F.lit(86400000000.0) - F.lit(19723.0),
    )
    res = pl.grouped_ols(
        ev, group_cols=["user_id", "event_type"], x_col="x", y_col="value"
    )
    return res.select(
        "user_id",
        "event_type",
        "n",
        _q3_col(F.col("slope")).alias("slope_q"),
        _q3_col(F.col("intercept")).alias("icept_q"),
        _q3_col(F.col("r2")).alias("r2_q"),
    )


_TRI_MOD = 400
_TRI_KEEP = 4  # keep canonical pairs with (a*31 + b) % _TRI_KEEP == 0


def _triangle_oracle() -> str:
    """Independent formulation on purpose: the oracle counts triangles
    by the plain canonical-id 3-join (x < y < z once each), NOT the
    degree orientation the Spark operator uses — the two agreeing is a
    genuine cross-check of the orientation logic, not an echo."""
    m, k = _TRI_MOD, _TRI_KEEP
    return (
        "WITH pr AS (SELECT DISTINCT "
        f"least(a.l_partkey % {m}, b.l_partkey % {m}) AS a, "
        f"greatest(a.l_partkey % {m}, b.l_partkey % {m}) AS b "
        "FROM lineitem a JOIN lineitem b ON a.l_orderkey = b.l_orderkey "
        "AND a.l_linenumber < b.l_linenumber "
        f"WHERE a.l_partkey % {m} <> b.l_partkey % {m}), "
        f"e AS (SELECT a, b FROM pr WHERE (a*31 + b) % {k} = 0), "
        "t AS (SELECT e1.a AS x, e1.b AS y, e2.b AS z "
        "FROM e e1 JOIN e e2 ON e2.a = e1.b "
        "JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b) "
        "SELECT node, count(*) AS n_tri FROM ("
        "SELECT x AS node FROM t UNION ALL "
        "SELECT y AS node FROM t UNION ALL "
        "SELECT z AS node FROM t) GROUP BY node"
    )


def q_triangle_count(spark, sf_dir):
    """Per-node triangle counts on the sampled co-purchase graph
    (parts sharing an order, ids folded mod 400, 1-in-4 canonical-pair
    sample) via pipeline/graph.py triangle_count — degree-ordered
    orientation bounds wedge candidates at m^1.5 regardless of hub
    degree, each stage a plain shuffled hash join."""
    m = _TRI_MOD
    li = load_table(spark, "lineitem", sf_dir).select(
        "l_orderkey",
        "l_linenumber",
        (F.col("l_partkey") % m).alias("pk"),
    )
    a, b = li.alias("a"), li.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.l_linenumber") < F.col("b.l_linenumber")),
        )
        .select(
            F.least(F.col("a.pk"), F.col("b.pk")).alias("src"),
            F.greatest(F.col("a.pk"), F.col("b.pk")).alias("dst"),
        )
        .filter(F.col("src") != F.col("dst"))
        .filter((F.col("src") * 31 + F.col("dst")) % _TRI_KEEP == 0)
    )
    return pl.triangle_count(pairs, src="src", dst="dst")


_PACK_LEN = 512
_PACK_BUCKETS = 64


def _sequence_pack_oracle() -> str:
    # Every derived column is CAST to BIGINT: DuckDB's integer sum()
    # (incl. the running-sum window) yields HUGEINT, which // and %
    # propagate; pandas renders HUGEINT as float64, so without the
    # casts the driver's value hash sees float bytes against Spark's
    # int64 even though every value is equal (the r10 hash-fail —
    # VERDICT r10 #1; the local checker's int-vs-float value compare
    # masked it until the strict-dtype mode was added alongside).
    ln = _PACK_LEN
    return (
        "WITH t AS (SELECT doc_id, "
        "len(list_filter(string_split(text, ' '), t -> t <> '')) AS n_tok "
        "FROM documents), "
        "c AS (SELECT doc_id, n_tok, "
        "CAST(sum(n_tok) OVER (ORDER BY doc_id ROWS UNBOUNDED PRECEDING) "
        "- n_tok AS BIGINT) AS s FROM t) "
        "SELECT doc_id, n_tok, "
        f"CAST(s // {ln} AS BIGINT) AS start_bin, "
        f"CAST(s % {ln} AS BIGINT) AS start_off, "
        f"CAST(CASE WHEN n_tok > 0 THEN (s + n_tok - 1) // {ln} "
        f"ELSE s // {ln} END AS BIGINT) AS end_bin, "
        f"CAST(CASE WHEN n_tok > 0 THEN (s + n_tok - 1) // {ln} - s // {ln} + 1 "
        "ELSE 0 END AS BIGINT) AS n_bins FROM c"
    )


def q_sequence_pack(spark, sf_dir):
    """Concat-and-chunk sequence packing of the documents table into
    512-token bins (pipeline/pack.py): the global running token sum is
    the two-level bucket scan — per-bucket windows in parallel plus one
    64-row offset aggregate — while the oracle's single global window
    is exactly the single-reducer plan the operator exists to avoid."""
    # NO spread() here, unlike postings: the per-row work is ONE
    # size(split) expression, and the 10x A/B measured every spread
    # placement as a loss (no_spread 0.68 s vs spread-before-tokenize
    # 1.08 s vs spread-after-count 0.93 s — the exchange costs more
    # than 2-task tokenizing saves; real inputs arrive sharded anyway)
    docs = _docs(spark, sf_dir).select(
        "doc_id", F.size(pl.hashes.tokens(F.col("text"))).alias("n_tok")
    )
    return pl.pack_documents(
        docs,
        id_col="doc_id",
        size_col="n_tok",
        seq_len=_PACK_LEN,
        buckets=_PACK_BUCKETS,
    )


_POSTINGS_MIN_DF = 2


def _text_postings_oracle() -> str:
    return (
        f"WITH {_TOKS}, "
        "e AS (SELECT doc_id, unnest(tk) AS token FROM toks), "
        "per AS (SELECT token, doc_id, count(*) AS tf "
        "FROM e GROUP BY token, doc_id), "
        "r AS (SELECT *, row_number() OVER (PARTITION BY token "
        "ORDER BY tf DESC, doc_id) AS rn FROM per) "
        "SELECT token, count(*) AS df, "
        "CAST(sum(tf) AS BIGINT) AS tf_total, max(tf) AS max_tf, "
        "max(CASE WHEN rn = 1 THEN doc_id END) AS top_doc, "
        "CAST(sum(doc_id * tf) AS BIGINT) AS postings_sum "
        f"FROM r GROUP BY token HAVING count(*) >= {_POSTINGS_MIN_DF}"
    )


def q_text_postings(spark, sf_dir):
    """Inverted-index build over documents (pipeline/text.py postings):
    per-token posting-list summaries — df, total/max tf, deterministic
    top document, and an order-invariant Σ doc·tf checksum that pins
    the full posting list content. Two stacked map-side-combinable
    aggregations; the oracle takes the window-function route to the
    same summary."""
    res = pl.postings(_docs(spark, sf_dir), min_df=_POSTINGS_MIN_DF)
    return res.select(
        "token",
        "df",
        F.col("tf_total").cast("bigint").alias("tf_total"),
        "max_tf",
        "top_doc",
        F.col("postings_sum").cast("bigint").alias("postings_sum"),
    )


# --- retrieval, typo-dedup, and relational coverage --------------------------
# BM25 ranking on the inverted-index layer, character-level near-dup via
# deletion-neighborhood blocking (the FastSS construction), PIVOT,
# anti-join (NOT EXISTS), and semi-structured JSON extraction.

_ED_PREFIX = 24  # compare lowercased fixed-width prefixes
_ED_MAX = 2


def _edit_join_oracle() -> str:
    """Deliberately brute-force (length-banded all-pairs levenshtein on
    the doc_id%4 subset) — independent of the operator's deletion-
    neighborhood blocking, so agreement proves the blocking lossless."""
    return (
        f"WITH p AS (SELECT doc_id, lower(text[:{_ED_PREFIX}]) AS s "
        f"FROM documents WHERE len(text) >= {_ED_PREFIX} AND doc_id % 4 = 0) "
        "SELECT a.doc_id AS a_id, b.doc_id AS b_id, "
        "CAST(levenshtein(a.s, b.s) AS BIGINT) AS dist "
        "FROM p a JOIN p b ON a.doc_id < b.doc_id "
        f"AND levenshtein(a.s, b.s) <= {_ED_MAX}"
    )


def q_edit_distance_join(spark, sf_dir):
    """Character-level near-dup pairs (Levenshtein <= 2 on lowercased
    24-char prefixes, doc_id%4 subset) via pipeline/dedup.py
    edit_distance_pairs — deletion-neighborhood blocking, no all-pairs
    stage; the oracle IS the all-pairs loop, so the cross-check also
    proves the neighborhood blocking has no false negatives."""
    d = _docs(spark, sf_dir).filter(
        (F.length("text") >= _ED_PREFIX) & (F.col("doc_id") % 4 == 0)
    ).select(
        "doc_id", F.lower(F.substring("text", 1, _ED_PREFIX)).alias("s")
    )
    res = pl.edit_distance_pairs(
        d, id_col="doc_id", str_col="s", max_dist=_ED_MAX
    )
    return res.select("a_id", "b_id", F.col("dist").cast("bigint").alias("dist"))


_BM25_TERMS = ("data", "query", "window", "stream")
_BM25_K1, _BM25_B = 1.2, 0.75


def _bm25_oracle() -> str:
    terms = ", ".join(f"'{t}'" for t in _BM25_TERMS)
    k1, b = _BM25_K1, _BM25_B
    return (
        f"WITH {_TOKS}, "
        "lens AS (SELECT doc_id, len(tk) AS dl FROM toks), "
        "stats AS (SELECT count(*) AS n, avg(dl) AS avgdl FROM lens), "
        "tf AS (SELECT doc_id, t AS term, count(*) AS tf "
        "FROM (SELECT doc_id, unnest(tk) AS t FROM toks) "
        f"WHERE t IN ({terms}) GROUP BY doc_id, t), "
        "dft AS (SELECT term, count(*) AS df FROM tf GROUP BY term) "
        "SELECT doc_id, count(*) AS n_match, "
        + _q3(
            f"sum(ln(1.0 + (n - df + 0.5) / (df + 0.5)) * tf * {k1 + 1.0} / "
            f"(tf + {k1} * ({1.0 - b} + {b} * dl / avgdl)))"
        )
        + " AS score_q "
        "FROM tf JOIN dft USING (term) JOIN lens USING (doc_id), stats "
        "GROUP BY doc_id"
    )


def q_bm25_scores(spark, sf_dir):
    """BM25 keyword relevance over documents (pipeline/text.py
    bm25_scores): postings filtered to the query terms BEFORE any
    shuffle, df/corpus-stats sides broadcast, one doc-keyed join —
    retrieval cost tracks matching postings, not the corpus."""
    res = pl.bm25_scores(
        _docs(spark, sf_dir), list(_BM25_TERMS), k1=_BM25_K1, b=_BM25_B
    )
    return res.select(
        "doc_id", "n_match", _q3_col(F.col("score")).alias("score_q")
    )


_PIVOT_TYPES = ("click", "error", "purchase", "signup", "view")


def _event_pivot_oracle() -> str:
    cols = []
    for t in _PIVOT_TYPES:
        cols.append(
            f"count(*) FILTER (event_type = '{t}') AS {t}_n"
        )
        cols.append(
            _q3(f"coalesce(sum(value) FILTER (event_type = '{t}'), 0.0)")
            + f" AS {t}_v"
        )
    return (
        "SELECT user_id, " + ", ".join(cols) + " FROM events GROUP BY user_id"
    )


def q_event_pivot(spark, sf_dir):
    """PIVOT coverage: per-user wide activity profile (count + summed
    value per event type) as ONE conditional aggregation — 2x5
    when-guarded partials in a single user-keyed exchange. Chosen over
    DataFrame.pivot deliberately: with pinned values, .pivot plans a
    (user, type) pre-aggregate + a pivotfirst aggregate = TWO
    exchanges (4 HashAggregates, inspected); the conditional form is
    the same answer one shuffle cheaper — the 100 TB shape for
    feature-store widening."""
    ev = load_table(spark, "events", sf_dir).select(
        "user_id", "event_type", "value"
    )
    aggs = []
    for t in _PIVOT_TYPES:
        hit = F.col("event_type") == t
        aggs.append(F.count(F.when(hit, F.lit(1))).alias(f"{t}_n"))
        aggs.append(
            _q3_col(
                F.coalesce(F.sum(F.when(hit, F.col("value"))), F.lit(0.0))
            ).alias(f"{t}_v")
        )
    return ev.groupBy("user_id").agg(*aggs)


_UNSHIP_DAYS = 7


def _orders_unshipped_oracle() -> str:
    return (
        "SELECT o_orderpriority, count(*) AS n_orders FROM orders o "
        "WHERE NOT EXISTS (SELECT 1 FROM lineitem l "
        "WHERE l.l_orderkey = o.o_orderkey "
        f"AND l.l_shipdate < o.o_orderdate + INTERVAL {_UNSHIP_DAYS} DAY) "
        "GROUP BY o_orderpriority"
    )


def q_orders_unshipped(spark, sf_dir):
    """Anti-join coverage (NOT EXISTS): orders with no lineitem shipped
    within a week, counted by priority. LEFT ANTI hash join — one
    shuffle per side on the order key, matched probe rows dropped
    early; the complement of tpch_q4's semi-join."""
    orders = load_table(spark, "orders", sf_dir)
    li = load_table(spark, "lineitem", sf_dir).select("l_orderkey", "l_shipdate")
    un = orders.join(
        li,
        (orders.o_orderkey == li.l_orderkey)
        & (
            li.l_shipdate
            < orders.o_orderdate + F.expr(f"INTERVAL {_UNSHIP_DAYS} DAYS")
        ),
        "left_anti",
    )
    return un.groupBy("o_orderpriority").agg(F.count(F.lit(1)).alias("n_orders"))


def _json_props_oracle() -> str:
    return (
        "SELECT event_type, count(k) AS n_with_k, "
        "min(k) AS min_k, max(k) AS max_k, CAST(sum(k) AS BIGINT) AS sum_k "
        "FROM (SELECT event_type, "
        "CAST(json_extract(props, '$.k') AS BIGINT) AS k FROM events) "
        "GROUP BY event_type"
    )


def q_json_props_stats(spark, sf_dir):
    """Semi-structured extraction coverage: per-event-type stats of the
    JSON payload's `k` field via get_json_object — the JSON path
    evaluation runs inside codegen as a per-row projection, then one
    map-side-combinable aggregate; no parse-to-struct materialization."""
    ev = load_table(spark, "events", sf_dir).select(
        "event_type",
        F.get_json_object("props", "$.k").cast("bigint").alias("k"),
    )
    return ev.groupBy("event_type").agg(
        F.count("k").alias("n_with_k"),
        F.min("k").alias("min_k"),
        F.max("k").alias("max_k"),
        F.sum("k").cast("bigint").alias("sum_k"),
    )


# --- variant-family unions with generic -1/0-padded columns ------------------


# --- CDC apply, analytics windows, set ops, ANN recall, sampling -------------

_CDC_DELETE = "error"  # event_type acting as the delete tombstone


def _cdc_apply_oracle() -> str:
    return (
        "SELECT user_id, event_type, epoch_us(ts) AS t_us, event_id, "
        + _q3("value")
        + " AS value_q FROM ("
        "SELECT *, row_number() OVER (PARTITION BY user_id "
        "ORDER BY ts DESC, event_id DESC) AS rn FROM events) "
        f"WHERE rn = 1 AND event_type <> '{_CDC_DELETE}'"
    )


def q_cdc_apply(spark, sf_dir):
    """Changelog materialization (pipeline/dedup.py apply_cdc): the
    events stream read as per-user upserts with 'error' as the delete
    tombstone — final state keeps each user's LAST change unless it
    deletes the key. ONE max(struct) aggregation (tombstones cost
    nothing extra); the oracle takes the row_number route."""
    ev = load_table(spark, "events", sf_dir).select(
        "user_id", "event_type", "ts", "event_id", "value"
    )
    res = pl.apply_cdc(
        ev,
        keys=["user_id"],
        order_col="ts",
        op_col="event_type",
        delete_op=_CDC_DELETE,
        tiebreak="event_id",
    )
    return res.select(
        "user_id",
        "event_type",
        timeutil.epoch_us(res, "ts").alias("t_us"),
        "event_id",
        _q3_col(F.col("value")).alias("value_q"),
    )


def _window_analytics_oracle() -> str:
    return (
        "SELECT user_id, epoch_us(ts) AS t_us, "
        "row_number() OVER w AS rn, ntile(4) OVER w AS nt4, "
        + _q3("percent_rank() OVER w") + " AS pr_q, "
        + _q3("cume_dist() OVER w") + " AS cd_q, "
        + _q3("coalesce(value - lag(value) OVER w, 0.0)") + " AS dlag_q, "
        + _q3("coalesce(lead(value) OVER w - value, 0.0)") + " AS dlead_q "
        "FROM events "
        "WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)"
    )


def q_window_analytics(spark, sf_dir):
    """Ranking/analytic window-function coverage in ONE window spec —
    row_number, ntile, percent_rank, cume_dist, lag/lead deltas all
    share a single (user, time)-sorted exchange; adding a function to
    the same spec is free, a second spec would be a second sort."""
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    ev = load_table(spark, "events", sf_dir)
    return ev.select(
        "user_id",
        timeutil.epoch_us(ev, "ts").alias("t_us"),
        F.row_number().over(w).alias("rn"),
        F.ntile(4).over(w).alias("nt4"),
        _q3_col(F.percent_rank().over(w)).alias("pr_q"),
        _q3_col(F.cume_dist().over(w)).alias("cd_q"),
        _q3_col(
            F.coalesce(F.col("value") - F.lag("value").over(w), F.lit(0.0))
        ).alias("dlag_q"),
        _q3_col(
            F.coalesce(F.lead("value").over(w) - F.col("value"), F.lit(0.0))
        ).alias("dlead_q"),
    )


_SETOP_SPLIT1 = "2024-01-08"
_SETOP_SPLIT2 = "2024-01-22"


def _setops_oracle() -> str:
    w1 = f"SELECT DISTINCT user_id FROM events WHERE ts < TIMESTAMP '{_SETOP_SPLIT1}'"
    w4 = f"SELECT DISTINCT user_id FROM events WHERE ts >= TIMESTAMP '{_SETOP_SPLIT2}'"
    return (
        f"SELECT 'retained' AS variant, user_id FROM (({w1}) INTERSECT ({w4})) "
        "UNION ALL "
        f"SELECT 'churned' AS variant, user_id FROM (({w1}) EXCEPT ({w4}))"
    )


def q_active_user_setops(spark, sf_dir):
    """Set-operation coverage: users active in the first week — split
    into INTERSECT (also active in the last week → retained) and
    EXCEPT (absent → churned). Catalyst rewrites both as aggregates +
    semi/anti joins — the distinct sides shrink map-side before the
    one shuffle each."""
    ev = load_table(spark, "events", sf_dir)
    w1 = ev.filter(
        F.col("ts") < F.lit(_SETOP_SPLIT1).cast("timestamp_ntz")
    ).select("user_id").distinct()
    w4 = ev.filter(
        F.col("ts") >= F.lit(_SETOP_SPLIT2).cast("timestamp_ntz")
    ).select("user_id").distinct()
    ret = w1.intersect(w4).select(
        F.lit("retained").alias("variant"), "user_id"
    )
    chu = w1.exceptAll(w4).select(
        F.lit("churned").alias("variant"), "user_id"
    )
    return ret.unionAll(chu)


def _ann_recall_oracle() -> str:
    return (
        "WITH ex AS (" + _ANN_COSINE_TOPK_ORACLE + "), "
        "ap AS (" + _ANN_COSINE_TOPK_IVF_ORACLE + "), "
        "hits AS (SELECT ex.query_id, count(ap.neighbor_id) AS n_hits, "
        "count(*) AS k FROM ex LEFT JOIN ap "
        "ON ex.query_id = ap.query_id AND ex.neighbor_id = ap.neighbor_id "
        "GROUP BY ex.query_id) "
        "SELECT query_id, n_hits, " + _q3("n_hits / CAST(k AS DOUBLE)")
        + " AS recall_q FROM hits"
    )


def q_ann_recall_eval(spark, sf_dir):
    """ANN quality measurement: recall@k of the IVF cell-probed index
    against the exact broadcast top-k, per query — the acceptance
    metric any approximate index must report before replacing the
    exact path at scale. Composes the two REGISTERED queries
    literally; one (query, neighbor) join over k·queries rows."""
    ex = q_ann_cosine_topk(spark, sf_dir).select(
        "query_id", F.col("neighbor_id").alias("n_ex")
    )
    ap = q_ann_cosine_topk_ivf(spark, sf_dir).select(
        "query_id", F.col("neighbor_id").alias("n_ap"), F.lit(1).alias("_hit")
    )
    j = ex.join(
        ap,
        (ex.query_id == ap.query_id) & (ex.n_ex == ap.n_ap),
        "left",
    ).select(ex.query_id, "_hit")
    return j.groupBy("query_id").agg(
        F.count("_hit").alias("n_hits"),
        _q3_col(
            F.count("_hit") / F.count(F.lit(1)).cast("double")
        ).alias("recall_q"),
    )


_WS_K = 25


def _weighted_sample_oracle() -> str:
    # the both-ends boundary CASE mirrors pipeline/sample.py _ares_key
    u = (
        "(('0x' || substring(md5('wsample|' || CAST(doc_id AS VARCHAR)), 1, 15))"
        "::BIGINT / 16.0^15)"
    )
    key = (
        f"CASE WHEN {u} > 0 AND {u} < 1 THEN ln({u}) / n_chars "
        "ELSE CAST('-inf' AS DOUBLE) END"
    )
    return (
        f"WITH keyed AS (SELECT lang, doc_id, {key} AS k "
        "FROM documents WHERE n_chars > 0), "
        "r AS (SELECT lang, doc_id, row_number() OVER "
        "(PARTITION BY lang ORDER BY k DESC, doc_id) AS smp_rank FROM keyed) "
        f"SELECT lang, doc_id, smp_rank FROM r WHERE smp_rank <= {_WS_K}"
    )


def q_weighted_sample(spark, sf_dir):
    """Deterministic weighted sampling (pipeline/sample.py
    weighted_sample): 25 docs per language, probability ∝ n_chars, by
    the Efraimidis–Vassilvitskii A-Res keys over the salted-hash
    uniform — exact-by-id, rerun/partitioning-stable, and the oracle
    recomputes the identical selection. u values at EITHER md5
    rounding boundary (u == 0 log-poisoning, u == 1.0 guaranteed win)
    lose symmetrically; the oracle mirrors the guard CASE."""
    d = _docs(spark, sf_dir).select("lang", "doc_id", "n_chars")
    return pl.weighted_sample(
        d, id_col="doc_id", weight_col="n_chars", k=_WS_K,
        group_cols=["lang"],
    )


# --- variant-family unions ---------------------------------------------------


# --- TPC-H relational sweep --------------------------------------------------
# TPC-H query shapes Q7, Q10, Q14, Q15 and Q22 adapted to this schema's
# columns (no partsupp / l_commitdate / l_receiptdate / o_comment in the
# testdata, so Q2/Q9/Q11/Q12/Q16/Q20/Q21 are not expressible; Q7's
# fixed nation pair is widened to ALL distinct pairs because the tier
# suppliers cover only a nation subset). All money arithmetic goes
# through the round-then-DECIMAL idiom proven by tpch_q1/q5 so both
# engines agree byte-exactly.

_Q7_D1, _Q7_D2 = "1996-01-01", "1998-01-01"


def _tpch_q7_oracle() -> str:
    return (
        "SELECT supp_nation, cust_nation, l_year, "
        "CAST(sum(vol) AS DOUBLE) AS revenue, count(*) AS n_rows FROM ("
        "SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation, "
        "year(l.l_shipdate) AS l_year, "
        "CAST(round(l.l_extendedprice * (1 - l.l_discount), 4) "
        "AS DECIMAL(22,4)) AS vol "
        "FROM lineitem l "
        "JOIN supplier s ON s.s_suppkey = l.l_suppkey "
        "JOIN nation n1 ON n1.n_nationkey = s.s_nationkey "
        "JOIN orders o ON o.o_orderkey = l.l_orderkey "
        "JOIN customer c ON c.c_custkey = o.o_custkey "
        "JOIN nation n2 ON n2.n_nationkey = c.c_nationkey "
        f"WHERE l.l_shipdate >= TIMESTAMP '{_Q7_D1}' "
        f"AND l.l_shipdate < TIMESTAMP '{_Q7_D2}' "
        "AND n1.n_name <> n2.n_name) "
        "GROUP BY supp_nation, cust_nation, l_year"
    )


def q_tpch_q7(spark, sf_dir):
    """Volume shipping (TPC-H Q7 shape): revenue between every distinct
    (supplier nation, customer nation) pair by ship year.

    Plan shape (fixed after a measured 40x regression — the original
    joined lineitem to the supplier⋈nation OUTPUT, whose join-output
    size estimate blocked static broadcast, so Catalyst planned THREE
    full sort-merge shuffles of the fact, the first on a 100-value
    suppkey): the fact-fact edge (lineitem ⋈ orders) is the ONE big
    exchange; the joined fact then pre-aggregates to (suppkey,
    custkey, year) — decimal partial sums commute, so two-level
    aggregation is byte-exact vs the oracle's one level — and only the
    pair table (≤ |suppliers|·|buying customers| rows, orders of
    magnitude below lineitems) visits the dimension joins. supplier /
    customer join as BASE tables (file-size statistics → static
    broadcast at tier scale; at 100 TB AQE shuffles the pair table,
    which is already small); nation maps are explicit broadcasts."""
    li = load_table(spark, "lineitem", sf_dir).filter(
        (F.col("l_shipdate") >= F.lit(_Q7_D1).cast("timestamp_ntz"))
        & (F.col("l_shipdate") < F.lit(_Q7_D2).cast("timestamp_ntz"))
    ).select(
        "l_suppkey",
        "l_orderkey",
        F.year("l_shipdate").alias("l_year"),
        F.round(F.col("l_extendedprice") * (1 - F.col("l_discount")), 4)
        .cast("decimal(22,4)")
        .alias("vol"),
    )
    orders = load_table(spark, "orders", sf_dir).select("o_orderkey", "o_custkey")
    pair = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .groupBy("l_suppkey", "o_custkey", "l_year")
        .agg(F.sum("vol").alias("vol"), F.count(F.lit(1)).alias("cnt"))
    )
    nation = F.broadcast(
        load_table(spark, "nation", sf_dir).select("n_nationkey", "n_name")
    )
    sup = load_table(spark, "supplier", sf_dir).select("s_suppkey", "s_nationkey")
    cust = load_table(spark, "customer", sf_dir).select("c_custkey", "c_nationkey")
    j = (
        pair.join(sup, pair.l_suppkey == sup.s_suppkey)
        .join(cust, pair.o_custkey == cust.c_custkey)
        .join(nation.alias("n1"), F.col("s_nationkey") == F.col("n1.n_nationkey"))
        .join(nation.alias("n2"), F.col("c_nationkey") == F.col("n2.n_nationkey"))
        .select(
            F.col("n1.n_name").alias("supp_nation"),
            F.col("n2.n_name").alias("cust_nation"),
            "l_year",
            "vol",
            "cnt",
        )
        .filter(F.col("supp_nation") != F.col("cust_nation"))
    )
    return j.groupBy("supp_nation", "cust_nation", "l_year").agg(
        F.sum("vol").cast("double").alias("revenue"),
        F.sum("cnt").alias("n_rows"),
    )


_Q10_D1, _Q10_D2 = "1996-01-01", "1996-04-01"


def _tpch_q10_oracle() -> str:
    return (
        "SELECT c_custkey, c_name, n_name, c_acctbal, "
        "CAST(sum(CAST(round(l_extendedprice * (1 - l_discount), 4) "
        "AS DECIMAL(22,4))) AS DOUBLE) AS revenue "
        "FROM lineitem "
        "JOIN orders ON o_orderkey = l_orderkey "
        "JOIN customer ON c_custkey = o_custkey "
        "JOIN nation ON n_nationkey = c_nationkey "
        "WHERE l_returnflag = 'R' "
        f"AND o_orderdate >= TIMESTAMP '{_Q10_D1}' "
        f"AND o_orderdate < TIMESTAMP '{_Q10_D2}' "
        "GROUP BY c_custkey, c_name, n_name, c_acctbal "
        "ORDER BY revenue DESC, c_custkey LIMIT 20"
    )


def q_tpch_q10(spark, sf_dir):
    """Returned-item reporting (TPC-H Q10 shape): top-20 customers by
    lost revenue in a quarter. Aggregate-before-join: the R-flagged
    lineitem ⋈ date-filtered orders shuffle reduces to per-custkey
    revenue BEFORE any dimension join, so customer/nation see at most
    one row per buying customer; top-20 via orderBy+limit plans as
    TakeOrderedAndProject (per-partition heaps, no global sort).
    Decimal revenue keeps the cut set identical across engines."""
    li = load_table(spark, "lineitem", sf_dir).filter(
        F.col("l_returnflag") == "R"
    ).select("l_orderkey", "l_extendedprice", "l_discount")
    orders = load_table(spark, "orders", sf_dir).filter(
        (F.col("o_orderdate") >= F.lit(_Q10_D1).cast("timestamp_ntz"))
        & (F.col("o_orderdate") < F.lit(_Q10_D2).cast("timestamp_ntz"))
    ).select("o_orderkey", "o_custkey")
    rev = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .groupBy("o_custkey")
        .agg(
            F.sum(
                F.round(
                    F.col("l_extendedprice") * (1 - F.col("l_discount")), 4
                ).cast("decimal(22,4)")
            ).alias("_rev")
        )
    )
    cust = load_table(spark, "customer", sf_dir).select(
        "c_custkey", "c_name", "c_nationkey", "c_acctbal"
    )
    nation = F.broadcast(
        load_table(spark, "nation", sf_dir).select("n_nationkey", "n_name")
    )
    j = rev.join(cust, rev.o_custkey == cust.c_custkey).join(
        nation, cust.c_nationkey == nation.n_nationkey
    )
    return (
        j.orderBy(F.col("_rev").desc(), "c_custkey")
        .limit(20)
        .select(
            "c_custkey",
            "c_name",
            "n_name",
            "c_acctbal",
            F.col("_rev").cast("double").alias("revenue"),
        )
    )


_Q14_D1, _Q14_D2 = "1996-03-01", "1996-04-01"


def _tpch_q14_oracle() -> str:
    return (
        "SELECT CAST(sum(CASE WHEN p_type = 'PROMO' THEN disc "
        "ELSE CAST(0 AS DECIMAL(22,4)) END) AS DOUBLE) AS promo_revenue, "
        "CAST(sum(disc) AS DOUBLE) AS total_revenue, "
        "100.0 * CAST(sum(CASE WHEN p_type = 'PROMO' THEN disc "
        "ELSE CAST(0 AS DECIMAL(22,4)) END) AS DOUBLE) "
        "/ CAST(sum(disc) AS DOUBLE) AS promo_share FROM ("
        "SELECT p_type, CAST(round(l_extendedprice * (1 - l_discount), 4) "
        "AS DECIMAL(22,4)) AS disc "
        "FROM lineitem JOIN part ON p_partkey = l_partkey "
        f"WHERE l_shipdate >= TIMESTAMP '{_Q14_D1}' "
        f"AND l_shipdate < TIMESTAMP '{_Q14_D2}')"
    )


def q_tpch_q14(spark, sf_dir):
    """Promotion effect (TPC-H Q14 shape): PROMO share of one month's
    revenue. The month filter prunes the lineitem scan; part is a
    dimension join (AQE broadcasts it at tier scale; at 100 TB it
    shuffles on partkey, still 30× smaller than the fact side); the
    conditional aggregate collapses to ONE row map-side — the final
    exchange carries one partial per task. The share division runs on
    exact decimal sums cast to double, so both engines emit the
    identical IEEE quotient."""
    li = load_table(spark, "lineitem", sf_dir).filter(
        (F.col("l_shipdate") >= F.lit(_Q14_D1).cast("timestamp_ntz"))
        & (F.col("l_shipdate") < F.lit(_Q14_D2).cast("timestamp_ntz"))
    ).select("l_partkey", "l_extendedprice", "l_discount")
    part = load_table(spark, "part", sf_dir).select("p_partkey", "p_type")
    j = li.join(part, li.l_partkey == part.p_partkey).select(
        "p_type",
        F.round(F.col("l_extendedprice") * (1 - F.col("l_discount")), 4)
        .cast("decimal(22,4)")
        .alias("disc"),
    )
    agg = j.agg(
        F.sum(
            F.when(F.col("p_type") == "PROMO", F.col("disc")).otherwise(
                F.lit(0).cast("decimal(22,4)")
            )
        ).alias("_promo"),
        F.sum("disc").alias("_total"),
    )
    return agg.select(
        F.col("_promo").cast("double").alias("promo_revenue"),
        F.col("_total").cast("double").alias("total_revenue"),
        (
            100.0 * F.col("_promo").cast("double") / F.col("_total").cast("double")
        ).alias("promo_share"),
    )


_Q15_D1, _Q15_D2 = "1996-01-01", "1996-04-01"


def _tpch_q15_oracle() -> str:
    return (
        "WITH rev AS (SELECT l_suppkey, "
        "sum(CAST(round(l_extendedprice * (1 - l_discount), 4) "
        "AS DECIMAL(22,4))) AS total_rev FROM lineitem "
        f"WHERE l_shipdate >= TIMESTAMP '{_Q15_D1}' "
        f"AND l_shipdate < TIMESTAMP '{_Q15_D2}' "
        "GROUP BY l_suppkey) "
        "SELECT s_suppkey, s_name, CAST(total_rev AS DOUBLE) AS total_revenue "
        "FROM supplier JOIN rev ON s_suppkey = l_suppkey "
        "WHERE total_rev = (SELECT max(total_rev) FROM rev)"
    )


def q_tpch_q15(spark, sf_dir):
    """Top supplier (TPC-H Q15 shape): the supplier(s) with max quarter
    revenue. One per-suppkey aggregate shuffle, then the scalar max is
    a 1-row aggregate CROSS-broadcast back onto the revenue frame (no
    window over an unpartitioned frame — that would serialize the
    per-supplier rows through one task); the decimal equality makes
    max-row selection identical across engines. Supplier joins last,
    against at most the tied max rows. The revenue frame feeds TWO
    consumers (the scalar max and the equality join) — without a
    lineage cut Catalyst duplicates the whole filtered-lineitem
    scan+aggregate subtree, one full fact scan per consumer (measured
    at the 1000x tier: 3.96 s two-scan vs 2.66 s with the
    aggregate-compressed rev frame lazily checkpointed; ratio 2.46x
    -> ~1.5x, fresh-session steady state)."""
    li = load_table(spark, "lineitem", sf_dir).filter(
        (F.col("l_shipdate") >= F.lit(_Q15_D1).cast("timestamp_ntz"))
        & (F.col("l_shipdate") < F.lit(_Q15_D2).cast("timestamp_ntz"))
    )
    rev = li.groupBy("l_suppkey").agg(
        F.sum(
            F.round(F.col("l_extendedprice") * (1 - F.col("l_discount")), 4).cast(
                "decimal(22,4)"
            )
        ).alias("total_rev")
    ).localCheckpoint(eager=False)
    mx = rev.agg(F.max("total_rev").alias("_mx"))
    top = rev.join(F.broadcast(mx), rev.total_rev == F.col("_mx"))
    sup = load_table(spark, "supplier", sf_dir).select("s_suppkey", "s_name")
    return top.join(sup, top.l_suppkey == sup.s_suppkey).select(
        "s_suppkey", "s_name", F.col("total_rev").cast("double").alias("total_revenue")
    )


_Q22_CUT = "2000-01-01"


def _tpch_q22_oracle() -> str:
    return (
        "WITH ab AS (SELECT CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) "
        "AS DOUBLE) / count(*) AS avg_bal FROM customer WHERE c_acctbal > 0) "
        "SELECT c_nationkey, count(*) AS numcust, "
        "CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS totacctbal "
        "FROM customer, ab "
        "WHERE c_acctbal > avg_bal AND NOT EXISTS ("
        "SELECT 1 FROM orders WHERE o_custkey = c_custkey "
        f"AND o_orderdate >= TIMESTAMP '{_Q22_CUT}') "
        "GROUP BY c_nationkey"
    )


def q_tpch_q22(spark, sf_dir):
    """Global sales opportunity (TPC-H Q22 shape, adapted: 'dormant' =
    no orders since the cutoff — every tier customer has SOME order, so
    the unmodified NOT EXISTS would be empty at all SFs). The
    above-average filter compares against an exact decimal-sum/count
    average broadcast as a 1-row cross join (a plain avg() over doubles
    would let summation order flip borderline customers between
    engines); the dormancy check is a LEFT ANTI hash join against the
    date-pruned orders scan — no correlated per-row subquery. The
    recent-custkey side is DISTINCT'd before the join (r11, the q22
    decomposition): anti-join semantics are unchanged, but the join
    ingests <= |customers-with-recent-orders| rows instead of every
    recent ORDER row — a map-side partial aggregate does the collapse
    (measured 1.04 -> 0.58 s at the 200x tier, identical output). No
    broadcast hint: the distinct side is data-sized (grows with the
    customer count), so AQE picks the strategy (the unforced-broadcast
    rule, tests/test_plans.py)."""
    cust = load_table(spark, "customer", sf_dir).select(
        "c_custkey", "c_nationkey", "c_acctbal"
    )
    ab = (
        cust.filter(F.col("c_acctbal") > 0)
        .agg(
            (
                F.sum(F.col("c_acctbal").cast("decimal(18,2)")).cast("double")
                / F.count(F.lit(1))
            ).alias("avg_bal")
        )
    )
    recent = (
        load_table(spark, "orders", sf_dir)
        .filter(F.col("o_orderdate") >= F.lit(_Q22_CUT).cast("timestamp_ntz"))
        .select("o_custkey")
        .distinct()
    )
    rich = cust.crossJoin(F.broadcast(ab)).filter(
        F.col("c_acctbal") > F.col("avg_bal")
    )
    dormant = rich.join(recent, rich.c_custkey == recent.o_custkey, "left_anti")
    return dormant.groupBy("c_nationkey").agg(
        F.count(F.lit(1)).alias("numcust"),
        F.sum(F.col("c_acctbal").cast("decimal(18,2)"))
        .cast("double")
        .alias("totacctbal"),
    )


# --- TPC-H completion sweep --------------------------------------------------
# The last five TPC-H shapes this schema can express (Q8, Q9, Q13,
# Q17, Q19), adapted where the testdata lacks TPC-H columns: Q9 prices
# cost from p_retailprice (no ps_supplycost), Q13's order exclusion
# filters o_orderpriority (no o_comment), Q17/Q19 bucket on p_size (no
# p_container / l_shipmode / l_shipinstruct). With these, every
# TPC-H query expressible on the testdata schema is implemented —
# the remaining six (Q2/Q11/Q12/Q16/Q20/Q21) need partsupp or
# l_commitdate/l_receiptdate, which the tables don't carry. Money
# arithmetic uses the proven round-then-DECIMAL idiom throughout.

_Q8_D1, _Q8_D2 = "1996-01-01", "1998-01-01"
_Q8_REGION, _Q8_TYPE, _Q8_NATION = "ASIA", "STANDARD", "NATION_9"


def _tpch_q8_oracle() -> str:
    return (
        "SELECT o_year, "
        f"CAST(sum(CASE WHEN nation = '{_Q8_NATION}' THEN vol "
        "ELSE CAST(0 AS DECIMAL(22,4)) END) AS DOUBLE) "
        "/ CAST(sum(vol) AS DOUBLE) AS mkt_share, "
        "CAST(sum(vol) AS DOUBLE) AS total_vol, count(*) AS n_rows FROM ("
        "SELECT year(o.o_orderdate) AS o_year, n2.n_name AS nation, "
        "CAST(round(l.l_extendedprice * (1 - l.l_discount), 4) "
        "AS DECIMAL(22,4)) AS vol "
        "FROM lineitem l "
        "JOIN part p ON p.p_partkey = l.l_partkey "
        "JOIN supplier s ON s.s_suppkey = l.l_suppkey "
        "JOIN nation n2 ON n2.n_nationkey = s.s_nationkey "
        "JOIN orders o ON o.o_orderkey = l.l_orderkey "
        "JOIN customer c ON c.c_custkey = o.o_custkey "
        "JOIN nation n1 ON n1.n_nationkey = c.c_nationkey "
        "JOIN region r ON r.r_regionkey = n1.n_regionkey "
        f"WHERE r.r_name = '{_Q8_REGION}' AND p.p_type = '{_Q8_TYPE}' "
        f"AND o.o_orderdate >= TIMESTAMP '{_Q8_D1}' "
        f"AND o.o_orderdate < TIMESTAMP '{_Q8_D2}') "
        "GROUP BY o_year"
    )


def q_tpch_q8(spark, sf_dir):
    """National market share (TPC-H Q8 shape): one supplier nation's
    share of STANDARD-part revenue sold to ASIA customers, by order
    year. Plan shape (the q7 lesson applied from birth): every
    dimension joins as a BASE table — part/supplier/customer carry
    file-size statistics, so Catalyst broadcasts them statically
    (joining the fact to a supplier⋈nation OUTPUT loses the estimate
    and degenerates to fact-wide sort-merge shuffles, the measured q7
    regression); the nation⋈region map is 25 rows, built driver-free
    and broadcast explicitly, with the ASIA filter applied to orders
    BEFORE the one fact-fact shuffle. The joined fact pre-aggregates
    to (year, supplier-nation) — decimal partials commute, so the
    two-level sum is byte-exact vs the oracle's one level — and the
    share is a ratio of exact decimal sums cast to double."""
    nation = load_table(spark, "nation", sf_dir)
    region = load_table(spark, "region", sf_dir)
    asia_nations = F.broadcast(
        nation.join(
            F.broadcast(region), F.col("n_regionkey") == F.col("r_regionkey")
        )
        .filter(F.col("r_name") == _Q8_REGION)
        .select(F.col("n_nationkey").alias("_asia_nk"))
    )
    part = load_table(spark, "part", sf_dir).filter(
        F.col("p_type") == _Q8_TYPE
    ).select("p_partkey")
    sup = load_table(spark, "supplier", sf_dir).select("s_suppkey", "s_nationkey")
    cust = load_table(spark, "customer", sf_dir).select("c_custkey", "c_nationkey")
    orders = (
        load_table(spark, "orders", sf_dir)
        .filter(
            (F.col("o_orderdate") >= F.lit(_Q8_D1).cast("timestamp_ntz"))
            & (F.col("o_orderdate") < F.lit(_Q8_D2).cast("timestamp_ntz"))
        )
        .select("o_orderkey", "o_custkey", F.year("o_orderdate").alias("o_year"))
        .join(cust, F.col("o_custkey") == cust.c_custkey)
        .join(asia_nations, F.col("c_nationkey") == F.col("_asia_nk"))
        .select("o_orderkey", "o_year")
    )
    li = load_table(spark, "lineitem", sf_dir).select(
        "l_partkey",
        "l_suppkey",
        "l_orderkey",
        F.round(F.col("l_extendedprice") * (1 - F.col("l_discount")), 4)
        .cast("decimal(22,4)")
        .alias("vol"),
    )
    pre = (
        li.join(part, li.l_partkey == part.p_partkey)
        .join(sup, li.l_suppkey == sup.s_suppkey)
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .groupBy("o_year", "s_nationkey")
        .agg(F.sum("vol").alias("vol"), F.count(F.lit(1)).alias("cnt"))
    )
    named = pre.join(
        F.broadcast(nation.select("n_nationkey", "n_name")),
        pre.s_nationkey == F.col("n_nationkey"),
    )
    agg = named.groupBy("o_year").agg(
        F.sum(
            F.when(F.col("n_name") == _Q8_NATION, F.col("vol")).otherwise(
                F.lit(0).cast("decimal(22,4)")
            )
        ).alias("_nat"),
        F.sum("vol").alias("_tot"),
        F.sum("cnt").alias("n_rows"),
    )
    return agg.select(
        "o_year",
        (F.col("_nat").cast("double") / F.col("_tot").cast("double")).alias(
            "mkt_share"
        ),
        F.col("_tot").cast("double").alias("total_vol"),
        "n_rows",
    )


_Q9_TOKEN = "red"


def _tpch_q9_oracle() -> str:
    return (
        "SELECT nation, o_year, CAST(sum(amount) AS DOUBLE) AS sum_profit, "
        "count(*) AS n_rows FROM ("
        "SELECT n.n_name AS nation, year(o.o_orderdate) AS o_year, "
        "CAST(round((l.l_extendedprice * (1 - l.l_discount)) - "
        "((p.p_retailprice * l.l_quantity) * 0.1), 4) AS DECIMAL(22,4)) "
        "AS amount "
        "FROM lineitem l "
        "JOIN part p ON p.p_partkey = l.l_partkey "
        "JOIN supplier s ON s.s_suppkey = l.l_suppkey "
        "JOIN nation n ON n.n_nationkey = s.s_nationkey "
        "JOIN orders o ON o.o_orderkey = l.l_orderkey "
        f"WHERE p.p_name LIKE '%{_Q9_TOKEN}%') "
        "GROUP BY nation, o_year"
    )


def q_tpch_q9(spark, sf_dir):
    """Product-type profit (TPC-H Q9 shape, adapted: the testdata has
    no partsupp, so unit cost is proxied as 10% of p_retailprice —
    same join/aggregate skeleton, different cost column). Parts are
    name-pattern filtered BEFORE the fact join (the LIKE can't push to
    the lineitem scan, but the dimension join carries it); nation is a
    broadcast; the per-(nation, year) aggregate partial-combines so
    the last exchange is nations × years. The profit expression is a
    fixed-shape IEEE tree rounded then summed as DECIMAL — byte-exact
    across engines."""
    part = load_table(spark, "part", sf_dir).filter(
        F.col("p_name").like(f"%{_Q9_TOKEN}%")
    ).select("p_partkey", "p_retailprice")
    sup = load_table(spark, "supplier", sf_dir).select("s_suppkey", "s_nationkey")
    orders = load_table(spark, "orders", sf_dir).select(
        "o_orderkey", F.year("o_orderdate").alias("o_year")
    )
    li = load_table(spark, "lineitem", sf_dir).select(
        "l_partkey",
        "l_suppkey",
        "l_orderkey",
        "l_quantity",
        "l_extendedprice",
        "l_discount",
    )
    amount = F.round(
        (F.col("l_extendedprice") * (1 - F.col("l_discount")))
        - ((F.col("p_retailprice") * F.col("l_quantity")) * F.lit(0.1)),
        4,
    ).cast("decimal(22,4)")
    # base-table dimension joins (static broadcast from file stats — the
    # q7 lesson), ONE fact-fact shuffle, then pre-aggregate to
    # (nationkey, year) before the 25-row nation-name broadcast join
    pre = (
        li.join(part, li.l_partkey == part.p_partkey)
        .join(sup, li.l_suppkey == sup.s_suppkey)
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .groupBy("s_nationkey", "o_year")
        .agg(
            F.sum(amount).alias("_amt"),
            F.count(F.lit(1)).alias("n_rows"),
        )
    )
    nation = F.broadcast(
        load_table(spark, "nation", sf_dir).select("n_nationkey", "n_name")
    )
    return pre.join(nation, pre.s_nationkey == nation.n_nationkey).select(
        F.col("n_name").alias("nation"),
        "o_year",
        F.col("_amt").cast("double").alias("sum_profit"),
        "n_rows",
    )


_Q13_EXCL = "5-LOW"


def _tpch_q13_oracle() -> str:
    return (
        "SELECT c_count, count(*) AS custdist FROM ("
        "SELECT c.c_custkey, count(o.o_orderkey) AS c_count "
        "FROM customer c LEFT OUTER JOIN orders o "
        "ON c.c_custkey = o.o_custkey "
        f"AND o.o_orderpriority <> '{_Q13_EXCL}' "
        "GROUP BY c.c_custkey) "
        "GROUP BY c_count"
    )


def q_tpch_q13(spark, sf_dir):
    """Customer order-count distribution (TPC-H Q13 shape, adapted:
    the order exclusion filters o_orderpriority — the testdata has no
    o_comment). The signature feature is the ON-clause exclusion:
    excluded-order customers still appear with count 0 (a WHERE would
    drop them). The aggregation is PUSHED BELOW the outer join (r10 —
    Catalyst does not do this rewrite itself): counting orders per
    custkey FIRST lets the map-side combine shrink the shuffle from
    every order row (15 M at the 100x tier, the old plan's LeftOuter
    SortMergeJoin shuffled all of them) to <= distinct-custkey
    partials, and the counts frame (one row per active customer) then
    BROADCASTS into the left join; count(o_orderkey)-over-join and
    coalesce(per-key count, 0) are identical by definition. Measured
    2.69 -> 0.75 s at 100x (11.2x -> 4.3x, Spark flat vs the 40x
    tier)."""
    cust = load_table(spark, "customer", sf_dir).select("c_custkey")
    orders = load_table(spark, "orders", sf_dir).select(
        "o_custkey", "o_orderpriority"
    )
    cnt = (
        orders.filter(F.col("o_orderpriority") != _Q13_EXCL)
        .groupBy("o_custkey")
        .agg(F.count(F.lit(1)).alias("_c"))
    )
    per_cust = cust.join(
        cnt, cust.c_custkey == cnt.o_custkey, "left_outer"
    ).select(F.coalesce(F.col("_c"), F.lit(0)).alias("c_count"))
    return per_cust.groupBy("c_count").agg(F.count(F.lit(1)).alias("custdist"))


_Q17_BRAND, _Q17_SIZE = "Brand#4", 25


def _tpch_q17_oracle() -> str:
    return (
        "WITH pq AS (SELECT l_partkey, avg(l_quantity) AS avg_qty "
        "FROM lineitem GROUP BY l_partkey) "
        "SELECT CAST(sum(CAST(round(l.l_extendedprice, 4) "
        "AS DECIMAL(22,4))) AS DOUBLE) / 7.0 AS avg_yearly, "
        "count(*) AS n_rows "
        "FROM lineitem l "
        "JOIN part p ON p.p_partkey = l.l_partkey "
        "JOIN pq ON pq.l_partkey = l.l_partkey "
        f"WHERE p.p_brand = '{_Q17_BRAND}' AND p.p_size <= {_Q17_SIZE} "
        "AND l.l_quantity < 0.2 * pq.avg_qty"
    )


def q_tpch_q17(spark, sf_dir):
    """Small-quantity-order revenue (TPC-H Q17 shape, adapted: p_size
    buckets stand in for the missing p_container). The correlated
    per-part AVG subquery is decorrelated as aggregate-then-join; the
    brand/size part filter semi-reduces lineitem FIRST (broadcast —
    one brand is ~1/30 of parts at any scale), and the per-part
    average is computed on the reduced lines (averages are keyed by
    partkey, so pre-filtering other parts' lines cannot change them).
    l_quantity holds small integers, so avg = sum/count is exact in
    double regardless of summation order — safe as a join predicate."""
    part = load_table(spark, "part", sf_dir).filter(
        (F.col("p_brand") == _Q17_BRAND) & (F.col("p_size") <= _Q17_SIZE)
    ).select("p_partkey")
    li = (
        load_table(spark, "lineitem", sf_dir)
        .select("l_partkey", "l_quantity", "l_extendedprice")
        .join(F.broadcast(part), F.col("l_partkey") == F.col("p_partkey"))
    )
    pq = li.groupBy(F.col("l_partkey").alias("_pk")).agg(
        F.avg("l_quantity").alias("avg_qty")
    )
    j = li.join(pq, li.l_partkey == pq._pk).filter(
        F.col("l_quantity") < 0.2 * F.col("avg_qty")
    )
    return j.agg(
        (
            F.sum(F.round(F.col("l_extendedprice"), 4).cast("decimal(22,4)"))
            .cast("double")
            / F.lit(7.0)
        ).alias("avg_yearly"),
        F.count(F.lit(1)).alias("n_rows"),
    )


_Q19_CLAUSES = (
    ("Brand#4", 1, 15, 1, 11),
    ("Brand#9", 10, 30, 10, 20),
    ("Brand#19", 20, 50, 20, 35),
)


def _tpch_q19_oracle() -> str:
    ors = " OR ".join(
        f"(p_brand = '{b}' AND p_size BETWEEN {s1} AND {s2} "
        f"AND l_quantity BETWEEN {q1} AND {q2})"
        for (b, s1, s2, q1, q2) in _Q19_CLAUSES
    )
    return (
        "SELECT CAST(sum(CAST(round(l_extendedprice * (1 - l_discount), 4) "
        "AS DECIMAL(22,4))) AS DOUBLE) AS revenue, count(*) AS n_rows "
        "FROM lineitem JOIN part ON p_partkey = l_partkey "
        f"WHERE {ors}"
    )


def q_tpch_q19(spark, sf_dir):
    """Discounted revenue over disjunctive predicates (TPC-H Q19
    shape, adapted: p_size ranges stand in for p_container, l_quantity
    for shipmode/instruct). The classic Q19 optimization is applied by
    hand because it's cross-table: each side's IMPLIED single-table
    disjunct pushes to its scan (part: brand+size union; lineitem: the
    quantity-range hull 1..35), shrinking the join inputs, while the
    full cross-column disjunction re-applies post-join for exactness.
    Part after its filter is ~10% of a dimension table — broadcast, no
    fact shuffle at all."""
    p_pred = None
    for (b, s1, s2, _q1, _q2) in _Q19_CLAUSES:
        c = (
            (F.col("p_brand") == b)
            & (F.col("p_size") >= s1)
            & (F.col("p_size") <= s2)
        )
        p_pred = c if p_pred is None else (p_pred | c)
    qmin = min(q1 for (_b, _s1, _s2, q1, _q2) in _Q19_CLAUSES)
    qmax = max(q2 for (_b, _s1, _s2, _q1, q2) in _Q19_CLAUSES)
    part = load_table(spark, "part", sf_dir).filter(p_pred).select(
        "p_partkey", "p_brand", "p_size"
    )
    li = load_table(spark, "lineitem", sf_dir).filter(
        (F.col("l_quantity") >= qmin) & (F.col("l_quantity") <= qmax)
    ).select("l_partkey", "l_quantity", "l_extendedprice", "l_discount")
    full = None
    for (b, s1, s2, q1, q2) in _Q19_CLAUSES:
        c = (
            (F.col("p_brand") == b)
            & (F.col("p_size") >= s1)
            & (F.col("p_size") <= s2)
            & (F.col("l_quantity") >= q1)
            & (F.col("l_quantity") <= q2)
        )
        full = c if full is None else (full | c)
    j = li.join(F.broadcast(part), li.l_partkey == part.p_partkey).filter(full)
    return j.agg(
        F.sum(
            F.round(F.col("l_extendedprice") * (1 - F.col("l_discount")), 4).cast(
                "decimal(22,4)"
            )
        )
        .cast("double")
        .alias("revenue"),
        F.count(F.lit(1)).alias("n_rows"),
    )


# --- tokenizer inference, sparse retrieval, dedup eval -----------------------
# Label-noise sweep and temperature mixing complete the LLM-pipeline
# operators on the corpus/embedding tables.

# 24 merges trained ONCE with train_bpe(num_merges=24) on the sf0.01
# documents table and frozen — the production shape: the tokenizer is
# a versioned artifact applied unchanged to every later corpus. The
# oracle replays the same greedy left-to-right merge scan as string
# rewriting over control-char-delimited symbols (documents are ASCII
# 32..121, so \x01/\x02 cannot collide with text).
_BPE_MERGES: tuple = (
    ("e", "r"), ("e", "</w>"), ("n", "</w>"), ("er", "</w>"),
    ("o", "w"), ("ow", "</w>"), ("o", "r"), ("s", "t"),
    ("h", "</w>"), ("a", "t"), ("l", "u"), ("i", "n"),
    ("a", "</w>"), ("g", "</w>"), ("y", "</w>"), ("a", "r"),
    ("p", "ar"), ("t", "</w>"), ("i", "n</w>"), ("j", "o"),
    ("jo", "in</w>"), ("a", "s"), ("as", "h</w>"), ("h", "ash</w>"),
)


def _bpe_encode_oracle() -> str:
    d1, d2 = "\x01", "\x02"

    def sym(s: str) -> str:
        return d1 + s + d2

    # (?s) mirrors the Spark side's DOTALL per-char wrap (ADVICE r16
    # medium): RE2's '.' skips \n exactly like Java's, so both engines
    # need the flag for line terminators to segment like any other
    # char. No-op on the contract corpus (ASCII 32..121).
    chain = f"regexp_replace(word, '(?s)(.)', chr(1) || '\\1' || chr(2), 'g') || '{sym('</w>')}'"
    for a, b in _BPE_MERGES:
        chain = f"replace({chain}, '{sym(a)}{sym(b)}', '{sym(a + b)}')"
    return (
        f"WITH {_TOKS}, "
        "w AS (SELECT doc_id, unnest(tk) AS word FROM toks), "
        f"seg AS (SELECT doc_id, {chain} AS s FROM w), "
        "tokc AS (SELECT doc_id, "
        f"length(s) - length(replace(s, '{d1}', '')) AS n_tok, s FROM seg), "
        "per_doc AS (SELECT doc_id, count(*) AS n_words, "
        "CAST(sum(n_tok) AS BIGINT) AS n_tokens FROM tokc GROUP BY doc_id), "
        "symt AS (SELECT doc_id, "
        f"replace(u, '{d1}', '') AS sym FROM "
        f"(SELECT doc_id, unnest(string_split(s, '{d2}')) AS u FROM seg) "
        "WHERE u <> ''), "
        "dist AS (SELECT doc_id, count(DISTINCT sym) AS n_distinct "
        "FROM symt GROUP BY doc_id) "
        "SELECT p.doc_id, n_words, n_tokens, n_distinct "
        "FROM per_doc p JOIN dist USING (doc_id)"
    )


def q_bpe_encode(spark, sf_dir):
    """Tokenizer INFERENCE with the pinned 24-merge table
    (pipeline/bpe.py encode_with_merges): distinct words segment once
    through chained Catalyst aggregate-folds (vocab-bound work), the
    corpus pass is one broadcast join — the shape that tokenizes a
    100 TB corpus whose vocabulary is millions of words. Pairs with
    the bpe_vocab TRAINING entry (rows-only); this one has a full SQL
    twin because the merge list is frozen. Output per document: word
    count, BPE token count, distinct-piece count."""
    res = pl.encode_with_merges(_docs(spark, sf_dir), list(_BPE_MERGES))
    return res.select(
        "doc_id",
        F.size(pl.hashes.tokens(F.col("text"))).alias("n_words"),
        F.size("bpe_pieces").cast("bigint").alias("n_tokens"),
        F.size(F.array_distinct("bpe_pieces")).cast("bigint").alias("n_distinct"),
    ).filter(F.col("n_words") >= 1).select(
        "doc_id",
        F.col("n_words").cast("bigint").alias("n_words"),
        "n_tokens",
        "n_distinct",
    )


_SKNN_K = 3
_SKNN_MOD = 5  # doc_id % 5 subset: the corpus vocabulary is dense
# (31 tokens, df ~ N for every term), so df-pruning cannot bound the
# term self-join here and the contract query bounds the INPUT instead
# (the edit_distance_join precedent). Real corpora have Zipfian
# vocabularies where the max_df lever does the bounding.


def _sparse_knn_oracle() -> str:
    return (
        "WITH docs_s AS (SELECT doc_id, text FROM documents "
        f"WHERE doc_id % {_SKNN_MOD} = 0), "
        "toks AS (SELECT doc_id, list_filter(string_split(text, ' '), "
        "t -> t <> '') AS tk FROM docs_s), "
        "tf AS (SELECT doc_id, t, count(*) AS tf FROM "
        "(SELECT doc_id, unnest(tk) AS t FROM toks) GROUP BY doc_id, t), "
        "n AS (SELECT count(DISTINCT doc_id) AS n FROM docs_s), "
        "dft AS (SELECT t, count(*) AS df FROM tf GROUP BY t "
        "HAVING count(*) >= 2), "
        "w AS (SELECT doc_id, tf.t, CAST(round(tf * "
        "round(ln((n + 1.0) / (df + 1.0)) + 1.0, 6), 6) AS DECIMAL(18,6)) "
        "AS w FROM tf JOIN dft ON dft.t = tf.t, n), "
        "nrm AS (SELECT doc_id, sum(w * w) AS n2 FROM w GROUP BY doc_id), "
        "dots AS (SELECT a.doc_id AS ad, b.doc_id AS bd, "
        "sum(a.w * b.w) AS dot FROM w a JOIN w b "
        "ON a.t = b.t AND a.doc_id < b.doc_id GROUP BY 1, 2), "
        "cos AS (SELECT ad, bd, round(CAST(dot AS DOUBLE) / "
        "(sqrt(CAST(na.n2 AS DOUBLE)) * sqrt(CAST(nb.n2 AS DOUBLE))), 6) "
        "+ 0.0 AS cos_sim FROM dots "
        "JOIN nrm na ON na.doc_id = ad JOIN nrm nb ON nb.doc_id = bd), "
        "sym AS (SELECT ad AS q, bd AS nb, cos_sim FROM cos "
        "UNION ALL SELECT bd, ad, cos_sim FROM cos), "
        "r AS (SELECT q, nb, cos_sim, row_number() OVER "
        "(PARTITION BY q ORDER BY cos_sim DESC, nb) AS rank FROM sym) "
        f"SELECT q AS doc_id, nb AS neighbor_id, rank, cos_sim FROM r "
        f"WHERE rank <= {_SKNN_K}"
    )


def q_text_sparse_knn(spark, sf_dir):
    """Document-to-document tf-idf cosine top-k (pipeline/text.py
    sparse_knn): term-at-a-time all-pairs similarity — posting lists
    self-join on the term so a pair's dot product accumulates one
    partial per SHARED term and no dense vectors materialize. Weights
    quantize to DECIMAL(18,6) before any sum, so dots and norms are
    exact under any partitioning. At corpus scale the ``max_df`` cap
    bounds every posting list (high-df terms carry ~zero idf weight);
    this synthetic corpus's 31-token dense vocabulary defeats that
    lever, so the contract query bounds the input subset instead."""
    d = _docs(spark, sf_dir).filter(F.col("doc_id") % _SKNN_MOD == 0)
    res = pl.sparse_knn(d, k=_SKNN_K, min_df=2, max_df=None)
    return res.select(
        "doc_id",
        "neighbor_id",
        F.col("rank").cast("bigint").alias("rank"),
        "cos_sim",
    )


def _dedup_recall_oracle() -> str:
    cand = _minhash_oracle(0.0)
    truth = (
        f"WITH {_TOKS}, {_SHINGLES}, "
        "e AS (SELECT doc_id, unnest(shingles) AS s FROM sh), "
        "inter AS (SELECT a.doc_id AS a_id, b.doc_id AS b_id, "
        "count(*) AS n_inter FROM e a JOIN e b "
        "ON a.s = b.s AND a.doc_id < b.doc_id GROUP BY 1, 2), "
        "sizes AS (SELECT doc_id, len(shingles) AS sz FROM sh) "
        "SELECT a_id, b_id FROM inter i "
        "JOIN sizes za ON za.doc_id = i.a_id "
        "JOIN sizes zb ON zb.doc_id = i.b_id "
        "WHERE CAST(i.n_inter AS DOUBLE) / (za.sz + zb.sz - i.n_inter) "
        f">= {_MINHASH_THRESHOLD}"
    )
    return (
        f"WITH cand AS (SELECT a_id, b_id FROM ({cand})), "
        f"truth AS (SELECT a_id, b_id FROM ({truth})), "
        "tp AS (SELECT count(*) AS n_tp FROM cand JOIN truth "
        "USING (a_id, b_id)) "
        "SELECT (SELECT count(*) FROM cand) AS n_candidates, "
        "(SELECT count(*) FROM truth) AS n_truth, n_tp, "
        "round(CAST(n_tp AS DOUBLE) / "
        "nullif((SELECT count(*) FROM cand), 0), 6) + 0.0 AS precision_q, "
        "round(CAST(n_tp AS DOUBLE) / "
        "nullif((SELECT count(*) FROM truth), 0), 6) + 0.0 AS recall_q "
        "FROM tp"
    )


def q_dedup_recall_eval(spark, sf_dir):
    """Dedup quality evaluation (the ann_recall_eval pattern applied
    to near-dup detection): banded-MinHash CANDIDATE pairs
    (threshold=0, i.e. before the exact-Jaccard verify) scored
    against exact shingle-Jaccard >= 0.5 ground truth — banding
    recall and candidate precision in one row. The truth side is the
    inverted-index exact join (any qualifying pair shares a shingle),
    the candidate side the production LSH path; both are corpus-scale
    plans, and the figures are what you tune bands/rows against
    before a 100 TB dedup run."""
    # Both pair pipelines emit each (a_id, b_id) at most once (banding
    # dedups via the smallest-shared-band trick; the exact side ends in
    # a pair-keyed aggregate), so |cand|, |truth| and |cand ∩ truth|
    # all fall out of ONE full-outer join with presence markers — one
    # execution of each corpus-scale pipeline instead of the r15
    # shape's two (separate count + intersection subtrees re-inlined
    # the minhash and inverted-index plans twice each: 26 Exchanges /
    # 12 input scans, halved by this restructure).
    cand = pl.minhash_pairs(
        _docs(spark, sf_dir),
        num_hashes=_MINHASH_N,
        bands=_MINHASH_BANDS,
        threshold=0.0,
    ).select("a_id", "b_id", F.lit(1).alias("_in_cand"))
    truth = pl.ngram_jaccard_pairs(
        _docs(spark, sf_dir), threshold=_MINHASH_THRESHOLD
    ).select("a_id", "b_id", F.lit(1).alias("_in_truth"))
    row = cand.join(truth, ["a_id", "b_id"], "full_outer").agg(
        F.count("_in_cand").alias("n_candidates"),
        F.count("_in_truth").alias("n_truth"),
        F.count(
            F.when(
                F.col("_in_cand").isNotNull()
                & F.col("_in_truth").isNotNull(),
                F.lit(1),
            )
        ).alias("n_tp"),
    )
    return row.select(
        "n_candidates",
        "n_truth",
        "n_tp",
        (
            F.round(
                F.col("n_tp").cast("double")
                / F.nullif(F.col("n_candidates"), F.lit(0)).cast("double"),
                6,
            )
            + F.lit(0.0)
        ).alias("precision_q"),
        (
            F.round(
                F.col("n_tp").cast("double")
                / F.nullif(F.col("n_truth"), F.lit(0)).cast("double"),
                6,
            )
            + F.lit(0.0)
        ).alias("recall_q"),
    )


_OUT_N = 10


def _embedding_outliers_oracle() -> str:
    return (
        "WITH v AS (SELECT vec_id, label, "
        "list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v "
        "FROM embeddings), "
        "d AS (SELECT vec_id, label, i, "
        "CAST(round(v[i], 6) AS DECIMAL(18,6)) AS xq "
        f"FROM v CROSS JOIN (SELECT unnest(range(1, {_EMB_DIM + 1})) AS i)), "
        "cent AS (SELECT label, i, CAST(round(CAST(sum(xq) AS DOUBLE) "
        "/ count(*), 6) AS DECIMAL(18,6)) AS c FROM d GROUP BY label, i), "
        "cnorm AS (SELECT label, sum(c * c) AS nc FROM cent GROUP BY label), "
        "pr AS (SELECT d.vec_id, d.label, sum(d.xq * cent.c) AS dot, "
        "sum(d.xq * d.xq) AS nv FROM d JOIN cent "
        "ON cent.label = d.label AND cent.i = d.i "
        "GROUP BY d.vec_id, d.label), "
        "cos AS (SELECT pr.label, vec_id, round(CAST(dot AS DOUBLE) / "
        "(sqrt(CAST(nv AS DOUBLE)) * sqrt(CAST(nc AS DOUBLE))), 6) + 0.0 "
        "AS cos_centroid FROM pr JOIN cnorm ON cnorm.label = pr.label), "
        "r AS (SELECT label, vec_id, cos_centroid, row_number() OVER "
        "(PARTITION BY label ORDER BY cos_centroid ASC, vec_id) AS rank "
        "FROM cos) "
        f"SELECT label, vec_id, cos_centroid, rank FROM r WHERE rank <= {_OUT_N}"
    )


def q_embedding_outliers(spark, sf_dir):
    """Per-label embedding outliers (pipeline/similarity.py
    label_outliers): the 10 vectors least cosine-similar to their own
    label's centroid — the label-noise sweep before any label is
    trusted. Exploded-dim DECIMAL arithmetic makes centroid sums, dot
    products and norms exact under any partitioning; the top-n per
    label runs the two-phase cap_per_group shape (bucket-local prune,
    then exact window over <= buckets*n survivors) so no label ever
    serializes through one reducer."""
    res = pl.label_outliers(_emb(spark, sf_dir), n=_OUT_N)
    return res.select(
        "label",
        "vec_id",
        "cos_centroid",
        F.col("rank").cast("bigint").alias("rank"),
    )


_TMIX_ALPHA, _TMIX_BUDGET = 0.7, 0.5


def _temperature_mix_oracle() -> str:
    a, bf = _TMIX_ALPHA, _TMIX_BUDGET
    return (
        "WITH c AS (SELECT source, count(*) AS cnt FROM documents "
        "GROUP BY source), "
        f"wt AS (SELECT source, cnt, CAST(round(pow(cnt, {a}), 6) "
        "AS DECIMAL(18,6)) AS w FROM c), "
        "tot AS (SELECT sum(w) AS tw, sum(cnt) AS n FROM wt), "
        "r AS (SELECT source, cnt, "
        "CAST(w AS DOUBLE) / CAST(tw AS DOUBLE) AS share, "
        f"CAST(floor({bf} * CAST(n AS DOUBLE) * "
        "(CAST(w AS DOUBLE) / CAST(tw AS DOUBLE))) AS BIGINT) AS target_n "
        "FROM wt, tot), "
        "rr AS (SELECT *, least(1.0, CAST(target_n AS DOUBLE) / "
        "CAST(cnt AS DOUBLE)) AS rate FROM r), "
        "k AS (SELECT d.source, count(*) AS kept_n FROM documents d "
        "JOIN rr ON rr.source = d.source WHERE "
        "(('0x' || substring(md5('tmix|' || d.source || '|' || "
        "CAST(d.doc_id AS VARCHAR)), 1, 15))::BIGINT / 16.0^15) < rate "
        "GROUP BY d.source) "
        "SELECT rr.source, cnt, round(share, 6) + 0.0 AS share, target_n, "
        "CAST(coalesce(kept_n, 0) AS BIGINT) AS kept_n "
        "FROM rr LEFT JOIN k ON k.source = rr.source"
    )


def q_dataset_temperature_mix(spark, sf_dir):
    """Temperature-flattened source mixing (pipeline/sample.py
    temperature_mix): sampling shares follow cnt^0.7 under a 50%
    total budget — the multilingual/multi-source LM mixing recipe
    with rates DERIVED from corpus counts rather than pinned. One
    source-keyed count, share math on the source-sized frame with a
    DECIMAL-exact denominator, then the salted-hash keep decision as
    a broadcast-rate projection — no sampling state anywhere."""
    return pl.temperature_mix(
        _docs(spark, sf_dir),
        source_col="source",
        alpha=_TMIX_ALPHA,
        budget_frac=_TMIX_BUDGET,
        salt="tmix",
    )


# --- NB classifier, exact AUC, MI feature selection --------------------------
# Target encoding and Markov transitions complete the label-aware /
# eval layer of the pipeline (features.py + text.py).


def _naive_bayes_oracle() -> str:
    return (
        "WITH t0 AS (SELECT doc_id, lang, "
        "unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS t "
        "FROM documents), "
        "lt AS (SELECT lang AS lab, t, count(*) AS c FROM t0 GROUP BY 1, 2), "
        "vocab AS (SELECT DISTINCT t FROM t0), "
        "vs AS (SELECT count(*) AS v FROM vocab), "
        "labs AS (SELECT DISTINCT lang AS lab FROM documents), "
        "nl AS (SELECT lang AS lab, count(*) AS n FROM t0 GROUP BY 1), "
        "dense AS (SELECT labs.lab, vocab.t, "
        "CAST(round(ln((coalesce(lt.c, 0) + 1.0) / (nl.n + vs.v)), 6) "
        "AS DECIMAL(18,6)) AS lp "
        "FROM vocab CROSS JOIN labs "
        "LEFT JOIN lt ON lt.lab = labs.lab AND lt.t = vocab.t "
        "JOIN nl ON nl.lab = labs.lab, vs), "
        "nd AS (SELECT count(*) AS n FROM documents), "
        "pri AS (SELECT lang AS lab, "
        "CAST(round(ln(CAST(count(*) AS DOUBLE) / nd.n), 6) "
        "AS DECIMAL(18,6)) AS prior FROM documents, nd GROUP BY lang, nd.n), "
        "tf AS (SELECT doc_id, t, count(*) AS tf FROM t0 GROUP BY 1, 2), "
        "sc AS (SELECT tf.doc_id, dense.lab AS cand, "
        "sum(tf.tf * dense.lp) AS lk FROM tf "
        "JOIN dense ON dense.t = tf.t GROUP BY 1, 2), "
        "sc2 AS (SELECT doc_id, cand, lk + prior AS score FROM sc "
        "JOIN pri ON pri.lab = sc.cand), "
        "r AS (SELECT doc_id, cand, score, row_number() OVER "
        "(PARTITION BY doc_id ORDER BY score DESC, cand) AS rn FROM sc2) "
        "SELECT r.doc_id, d.lang, cand AS pred, "
        "round(CAST(score AS DOUBLE), 6) + 0.0 AS score_q, "
        "cand = d.lang AS is_correct "
        "FROM r JOIN documents d ON d.doc_id = r.doc_id WHERE rn = 1"
    )


def q_naive_bayes_lang(spark, sf_dir):
    """One-pass multinomial Naive Bayes trained AND applied on the
    corpus (pipeline/text.py naive_bayes_lang): the model-free
    language/domain router a curation pipeline runs before anything
    learned exists. Training = two map-side-combinable aggregates
    (model size |vocab|x|labels|, corpus-independent); smoothing over
    the DENSE vocab x labels grid so unseen cells get mass;
    classification = one token join + per-doc argmax. Log-likelihoods
    quantize to DECIMAL(18,6) before the per-(doc, label) sum —
    scores exact under any partitioning; tie-break on the smallest
    label."""
    return pl.naive_bayes_lang(_docs(spark, sf_dir))


def _auc_oracle() -> str:
    return (
        "WITH h AS (SELECT n_chars AS s, "
        "CAST(sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT) AS pos, "
        "CAST(sum(CASE WHEN lang = 'en' THEN 0 ELSE 1 END) AS BIGINT) AS neg "
        "FROM documents GROUP BY 1), "
        "c AS (SELECT pos, neg, pos * (2 * coalesce(sum(neg) OVER "
        "(ORDER BY s ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) "
        "+ neg) AS c2 FROM h) "
        "SELECT CAST(sum(pos) AS BIGINT) AS n_pos, "
        "CAST(sum(neg) AS BIGINT) AS n_neg, "
        "round(CAST(sum(c2) AS DOUBLE) / "
        "(2.0 * CAST(sum(pos) AS DOUBLE) * CAST(sum(neg) AS DOUBLE)), 6) "
        "+ 0.0 AS auc_q FROM c"
    )


def q_auc_eval(spark, sf_dir):
    """Exact ROC AUC without a global sort (pipeline/features.py
    auc_exact — here: how well document length separates English docs,
    the shape of any score-vs-label eval). The distinct-score
    histogram identity keeps everything integer-exact until one final
    divide: histogram aggregate (bounded by the score DOMAIN, not the
    row count), ordered window over that small frame only, 1-row
    aggregate — the plan that computes exact AUC over 10^11 rows where
    the naive rank window serializes one reducer."""
    d = _docs(spark, sf_dir).select(
        "n_chars", (F.col("lang") == "en").cast("int").alias("is_en")
    )
    return pl.auc_exact(d, score_col="n_chars", label_col="is_en")


_MI_K, _MI_MIN_DF = 20, 5


def _token_mi_oracle() -> str:
    import duckdb as _d  # noqa: F401  (documenting the engine twin)

    # the SAME loop that builds the Spark expression builds the SQL —
    # term ORDER matters (IEEE addition is non-associative), so both
    # trees add (label x present/absent) terms identically
    from .pipeline.text import MI_LANGS

    nt = "(SELECT CAST(count(*) AS DOUBLE) FROM documents)"
    terms = []
    for lab in MI_LANGS:
        nl = f"(SELECT CAST(count(*) AS DOUBLE) FROM documents WHERE lang = '{lab}')"
        p_lab = f"({nl} / {nt})"
        for present in (True, False):
            d = f"CAST(d_{lab} AS DOUBLE)" if present else f"({nl} - CAST(d_{lab} AS DOUBLE))"
            joint = f"({d} / {nt})"
            marg = (
                f"(CAST(df AS DOUBLE) / {nt})"
                if present
                else f"(({nt} - CAST(df AS DOUBLE)) / {nt})"
            )
            terms.append(
                f"CASE WHEN {joint} > 0 THEN {joint} * "
                f"ln({joint} / ({marg} * {p_lab})) ELSE 0.0 END"
            )
    mi = " + ".join(terms)
    per_lab = ", ".join(
        f"count(*) FILTER (lang = '{lab}') AS d_{lab}" for lab in MI_LANGS
    )
    return (
        "WITH pres AS (SELECT DISTINCT doc_id, lang, t FROM ("
        "SELECT doc_id, lang, unnest(list_filter(string_split(text, ' '), "
        "x -> x <> '')) AS t FROM documents)), "
        f"per AS (SELECT t, count(*) AS df, {per_lab} FROM pres "
        f"GROUP BY t HAVING count(*) >= {_MI_MIN_DF}) "
        f"SELECT t AS token, CAST(df AS BIGINT) AS df, "
        f"round({mi}, 6) + 0.0 AS mi_q FROM per "
        f"ORDER BY mi_q DESC, token LIMIT {_MI_K}"
    )


def q_token_mi(spark, sf_dir):
    """Mutual information between token presence and document label
    (pipeline/text.py token_label_mi) — the feature-selection /
    label-leakage sweep. One conditional aggregation over distinct
    (doc, token) pairs gives each token's full 2x|labels| contingency
    table (labels pinned → the MI formula is a FIXED IEEE expression
    tree, built by the same loop in both engines so term order
    matches); top-k via orderBy+limit = TakeOrderedAndProject."""
    return pl.token_label_mi(
        _docs(spark, sf_dir), k=_MI_K, min_df=_MI_MIN_DF
    )


_TE_SMOOTH = 10.0


def _target_encoding_oracle() -> str:
    m = _TE_SMOOTH
    return (
        "WITH b AS (SELECT event_id, event_type, "
        "CAST(round(CAST(value AS DOUBLE), 6) AS DECIMAL(18,6)) AS t "
        "FROM events), "
        "pc AS (SELECT event_type, sum(t) AS s, count(*) AS n FROM b "
        "GROUP BY event_type), "
        "g AS (SELECT round(CAST(sum(t) AS DOUBLE) / count(*), 6) AS prior "
        "FROM b) "
        "SELECT event_id, b.event_type, "
        f"round((CAST(s AS DOUBLE) - CAST(t AS DOUBLE) + {m!r} * prior) / "
        f"(CAST(n AS DOUBLE) - 1.0 + {m!r}), 6) + 0.0 AS enc_q "
        "FROM b JOIN pc ON pc.event_type = b.event_type, g"
    )


def q_target_encoding(spark, sf_dir):
    """Leave-one-out smoothed mean-target encoding per event type
    (pipeline/features.py target_encoding) — the leakage-safe
    high-cardinality categorical feature. ONE category-keyed
    map-side-combinable aggregate broadcast back; the encoding is a
    pure projection (no window, no second pass). Targets quantize to
    DECIMAL(18,6) before summing, so category sums and the global
    prior are exact under any partitioning."""
    return pl.target_encoding(
        load_table(spark, "events", sf_dir),
        category_col="event_type",
        target_col="value",
        id_col="event_id",
        smoothing=_TE_SMOOTH,
    )


def _transitions_oracle() -> str:
    return (
        "WITH p AS (SELECT user_id, event_type AS from_type, "
        "lead(event_type) OVER (PARTITION BY user_id ORDER BY ts) AS to_type "
        "FROM events), "
        "c AS (SELECT from_type, to_type, CAST(count(*) AS BIGINT) AS cnt "
        "FROM p WHERE to_type IS NOT NULL GROUP BY 1, 2), "
        "t AS (SELECT from_type, sum(cnt) AS tot FROM c GROUP BY 1) "
        "SELECT c.from_type, to_type, cnt, "
        "round(CAST(cnt AS DOUBLE) / CAST(tot AS DOUBLE), 6) + 0.0 AS prob_q "
        "FROM c JOIN t ON t.from_type = c.from_type"
    )


def q_event_transitions(spark, sf_dir):
    """First-order Markov transition matrix over per-user event
    sequences (pipeline/features.py event_transitions) — the sequence
    prior behind session simulation and anomaly scoring. One per-user
    ordered window (users in parallel, no global sort) + one
    map-side-combinable count; the output is |types|^2 rows at ANY
    event volume. (user, ts) is unique in the events table, so the
    lead ordering is total."""
    return pl.event_transitions(load_table(spark, "events", sf_dir))


# --- variant-family unions ---------------------------------------------------


# --- data-quality layer (pipeline/quality.py) --------------------------------

_PROFILE_COLS = (
    "l_orderkey",
    "l_quantity",
    "l_returnflag",
    "l_shipdate",
    "l_extendedprice",
)
_PROFILE_NUMERIC = {"l_orderkey", "l_quantity", "l_extendedprice"}


def _data_profile_oracle() -> str:
    """DuckDB twin of pipeline.quality.data_profile over the pinned
    lineitem column list: one SELECT per column (the long-format
    unpack), identical null/distinct/min/max/mean algebra; means
    re-quantize through the shared epsilon-floor so cross-engine
    summation-order noise can't flip the 6th decimal."""
    parts = []
    for c in _PROFILE_COLS:
        mean = (
            _q3(f"round(avg(CAST({c} AS DOUBLE)), 6) + 0.0")
            if c in _PROFILE_NUMERIC
            else "CAST(NULL AS BIGINT)"
        )
        parts.append(
            f"SELECT '{c}' AS col_name, count(*) AS n, "
            f"count(CASE WHEN {c} IS NULL THEN 1 END) AS n_null, "
            f"count(DISTINCT {c}) AS n_distinct, "
            f"CAST(min({c}) AS VARCHAR) AS min_val, "
            f"CAST(max({c}) AS VARCHAR) AS max_val, "
            f"{mean} AS mean_q3 FROM lineitem"
        )
    return " UNION ALL ".join(parts)


def q_data_profile(spark, sf_dir):
    """Deequ-class one-pass column profiling (pipeline/quality.py
    data_profile) over five lineitem columns: count/nulls/min/max/mean
    ride ONE map-side-combinable aggregate; the exact multi-column
    distinct is the Expand pass — the exact-answer cost in any engine
    (at 100 TB you swap it for pipeline/sketches.hll_state)."""
    li = load_table(spark, "lineitem", sf_dir)
    res = pl.data_profile(li, columns=list(_PROFILE_COLS))
    return res.select(
        F.col("column").alias("col_name"),
        "n",
        "n_null",
        "n_distinct",
        "min_val",
        "max_val",
        _q3_col(F.col("mean_q")).alias("mean_q3"),
    )


_CHECK_CONSTRAINTS = (
    {"kind": "not_null", "column": "l_orderkey"},
    {"kind": "unique", "columns": ["l_orderkey", "l_linenumber"]},
    {"kind": "in_set", "column": "l_returnflag", "values": ["A", "N", "R"]},
    {"kind": "between", "column": "l_quantity", "min": 1, "max": 50},
    {"kind": "min_rows", "value": 1000},
    {"kind": "non_negative", "column": "l_extendedprice"},
)


def _constraint_check_oracle() -> str:
    """DuckDB twin of pipeline.quality.constraint_check on the pinned
    lineitem contract: the same six verdict rows from one stats CTE."""
    return (
        "WITH s AS (SELECT count(*) AS n, "
        "count(CASE WHEN l_orderkey IS NULL THEN 1 END) AS v0, "
        "count(DISTINCT (l_orderkey, l_linenumber)) AS d1, "
        "count(CASE WHEN l_returnflag IS NOT NULL AND l_returnflag "
        "NOT IN ('A', 'N', 'R') THEN 1 END) AS v2, "
        "count(CASE WHEN l_quantity IS NOT NULL AND (l_quantity < 1 "
        "OR l_quantity > 50) THEN 1 END) AS v3, "
        "count(CASE WHEN l_extendedprice IS NOT NULL AND "
        "l_extendedprice < 0 THEN 1 END) AS v5 FROM lineitem) "
        "SELECT * FROM ("
        "SELECT 'not_null(l_orderkey)' AS constraint_name, "
        "'not_null' AS kind, v0 = 0 AS passed, v0 AS n_violations, "
        "n AS n_rows FROM s UNION ALL "
        "SELECT 'unique(l_orderkey, l_linenumber)', 'unique', "
        "n - d1 = 0, n - d1, n FROM s UNION ALL "
        "SELECT 'in_set(l_returnflag)', 'in_set', v2 = 0, v2, n "
        "FROM s UNION ALL "
        "SELECT 'between(l_quantity, 1, 50)', 'between', v3 = 0, v3, n "
        "FROM s UNION ALL "
        "SELECT 'min_rows(1000)', 'min_rows', "
        "greatest(0, 1000 - n) = 0, greatest(0, 1000 - n), n FROM s "
        "UNION ALL "
        "SELECT 'non_negative(l_extendedprice)', 'non_negative', "
        "v5 = 0, v5, n FROM s)"
    )


def q_constraint_check(spark, sf_dir):
    """Declarative data-contract verification (pipeline/quality.py
    constraint_check): six constraints (null-free key, composite
    uniqueness, value domain, range, row floor, sign) compiled into
    ONE conditional aggregate + one distinct-count term — the gate a
    pipeline scheduler reads before consuming an input table."""
    li = load_table(spark, "lineitem", sf_dir)
    res = pl.constraint_check(li, list(_CHECK_CONSTRAINTS))
    return res.select(
        F.col("constraint").alias("constraint_name"),
        "kind",
        "passed",
        "n_violations",
        "n_rows",
    )


_WC_TYPES = ("click", "view", "purchase", "signup")


def _windowed_constraints_oracle() -> str:
    """DuckDB twin of pipeline.quality.windowed_constraints over
    1-day event-time windows of the events table: identical epoch
    bucketing (the stream_window_stats precedent) and the same five
    verdict rows per window."""
    ws = f"(epoch_ns(ts) // {_WIN_SECONDS * 1_000_000_000}) * {_WIN_SECONDS}"
    inset = ", ".join(f"'{t}'" for t in _WC_TYPES)
    return (
        f"WITH s AS (SELECT {ws} AS ws, count(*) AS n, "
        "count(CASE WHEN value IS NULL THEN 1 END) AS v0, "
        "count(CASE WHEN value IS NOT NULL AND (value < 0 OR value > 100) "
        "THEN 1 END) AS v1, "
        "count(CASE WHEN event_type IS NOT NULL AND event_type NOT IN "
        f"({inset}) THEN 1 END) AS v2, "
        "count(CASE WHEN value IS NOT NULL AND value < 0 THEN 1 END) AS v4 "
        "FROM events GROUP BY ws) "
        "SELECT * FROM ("
        "SELECT ws AS window_start, 'not_null(value)' AS constraint_name, "
        "'not_null' AS kind, v0 = 0 AS passed, v0 AS n_violations, "
        "n AS n_rows FROM s UNION ALL "
        "SELECT ws, 'between(value, 0, 100)', 'between', v1 = 0, v1, n "
        "FROM s UNION ALL "
        "SELECT ws, 'in_set(event_type)', 'in_set', v2 = 0, v2, n "
        "FROM s UNION ALL "
        "SELECT ws, 'min_rows(50)', 'min_rows', greatest(0, 50 - n) = 0, "
        "greatest(0, 50 - n), n FROM s UNION ALL "
        "SELECT ws, 'non_negative(value)', 'non_negative', v4 = 0, v4, n "
        "FROM s)"
    )


def q_windowed_constraints(spark, sf_dir):
    """Event-time windowed data-quality monitoring (pipeline/quality.py
    windowed_constraints) — the BATCH execution of the identical
    incremental ``groupBy(window(...))`` plan the streaming monitor
    runs (the stream_window_stats routing precedent; the live
    stream-equals-batch pin lives in tests/test_streaming.py). Five
    constraints per 1-day window over events: null-free values, a
    [0, 100] range (real violations — values reach ~490), the
    event-type domain minus 'error' (real violations), a 50-row
    per-window volume floor, and a sign check."""
    from .pipeline.quality import windowed_constraints

    ev = load_table(spark, "events", sf_dir).select(
        "ts", "event_type", "value"
    )
    res = windowed_constraints(
        ev,
        dim="ts",
        constraints=[
            {"kind": "not_null", "column": "value"},
            {"kind": "between", "column": "value", "min": 0, "max": 100},
            {"kind": "in_set", "column": "event_type", "values": list(_WC_TYPES)},
            {"kind": "min_rows", "value": 50},
            {"kind": "non_negative", "column": "value"},
        ],
        window=f"{_WIN_SECONDS} seconds",
        watermark="1 day",
    )
    return res.select(
        "window_start",
        F.col("constraint").alias("constraint_name"),
        "kind",
        "passed",
        "n_violations",
        "n_rows",
    )


_MW_SECONDS = 3600


def _missing_windows_oracle() -> str:
    """DuckDB twin of pipeline.quality.missing_windows over 1-hour
    'error'-event windows: identical epoch bucketing (epoch_ns // per
    — the windowed_constraints precedent), the expected grid as an
    inclusive range over the observed min/max, and the subtraction as
    the same anti-join (LEFT JOIN ... WHERE NULL). Every derived
    column CAST to BIGINT (the sequence_pack HUGEINT lesson)."""
    per = _MW_SECONDS
    ns = per * 1_000_000_000
    return (
        f"WITH o AS (SELECT DISTINCT CAST((epoch_ns(ts) // {ns}) * {per} "
        "AS BIGINT) AS ws FROM events WHERE event_type = 'error'), "
        "b AS (SELECT min(ws) AS lo, max(ws) AS hi FROM o), "
        f"g AS (SELECT CAST(unnest(range(lo, hi + {per}, {per})) "
        "AS BIGINT) AS window_start FROM b) "
        "SELECT g.window_start FROM g LEFT JOIN o ON g.window_start = o.ws "
        "WHERE o.ws IS NULL"
    )


def q_missing_windows(spark, sf_dir):
    """Total-silence (dead-feed) detection (pipeline/quality.py
    missing_windows): 1-hour windows of 'error' events that produced
    ZERO rows — the gap class no per-window aggregate can report
    because silent windows emit no aggregate row at all. Default
    (unpinned) horizon = observed min/max, so this is the
    interior-gap configuration; the pinned live-monitor path skips
    the bounds scan entirely (ADVICE r10 #2) and is unit-tested. The
    grid is one sequence() projection — O(windows), a calendar
    property — and the subtraction a broadcastable left-anti join;
    no event-volume shuffle anywhere (538 silent windows at sf0.001,
    42 at sf0.01 — real gaps at both CI scales)."""
    from .functions import timeutil
    from .pipeline.quality import missing_windows

    per = _MW_SECONDS
    ev = load_table(spark, "events", sf_dir).where(
        F.col("event_type") == "error"
    )
    # ts is timestamp_ntz: project to epoch seconds via epoch_us (the
    # sessionize precedent), then integer bucketing — no float division
    sec = (timeutil.epoch_us(ev, "ts") / F.lit(1_000_000)).cast("bigint")
    obs = ev.select((sec - sec % per).alias("window_start"))
    return missing_windows(obs, window_seconds=per)


def _keep_best_oracle() -> str:
    """Recursive-CTE connected components over the SAME minhash pair
    SQL dedup_clusters pins, then the deterministic survivor rule
    (max n_chars, ties -> min doc_id) as a row_number window — the
    full per-doc verdict frame including singleton clusters."""
    return f"""
WITH RECURSIVE pairs AS ({_minhash_oracle()}),
edges AS (
  SELECT a_id AS src, b_id AS dst FROM pairs
  UNION
  SELECT b_id AS src, a_id AS dst FROM pairs
),
walk(id, comp) AS (
  SELECT src, src FROM edges
  UNION
  SELECT e.dst, w.comp FROM walk w JOIN edges e ON e.src = w.id
),
comp AS (SELECT id, min(comp) AS cluster_id FROM walk GROUP BY id),
d AS (
  SELECT doc_id, n_chars, coalesce(c.cluster_id, doc_id) AS cluster_id
  FROM documents LEFT JOIN comp c ON c.id = doc_id
),
r AS (
  SELECT doc_id, cluster_id,
         row_number() OVER (PARTITION BY cluster_id
                            ORDER BY n_chars DESC, doc_id) AS rn,
         count(*) OVER (PARTITION BY cluster_id) AS n_members
  FROM d
)
SELECT doc_id, cluster_id,
       CAST(max(CASE WHEN rn = 1 THEN doc_id END)
            OVER (PARTITION BY cluster_id) AS BIGINT) AS keep_id,
       doc_id = max(CASE WHEN rn = 1 THEN doc_id END)
                OVER (PARTITION BY cluster_id) AS kept,
       CAST(n_members AS BIGINT) AS n_members
FROM r
"""


def q_dedup_keep_best(spark, sf_dir):
    """Cluster resolution — the missing step between pair emission and
    the actual training corpus (pipeline/dedup.py keep_best): minhash
    near-dup pairs -> transitive clusters -> ONE deterministic
    survivor per cluster (max n_chars, ties min id), one verdict row
    per input doc. Plan: the iterative CC runs over the pair-node
    frame (tiny next to the corpus); the corpus side pays two keyed
    equi-joins and one map-side-combinable max_by aggregate — no
    window over the corpus, no all-pairs stage."""
    docs = _docs(spark, sf_dir)
    pairs = pl.minhash_pairs(
        docs,
        num_hashes=_MINHASH_N,
        bands=_MINHASH_BANDS,
        threshold=_MINHASH_THRESHOLD,
    )
    return pl.keep_best(
        docs.select("doc_id", "n_chars"), pairs, quality_col="n_chars"
    )


def _split_safe_oracle() -> str:
    """CC over the minhash pairs (the dedup_clusters recursive CTE),
    coalesce singletons to their own id, then the literal hash_uniform
    md5 arithmetic over the CLUSTER id — the whole per-doc assignment
    pinned row-for-row."""
    return f"""
WITH RECURSIVE pairs AS ({_minhash_oracle()}),
edges AS (
  SELECT a_id AS src, b_id AS dst FROM pairs
  UNION
  SELECT b_id AS src, a_id AS dst FROM pairs
),
walk(id, comp) AS (
  SELECT src, src FROM edges
  UNION
  SELECT e.dst, w.comp FROM walk w JOIN edges e ON e.src = w.id
),
comp AS (SELECT id, min(comp) AS cluster_id FROM walk GROUP BY id),
d AS (
  SELECT doc_id, coalesce(c.cluster_id, doc_id) AS cluster_id
  FROM documents LEFT JOIN comp c ON c.id = doc_id
),
u AS (
  SELECT doc_id, cluster_id,
         (('0x' || substring(md5('split|' || CAST(cluster_id AS VARCHAR)), 1, 15))::BIGINT
          / 16.0^15) AS u
  FROM d
)
SELECT doc_id, CAST(cluster_id AS BIGINT) AS cluster_id,
       CASE WHEN u < 0.8 THEN 'train' WHEN u < 0.9 THEN 'val'
            ELSE 'test' END AS split
FROM u
"""


def q_dataset_split_safe(spark, sf_dir):
    """Leakage-safe splitting (pipeline/sample.py
    split_assign_clustered): near-duplicate cluster members land in
    the SAME train/val/test split — plain id-hash splitting lets two
    near-copies straddle train and test, which is exactly the
    benchmark-contamination hole decontaminate() exists to detect
    after the fact; this prevents it at assignment time. The hash
    input is the transitive cluster id (min-label CC over the same
    minhash pairs dedup uses; singletons hash their own id), so the
    corpus pays one keyed equi-join against the pair-node-sized
    component frame and the split stays a pure projection."""
    docs = _docs(spark, sf_dir)
    pairs = pl.minhash_pairs(
        docs,
        num_hashes=_MINHASH_N,
        bands=_MINHASH_BANDS,
        threshold=_MINHASH_THRESHOLD,
    )
    res = pl.split_assign_clustered(
        docs.select("doc_id"), pairs, weights=dict(_SPLIT_W), salt="split"
    )
    return res.select("doc_id", "cluster_id", "split")


def _key_skew_oracle() -> str:
    """DuckDB twin of pipeline.quality.key_skew_profile over orders'
    o_custkey: identical integer bit-length bucketing (length(bin(c)) -
    1 == Spark's length(conv(c, 10, 2)) - 1 — exact at power-of-two
    boundaries where float log2 flips), BIGINT casts on the HUGEINT
    sum."""
    return (
        "WITH c AS (SELECT o_custkey AS k, count(*) AS c "
        "FROM orders GROUP BY o_custkey) "
        "SELECT CAST(length(bin(c)) - 1 AS BIGINT) AS log2_bucket, "
        "count(*) AS n_keys, CAST(sum(c) AS BIGINT) AS n_rows, "
        "max(c) AS max_count "
        "FROM c GROUP BY 1"
    )


def q_key_skew_profile(spark, sf_dir):
    """Per-key volume histogram (pipeline/quality.py key_skew_profile)
    over orders' o_custkey — the detect half of skew handling (the fix
    half is operators/joins.skew_join): one map-side-combinable
    groupBy(key).count() shuffle (the same exchange any downstream
    join would pay) + one aggregation over the keys-sized count frame,
    bucketed by integer bit length so both engines agree byte-exactly
    at power-of-two boundaries."""
    from .pipeline.quality import key_skew_profile

    orders = load_table(spark, "orders", sf_dir).select("o_custkey")
    return key_skew_profile(orders, key_col="o_custkey")


_FREQ_K = 5


def _frequent_values_oracle() -> str:
    """DuckDB twin of pipeline.quality.frequent_values over the pinned
    (lineitem ⨯-stacked with orders-priority) columns: same stacked
    (column, value-as-string) counts, same (cnt DESC, value ASC)
    ranking, top-5 per column."""
    return (
        "WITH st AS ("
        "SELECT 'l_returnflag' AS col_name, CAST(l_returnflag AS VARCHAR) AS v "
        "FROM lineitem WHERE l_returnflag IS NOT NULL UNION ALL "
        "SELECT 'l_quantity', CAST(l_quantity AS VARCHAR) FROM lineitem "
        "WHERE l_quantity IS NOT NULL UNION ALL "
        "SELECT 'o_orderpriority', CAST(o_orderpriority AS VARCHAR) "
        "FROM orders WHERE o_orderpriority IS NOT NULL), "
        "c AS (SELECT col_name, v, count(*) AS cnt FROM st "
        "GROUP BY col_name, v), "
        "r AS (SELECT col_name, v AS value, cnt, row_number() OVER "
        "(PARTITION BY col_name ORDER BY cnt DESC, v ASC) AS rank FROM c) "
        f"SELECT col_name, value, cnt, rank FROM r WHERE rank <= {_FREQ_K}"
    )


def q_frequent_values(spark, sf_dir):
    """Per-column top-k frequent values (pipeline/quality.py
    frequent_values) — the value-distribution half of profiling, over
    two lineitem columns plus orders.o_orderpriority (two tables, one
    operator call each, union'd): one stacked projection per table,
    one count shuffle, two-phase per-column top-k so no column's
    distribution serializes through one reducer."""
    li = load_table(spark, "lineitem", sf_dir)
    od = load_table(spark, "orders", sf_dir)
    a = pl.frequent_values(li, ["l_returnflag", "l_quantity"], k=_FREQ_K)
    b = pl.frequent_values(od, ["o_orderpriority"], k=_FREQ_K)
    return a.unionAll(b).select(
        F.col("column").alias("col_name"),
        "value",
        "cnt",
        "rank",
    )


# --- variant-family unions ---------------------------------------------------


# --- DSIR importance weights (pipeline/text.py dsir_weights) ----------------

_DSIR_LAMBDA = 0.5


def _dsir_oracle() -> str:
    """DuckDB twin of pipeline.text.dsir_weights(target=lang=='en',
    smoothing=0.5) over documents: identical one-pass conditional
    vocabulary, shared-support add-λ LMs, per-doc log-ratio sum
    quantized at 1e-3 milli-units."""
    lam = _DSIR_LAMBDA
    return (
        "WITH tok AS (SELECT doc_id, lang = 'en' AS tgt, "
        "unnest(list_filter(string_split(text, ' '), t -> t <> '')) AS token "
        "FROM documents), "
        "vocab AS (SELECT token, count(*) AS tf_raw, "
        "count(*) FILTER (WHERE tgt) AS tf_tgt FROM tok GROUP BY token), "
        "tot AS (SELECT sum(tf_raw) AS n_raw, sum(tf_tgt) AS n_tgt, "
        "count(*) AS v_size FROM vocab), "
        "j AS (SELECT t.doc_id, "
        f"ln((v.tf_tgt + {lam}) / (tot.n_tgt + {lam} * tot.v_size)) - "
        f"ln((v.tf_raw + {lam}) / (tot.n_raw + {lam} * tot.v_size)) AS lr "
        "FROM tok t JOIN vocab v USING (token) CROSS JOIN tot) "
        "SELECT doc_id, count(*) AS n_tokens, "
        + _q3("sum(lr)")
        + " AS w_q FROM j GROUP BY doc_id"
    )


def q_dsir_weights(spark, sf_dir):
    """DSIR importance weights (pipeline/text.py dsir_weights; Xie et
    al. 2023): log p_target − log p_raw per doc under two add-λ
    unigram LMs fit in ONE conditional-aggregate pass, target = the
    English rows. The selection half (rank/threshold/weighted_sample
    over these weights) is already registered machinery."""
    res = pl.dsir_weights(
        _docs(spark, sf_dir),
        F.col("lang") == "en",
        smoothing=_DSIR_LAMBDA,
    )
    return res.select(
        "doc_id", "n_tokens", _q3_col(F.col("weight")).alias("w_q")
    )


# ---------------------------------------------------------------------------
# the registry: name -> (query, oracle SQL), in driver order
# ---------------------------------------------------------------------------

# Variant-tag unions that only project leaf queries onto one shared
# column list: name -> branches, each ``(leaf_query, leaf_oracle, cols)``.
# ``cols`` is one list of SQL projections that both engines run: Spark
# as ``leaf_query(...).selectExpr(*cols)``, DuckDB as ``SELECT cols
# FROM (leaf_oracle)``. A two-item branch ``(name, cols)`` projects the
# inner ``_UNIONS[name]`` entry. Fillers are typed (``CAST(0 AS DOUBLE)``,
# not ``0.0``, which both engines parse as DECIMAL) so a filler has the
# Spark type of the column it fills on both engines.
_UNIONS = {
    "fft": (
        (q_fft, _FFT_ORACLE,
            ("'fft' AS variant", "user_id", "idx", "re4 AS va", "im4 AS vb")),
        (q_rfft_merged, _rfft_merged_oracle(),
            ("'rfft_' || variant AS variant", "user_id", "idx",
             "CAST(re_q AS DOUBLE) AS va", "CAST(im_q AS DOUBLE) AS vb")),
    ),
    "convolve_family": (
        (q_fftconvolve, _FFTCONVOLVE_ORACLE,
            ("'full' AS variant", "user_id", "idx", "conv4 AS v4")),
        (q_convolve, _CONVOLVE_ORACLE,
            ("'same' AS variant", "user_id", "idx", "conv4 AS v4")),
        (q_correlate, _CORRELATE_ORACLE,
            ("'xcorr' AS variant", "user_id", "idx", "corr4 AS v4")),
    ),
    "fftconvolve": (
        ("convolve_family",
            ("variant", "user_id", "idx", "v4 AS va", "CAST(0 AS DOUBLE) AS vb")),
        (q_convolve_merged, _convolve_merged_oracle(),
            ("'valid_' || variant AS variant", "user_id", "idx", "v6 AS va",
             "CAST(0 AS DOUBLE) AS vb")),
        (q_deconvolve, _deconvolve_oracle(),
            ("'deconv' AS variant", "user_id", "idx", "quot_q AS va", "rem_q AS vb")),
    ),
    "decimate_fir": (
        (q_decimate_fir, _DECIMATE_FIR_ORACLE,
            ("'fir' AS variant", "user_id", "idx", "value4")),
        (q_decimate_iir_merged, _decimate_iir_merged_oracle(),
            ("'iir_' || variant AS variant", "user_id", "idx", "value4")),
    ),
    "resample": (
        (q_resample, _RESAMPLE_ORACLE,
            ("'time' AS variant", "user_id", "idx", "value4 AS va",
             "CAST(0 AS DOUBLE) AS vb")),
        (q_resample_poly, _resample_poly_oracle(),
            ("'poly' AS variant", "user_id", "idx", "value4 AS va",
             "CAST(0 AS DOUBLE) AS vb")),
        (q_resample_freq, _RESAMPLE_FREQ_ORACLE,
            ("'freq' AS variant", "user_id", "idx", "re4 AS va", "im4 AS vb")),
    ),
    "stft": (
        (q_stft, _STFT_ORACLE,
            ("'stft' AS variant", "user_id", "frame AS i", "bin AS j", "re4 AS va",
             "im4 AS vb")),
        (q_coherence, _COHERENCE_ORACLE,
            ("'coherence' AS variant", "user_id", "idx AS i", "CAST(-1 AS BIGINT) AS j",
             "coh6 AS va", "CAST(0 AS DOUBLE) AS vb")),
    ),
    "istft_roundtrip": (
        (q_istft_roundtrip, _ISTFT_ORACLE,
            ("'fused' AS variant", "user_id", "t", "val4")),
        (q_istft_native, _ISTFT_ORACLE,
            ("'native' AS variant", "user_id", "t", "val4")),
    ),
    "welch_windows": (
        (q_welch, _welch_oracle(), ("'hann' AS variant", "user_id", "idx", "power4")),
        (q_welch_blackman, _welch_oracle("blackman"),
            ("'blackman' AS variant", "user_id", "idx", "power4")),
    ),
    "csd": (
        (q_csd, _csd_oracle(),
            ("'csd' AS variant", "user_id", "idx AS i1", "CAST(-1 AS BIGINT) AS i2",
             "CAST(re_q AS DOUBLE) AS va", "CAST(im_q AS DOUBLE) AS vb")),
        (q_spectrogram, _spectrogram_oracle(),
            ("'sgram' AS variant", "user_id", "frame AS i1", "bin AS i2", "pow4 AS va",
             "CAST(0 AS DOUBLE) AS vb")),
    ),
    "welch": (
        ("welch_windows",
            ("'w_' || variant AS variant", "user_id", "idx AS i1",
             "CAST(-1 AS BIGINT) AS i2", "power4 AS va", "CAST(0 AS DOUBLE) AS vb")),
        ("csd", ("'c_' || variant AS variant", "user_id", "i1", "i2", "va", "vb")),
    ),
    "cwt_ricker": (
        (q_cwt_ricker, _cwt_oracle(),
            ("'cwt' AS variant", "user_id", "idx", "value4 AS v")),
        (q_periodogram, _PERIODOGRAM_ORACLE,
            ("'pgram' AS variant", "user_id", "idx", "CAST(power_q AS DOUBLE) AS v")),
    ),
    "hilbert": (
        (q_hilbert, _HILBERT_ORACLE,
            ("'analytic' AS variant", "user_id", "idx", "re4 AS va", "im4 AS vb")),
        (q_hilbert_envelope, _HILBERT_ENVELOPE_ORACLE,
            ("'envelope' AS variant", "user_id", "idx", "env4 AS va",
             "CAST(0 AS DOUBLE) AS vb")),
    ),
    "sosfilt": (
        (q_sosfilt, _SOSFILT_ORACLE, ("'sos' AS variant", "user_id", "idx", "value4")),
        (q_sosfilt_chunked, _SOSFILT_CHUNKED_ORACLE,
            ("'chunked' AS variant", "user_id", "idx", "value4")),
        (q_sosfiltfilt_merged, _sosfiltfilt_merged_oracle(),
            ("'ff_' || variant AS variant", "user_id", "idx", "value4")),
    ),
    "lfilter": (
        (q_lfilter, _LFILTER_ORACLE,
            ("'causal' AS variant", "user_id", "idx", "value4")),
        (q_filtfilt, _FILTFILT_ORACLE,
            ("'zerophase' AS variant", "user_id", "idx", "value4")),
    ),
    "peak_widths": (
        (q_peak_widths, _peak_widths_oracle(),
            ("'width' AS variant", "user_id", "peak", "CAST(width_q AS DOUBLE) AS a",
             "CAST(wh_q AS DOUBLE) AS b", "CAST(lip_q AS DOUBLE) AS c",
             "CAST(rip_q AS DOUBLE) AS d")),
        (q_find_peaks, _FIND_PEAKS_ORACLE,
            ("'peak' AS variant", "user_id", "peak", "CAST(index AS DOUBLE) AS a",
             "val4 AS b", "CAST(0 AS DOUBLE) AS c", "CAST(0 AS DOUBLE) AS d")),
    ),
    "dedup_exact": (
        (q_dedup_exact, _DEDUP_EXACT_ORACLE,
            ("'exact' AS variant", "keep_id AS k1", "CAST(-1 AS BIGINT) AS k2",
             "content_hash AS s", "n_copies AS a", "CAST(-1 AS BIGINT) AS b",
             "CAST(-1 AS BIGINT) AS c", "CAST(-1 AS BIGINT) AS d",
             "CAST(0 AS DOUBLE) AS x")),
        (q_dedup_ngram_jaccard, _DEDUP_NGRAM_JACCARD_ORACLE,
            ("'jaccard' AS variant", "a_id AS k1", "b_id AS k2", "'' AS s",
             "CAST(-1 AS BIGINT) AS a", "CAST(-1 AS BIGINT) AS b",
             "CAST(-1 AS BIGINT) AS c", "CAST(-1 AS BIGINT) AS d", "jaccard AS x")),
        (q_dedup_ngram_spans, _dup_ngram_oracle(),
            ("'spans' AS variant", "doc_id AS k1", "CAST(-1 AS BIGINT) AS k2",
             "'' AS s", "n_tokens AS a", "n_grams AS b", "n_dup_grams AS c",
             "frac_q AS d", "CAST(0 AS DOUBLE) AS x")),
    ),
    "dedup_pairs": (
        (q_dedup_minhash, _minhash_oracle(),
            ("'minhash' AS variant", "a_id", "b_id", "jaccard AS score")),
        (q_dedup_simhash, _simhash_oracle(),
            ("'simhash' AS variant", "a_id", "b_id",
             "CAST(hamming AS DOUBLE) AS score")),
        (q_dedup_embedding, _DEDUP_EMBEDDING_ORACLE,
            ("'embedding' AS variant", "a_id", "b_id", "cos_sim AS score")),
    ),
    "dedup_minhash": (
        ("dedup_pairs", ("variant", "a_id", "b_id", "score")),
        (q_dedup_minhash_cross, _minhash_cross_oracle(),
            ("'cross' AS variant", "left_id AS a_id", "right_id AS b_id",
             "jaccard AS score")),
    ),
    "ann_cosine_topk": (
        (q_ann_cosine_topk, _ANN_COSINE_TOPK_ORACLE,
            ("'exact' AS variant", "query_id", "rank", "neighbor_id", "cos_sim")),
        (q_ann_cosine_topk_lsh, _lsh_topk_oracle(),
            ("'lsh' AS variant", "query_id", "rank", "neighbor_id", "cos_sim")),
    ),
    "ann_cosine_topk_ivf": (
        (q_ann_cosine_topk_ivf, _ANN_COSINE_TOPK_IVF_ORACLE,
            ("'ivf' AS variant", "query_id", "rank", "neighbor_id", "cos_sim")),
        (q_ann_cosine_topk_kmeans, _kmeans_topk_oracle(),
            ("'kmeans' AS variant", "query_id", "rank", "neighbor_id", "cos_sim")),
    ),
    "text_hygiene": (
        (q_clean_text, _clean_text_oracle(),
            ("'clean' AS variant", "doc_id AS k", "n_removed AS n", "clean_md5 AS s")),
        (q_url_canonical_dedup, _url_dedup_oracle(),
            ("'url' AS variant", "keep_id AS k", "n_docs AS n", "cu AS s")),
    ),
    "curation_report": (
        (q_curation_report, _curation_oracle(),
            ("'cur' AS variant", "doc_id", "quality6 AS f1", "CAST(-1 AS BIGINT) AS n1",
             "status AS s1")),
        ("text_hygiene",
            ("variant", "k AS doc_id", "CAST(0 AS DOUBLE) AS f1", "n AS n1",
             "s AS s1")),
    ),
    "embedding_quantize": (
        (q_embedding_quantize, _quantize_oracle(),
            ("'quant' AS variant", "vec_id AS k1", "CAST(-1 AS BIGINT) AS k2",
             "q0 AS a", "q1 AS b", "q2 AS c", "q3 AS d", "sum_q AS e",
             "scale0_6 AS x")),
        (q_embedding_pca, _pca_oracle(),
            ("'pca_' || variant AS variant", "i AS k1", "j AS k2",
             "CAST(-1 AS BIGINT) AS a", "CAST(-1 AS BIGINT) AS b",
             "CAST(-1 AS BIGINT) AS c", "CAST(-1 AS BIGINT) AS d", "v_q AS e",
             "CAST(0 AS DOUBLE) AS x")),
    ),
    "dataset_split": (
        (q_dataset_split, _DATASET_SPLIT_ORACLE,
            ("'split' AS variant", "split AS k1", "lang", "n",
             "CAST(0 AS BIGINT) AS min_id", "CAST(0 AS BIGINT) AS max_id",
             "CAST(0 AS BIGINT) AS sum_id")),
        (q_dataset_stratified, _DATASET_STRATIFIED_ORACLE,
            ("'stratified' AS variant", "'' AS k1", "lang", "n", "min_id", "max_id",
             "sum_id")),
    ),
    "dataset_mix": (
        (q_dataset_mix, _DATASET_MIX_ORACLE,
            ("'mix' AS variant", "source AS k1", "n AS n1", "min_id AS n2",
             "max_id AS n3")),
        (q_cap_per_group, _cap_oracle(),
            ("'cap' AS variant", "CAST(grp AS STRING) AS k1", "doc_id AS n1",
             "CAST(-1 AS BIGINT) AS n2", "CAST(-1 AS BIGINT) AS n3")),
        (q_filter_by_quantile, _filter_quantile_oracle(),
            ("'qfilter' AS variant", "event_type AS k1", "event_id AS n1",
             "thr_q AS n2", "CAST(-1 AS BIGINT) AS n3")),
    ),
    "decontaminate": (
        (q_decontaminate, _DECONTAMINATE_ORACLE,
            ("'ngram' AS variant", "doc_id", "n_shared_ngrams AS n", "contaminated")),
        (q_bloom_decontaminate, _bloom_oracle(),
            ("'bloom' AS variant", "doc_id", "n_flagged_shingles AS n",
             "contaminated")),
    ),
    "multimodal_features": (
        (q_multimodal_features, _multimodal_oracle(),
            ("'features' AS variant", "doc_id", "CAST(n_bytes AS BIGINT) AS k",
             "'' AS s", "f0", "f1", "f2", "f3")),
        (q_multimodal_resize, _MULTIMODAL_RESIZE_ORACLE,
            ("'resize' AS variant", "doc_id", "CAST(n_bytes AS BIGINT) AS k",
             "digest AS s", "CAST(0 AS DOUBLE) AS f0", "CAST(0 AS DOUBLE) AS f1",
             "CAST(0 AS DOUBLE) AS f2", "CAST(0 AS DOUBLE) AS f3")),
        (q_multimodal_frame_sample, _MULTIMODAL_FRAME_SAMPLE_ORACLE,
            ("'frame' AS variant", "doc_id", "CAST(frame_idx AS BIGINT) AS k",
             "'' AS s", "f0", "CAST(0 AS DOUBLE) AS f1", "CAST(0 AS DOUBLE) AS f2",
             "CAST(0 AS DOUBLE) AS f3")),
    ),
    "multimodal_real_decode": (
        (q_multimodal_real_decode, _MULTIMODAL_REAL_DECODE_ORACLE,
            ("'img' AS variant", "doc_id", "CAST(n_bytes AS BIGINT) AS k", "f0_4 AS v1",
             "f1_4 AS v2", "f2_4 AS v3", "f3 AS v4", "f4 AS v5")),
        (q_multimodal_video_frames, _video_frames_oracle(),
            ("'video' AS variant", "doc_id", "frame_idx AS k", "f0_4 AS v1",
             "CAST(0 AS DOUBLE) AS v2", "CAST(0 AS DOUBLE) AS v3",
             "CAST(0 AS DOUBLE) AS v4", "CAST(0 AS DOUBLE) AS v5")),
    ),
    "multimodal_audio_decode": (
        (q_multimodal_audio_decode, _MULTIMODAL_AUDIO_DECODE_ORACLE,
            ("'audio' AS variant", "doc_id", "CAST(n_bytes AS BIGINT) AS nb", "'' AS s",
             "rms6 AS m1", "mean6 AS m2", "n_frames AS m3", "sample_rate AS m4")),
        (q_multimodal_gzip_decode, _MULTIMODAL_GZIP_DECODE_ORACLE,
            ("'gzip' AS variant", "doc_id", "text_bytes AS nb", "text_md5 AS s",
             "CAST(0 AS DOUBLE) AS m1", "CAST(0 AS DOUBLE) AS m2",
             "CAST(0 AS DOUBLE) AS m3", "CAST(0 AS DOUBLE) AS m4")),
    ),
    "tpch_q1q6": (
        (q_tpch_q1, _TPCH_Q1_ORACLE,
            ("'q1' AS variant", "l_returnflag AS rf", "l_linestatus AS ls",
             "sum_qty AS m1", "sum_base_price AS m2", "sum_disc_price AS m3",
             "sum_charge AS m4", "count_order AS cnt")),
        (q_tpch_q6, _TPCH_Q6_ORACLE,
            ("'q6' AS variant", "'' AS rf", "'' AS ls", "revenue AS m1",
             "CAST(0 AS DOUBLE) AS m2", "CAST(0 AS DOUBLE) AS m3",
             "CAST(0 AS DOUBLE) AS m4", "n AS cnt")),
    ),
    "tpch_q3q5": (
        (q_tpch_q3, _TPCH_Q3_ORACLE,
            ("'q3' AS variant", "l_orderkey AS k", "o_orderdate AS s", "revenue",
             "CAST(-1 AS BIGINT) AS n")),
        (q_tpch_q5, _TPCH_Q5_ORACLE,
            ("'q5' AS variant", "CAST(-1 AS BIGINT) AS k", "n_name AS s", "revenue",
             "n")),
    ),
    "tpch_q1": (
        ("tpch_q1q6",
            ("variant", "rf AS s1", "ls AS s2", "m1 AS v1", "m2 AS v2", "m3 AS v3",
             "m4 AS v4", "cnt")),
        ("tpch_q3q5",
            ("variant", "CAST(k AS STRING) AS s1", "CAST(s AS STRING) AS s2",
             "revenue AS v1", "CAST(0 AS DOUBLE) AS v2", "CAST(0 AS DOUBLE) AS v3",
             "CAST(0 AS DOUBLE) AS v4", "n AS cnt")),
    ),
    "sessionize": (
        (q_sessionize, _SESSIONIZE_ORACLE,
            ("'sessions' AS variant", "user_id", "'' AS s", "n_sessions AS a",
             "max_session_events AS b")),
        (q_stream_dedup, _STREAM_DEDUP_ORACLE,
            ("'dedup' AS variant", "user_id", "day AS s", "CAST(-1 AS BIGINT) AS a",
             "CAST(-1 AS BIGINT) AS b")),
    ),
    "fftconvolve_2d": (
        (q_fftconvolve_2d, _FFTCONVOLVE_2D_ORACLE,
            ("'2d' AS variant", "user_id", "row_idx AS i", "col_idx AS j", "val4 AS va",
             "CAST(0 AS DOUBLE) AS vb")),
        (q_fftconvolve_complex, _FFTCONVOLVE_COMPLEX_ORACLE,
            ("'complex' AS variant", "user_id", "idx AS i", "CAST(-1 AS BIGINT) AS j",
             "re4 AS va", "im4 AS vb")),
    ),
    "lineitem_rollup": (
        (q_lineitem_rollup, _LINEITEM_ROLLUP_ORACLE,
            ("'rollup' AS variant", "l_returnflag AS rf", "l_linestatus AS ls",
             "CAST(-1 AS BIGINT) AS g_rf", "CAST(-1 AS BIGINT) AS g_ls", "n", "sum_qty",
             "CAST(0 AS DOUBLE) AS sum_price")),
        (q_cube_revenue, _cube_oracle(),
            ("'cube' AS variant", "rf", "ls", "g_rf", "g_ls", "n", "sum_qty",
             "sum_price")),
    ),
    "sosfilt_stream": (
        (q_sosfilt_stream, _SOSFILT_STREAM_ORACLE,
            ("'sosfilt' AS variant", "user_id", "idx AS k", "val4 AS a",
             "CAST(0 AS DOUBLE) AS b", "CAST(0 AS DOUBLE) AS c",
             "CAST(0 AS DOUBLE) AS d", "CAST(0 AS DOUBLE) AS e")),
        (q_stream_window_stats_live, _STREAM_WINDOW_STATS_LIVE_ORACLE,
            ("'windows' AS variant", "user_id", "window_start AS k",
             "CAST(n AS DOUBLE) AS a", "CAST(sum_q AS DOUBLE) AS b",
             "CAST(avg_q AS DOUBLE) AS c", "min4 AS d", "max4 AS e")),
    ),
    "asof_join": (
        (q_asof_join, _ASOF_JOIN_ORACLE,
            ("'asof' AS variant", "user_id AS k", "t", "anchor_t AS a",
             "anchor_value6 AS x")),
        (q_range_join, _RANGE_JOIN_ORACLE,
            ("'range' AS variant", "o_orderkey AS k", "CAST(-1 AS BIGINT) AS t",
             "n_shipments AS a", "CAST(qty_q AS DOUBLE) AS x")),
    ),
    "text_logprob": (
        (q_text_logprob, _TEXT_LOGPROB_ORACLE,
            ("'nll' AS variant", "doc_id AS k", "'' AS s", "n_tokens AS a",
             "nll_q AS b")),
        (q_text_vocab, _TEXT_VOCAB_ORACLE,
            ("'vocab' AS variant", "CAST(-1 AS BIGINT) AS k", "token AS s", "tf AS a",
             "df AS b")),
    ),
    "text_lang_id": (
        (q_text_lang_fp, _text_lang_fp_oracle(),
            ("'lang' AS variant", "doc_id", "score_en AS a", "score_de AS b",
             "score_fr AS c", "score_es AS d", "score_zh AS e", "n_chars AS f",
             "pred_lang AS s1", "fingerprint AS s2", "CAST(0 AS DOUBLE) AS x1",
             "CAST(0 AS DOUBLE) AS x2")),
        (q_text_tfidf, _TEXT_TFIDF_ORACLE,
            ("'tfidf' AS variant", "doc_id", "rank AS a", "CAST(-1 AS BIGINT) AS b",
             "CAST(-1 AS BIGINT) AS c", "CAST(-1 AS BIGINT) AS d",
             "CAST(-1 AS BIGINT) AS e", "CAST(-1 AS BIGINT) AS f", "tok AS s1",
             "'' AS s2", "tfidf AS x1", "CAST(0 AS DOUBLE) AS x2")),
        (q_text_repetition, _TEXT_REPETITION_ORACLE,
            ("'rep' AS variant", "doc_id", "n_tokens AS a", "CAST(-1 AS BIGINT) AS b",
             "CAST(-1 AS BIGINT) AS c", "CAST(-1 AS BIGINT) AS d",
             "CAST(-1 AS BIGINT) AS e", "CAST(-1 AS BIGINT) AS f", "'' AS s1",
             "'' AS s2", "dupfrac6 AS x1", "topbi6 AS x2")),
    ),
    "sketch_state": (
        (q_sketch_hll, _hll_oracle(),
            ("'hll' AS variant", "rf AS k", "CAST(m AS BIGINT) AS a", "present AS b",
             "zeros AS c", "register_sum AS d", "rank_checksum AS e")),
        (q_sketch_countmin, _countmin_oracle(),
            ("'countmin' AS variant", "tok AS k", "exact_cnt AS a", "est AS b",
             "CAST(-1 AS BIGINT) AS c", "CAST(-1 AS BIGINT) AS d",
             "CAST(-1 AS BIGINT) AS e")),
    ),
    "sketch_hll": (
        ("sketch_state", ("variant", "k", "a", "b", "c", "d", "e")),
        (q_sketch_hll_merge, _hll_oracle(),
            ("'regmerge' AS variant", "rf AS k", "CAST(m AS BIGINT) AS a",
             "present AS b", "zeros AS c", "register_sum AS d", "rank_checksum AS e")),
    ),
    "gapfill": (
        (q_gapfill, _gapfill_oracle(),
            ("'gf_' || variant AS variant", "user_id", "t_us", "v_q",
             "CAST(-1 AS BIGINT) AS bf")),
        (q_interp_to, _interp_to_oracle(),
            ("'interp' AS variant", "user_id", "t_us", "v_q",
             "CAST(before_first AS BIGINT) AS bf")),
    ),
    "savgol": (
        (q_savgol_merged, _savgol_merged_oracle(),
            ("variant", "user_id", "idx", "v6 AS v")),
        (q_detrend, _DETREND_ORACLE,
            ("'detrend' AS variant", "user_id", "idx", "CAST(resid_q AS DOUBLE) AS v")),
    ),
    "fft_family": (
        (q_ifft, _IFFT_ORACLE,
            ("'ifft' AS variant", "user_id", "idx", "re6 AS va", "im6 AS vb")),
        (q_ihfft, _IHFFT_ORACLE,
            ("'ihfft' AS variant", "user_id", "idx", "re6 AS va", "im6 AS vb")),
        (q_irfft, _IRFFT_ORACLE,
            ("'irfft' AS variant", "user_id", "idx", "value6 AS va",
             "CAST(0 AS DOUBLE) AS vb")),
        (q_hfft, _HFFT_ORACLE,
            ("'hfft' AS variant", "user_id", "idx", "value4 AS va",
             "CAST(0 AS DOUBLE) AS vb")),
    ),
    "fftshift": (
        (q_fftshift, _FFTSHIFT_ORACLE,
            ("'shift' AS variant", "user_id", "idx AS i1", "CAST(-1 AS BIGINT) AS i2",
             "value AS v")),
        (q_ifftshift, _IFFTSHIFT_ORACLE,
            ("'ishift' AS variant", "user_id", "idx AS i1", "CAST(-1 AS BIGINT) AS i2",
             "value AS v")),
        (q_fftshift_2d, _FFTSHIFT2D_ORACLE,
            ("'shift2d' AS variant", "user_id", "idx_d1 AS i1", "idx_d2 AS i2",
             "val4 AS v")),
    ),
    "ifft": (
        ("fft_family",
            ("variant", "user_id", "idx AS i1", "CAST(-1 AS BIGINT) AS i2", "va",
             "vb")),
        ("fftshift",
            ("variant", "user_id", "i1", "i2", "v AS va", "CAST(0 AS DOUBLE) AS vb")),
        (q_istft_native, _ISTFT_NATIVE_ORACLE,
            ("'istft' AS variant", "user_id", "t AS i1", "CAST(-1 AS BIGINT) AS i2",
             "val4 AS va", "CAST(0 AS DOUBLE) AS vb")),
    ),
    "medfilt": (
        (q_medfilt, _MEDFILT_ORACLE,
            ("'median' AS variant", "user_id", "idx", "med6 AS v")),
        (q_wiener, _WIENER_ORACLE,
            ("'wiener' AS variant", "user_id", "idx", "CAST(wiener_q AS DOUBLE) AS v")),
    ),
    "text_stats": (
        (q_text_token_stats, _TOKEN_STATS_ORACLE,
            ("'tokens' AS variant", "doc_id", "n_tokens", "n_chars AS a1",
             "n_uniq_tokens AS a2", "n_bpe_pieces AS a3", "mean_token_len AS f1")),
        (q_text_quality, _TEXT_QUALITY_ORACLE,
            ("'quality' AS variant", "doc_id", "n_tokens", "n_stopwords AS a1",
             "CAST(0 AS BIGINT) AS a2", "CAST(0 AS BIGINT) AS a3", "quality AS f1")),
    ),
    "text_token_stats": (
        ("text_stats",
            ("variant", "doc_id", "n_tokens AS m1", "a1 AS m2", "a2 AS m3", "a3 AS m4",
             "f1", "'' AS s1")),
        (q_text_redact, _redact_oracle(),
            ("'redact' AS variant", "doc_id", "n_email AS m1", "n_ip AS m2",
             "n_phone AS m3", "CAST(-1 AS BIGINT) AS m4", "CAST(0 AS DOUBLE) AS f1",
             "md5(redacted) AS s1")),
        (q_text_url_stats, _TEXT_URL_STATS_ORACLE,
            ("'url' AS variant", "doc_id", "n_urls AS m1", "n_domains AS m2",
             "CAST(-1 AS BIGINT) AS m3", "CAST(-1 AS BIGINT) AS m4",
             "CAST(0 AS DOUBLE) AS f1", "coalesce(first_domain, '') AS s1")),
    ),
    "skew_join": (
        (q_skew_join, _skew_join_oracle(),
            ("'skew' AS variant", "event_id AS i1", "k AS i2", "k_n AS i3",
             "k_avg_q AS i4")),
        (q_bloom_semijoin, _bloom_semijoin_oracle(),
            ("'bloom' AS variant", "CAST(-1 AS BIGINT) AS i1", "k AS i2",
             "n_items AS i3", "qty_q AS i4")),
    ),
    "lombscargle": (
        (q_lombscargle, _lombscargle_oracle(),
            ("'lomb' AS variant", "user_id", "idx", "CAST(power_q AS DOUBLE) AS v")),
        (q_dominant_frequency, _DOMINANT_FREQUENCY_ORACLE,
            ("'domfreq' AS variant", "user_id", "peak_bin AS idx", "peak_mag3 AS v")),
    ),
    "acf": (
        (q_acf, _acf_oracle(),
            ("'acf' AS variant", "user_id", "CAST(lag AS BIGINT) AS i", "acf_q AS v1",
             "CAST(0 AS BIGINT) AS v2", "CAST(0 AS BIGINT) AS v3",
             "CAST(-1 AS BIGINT) AS edge")),
        (q_ewma, _ewma_oracle(),
            ("'ewma_' || variant AS variant", "user_id", "idx AS i", "ewma_q AS v1",
             "CAST(0 AS BIGINT) AS v2", "CAST(0 AS BIGINT) AS v3",
             "CAST(-1 AS BIGINT) AS edge")),
        (q_seasonal_decompose, _seasonal_oracle(),
            ("'seasonal' AS variant", "user_id", "idx AS i", "seasonal_q AS v1",
             "trend_q AS v2", "resid_q AS v3", "CAST(edge AS BIGINT) AS edge")),
    ),
    "rolling_stats": (
        (q_rolling_stats, _rolling_oracle(),
            ("'stats' AS variant", "user_id", "t_us", "roll_count", "sum_q AS m1",
             "mean_q AS m2", "min_q AS m3", "max_q AS m4")),
        (q_rolling_median, _rolling_median_oracle(),
            ("'median' AS variant", "user_id", "t_us", "roll_count", "median_q AS m1",
             "CAST(-1 AS BIGINT) AS m2", "CAST(-1 AS BIGINT) AS m3",
             "CAST(-1 AS BIGINT) AS m4")),
        (q_quantile_normalize, _qnorm_oracle(),
            ("'qn' AS variant", "user_id", "t_us", "CAST(-1 AS BIGINT) AS roll_count",
             "qn_mille AS m1", "CAST(-1 AS BIGINT) AS m2", "CAST(-1 AS BIGINT) AS m3",
             "CAST(-1 AS BIGINT) AS m4")),
    ),
    "group_quantiles": (
        (q_group_quantiles, _group_quantiles_oracle(),
            ("'gq' AS variant", "user_id", "q_mille AS i1", "v_q AS i2")),
        (q_quantile_normalize, _qnorm_oracle(),
            ("'qn' AS variant", "user_id", "t_us AS i1", "qn_mille AS i2")),
        (q_winsorize, _winsorize_oracle(),
            ("'wz' AS variant", "user_id", "t_us AS i1", "w_q AS i2")),
    ),
    "funnel": (
        (q_funnel, _funnel_oracle(),
            ("'funnel' AS variant", "user_id AS k1", "t1_us AS v1", "t2_us AS v2",
             "t3_us AS v3")),
        (q_retention, _retention_oracle(),
            ("'retention' AS variant", "cohort_period AS k1", "period_offset AS v1",
             "n_active AS v2", "CAST(-1 AS BIGINT) AS v3")),
    ),
    "tpch_q4": (
        (q_tpch_q4, _tpch_q4_oracle(),
            ("'q4' AS variant", "o_orderpriority AS s1", "CAST(-1 AS BIGINT) AS k1",
             "CAST(-1 AS BIGINT) AS k2", "CAST(n_orders AS DOUBLE) AS v1",
             "CAST(0 AS DOUBLE) AS price")),
        (q_tpch_q18, _tpch_q18_oracle(),
            ("'q18' AS variant", "o_orderdate AS s1", "o_orderkey AS k1",
             "c_custkey AS k2", "sum_qty AS v1", "o_totalprice AS price")),
    ),
    "text_postings": (
        (q_text_postings, _text_postings_oracle(),
            ("'postings' AS variant", "token AS k1", "CAST(df AS BIGINT) AS i1",
             "tf_total AS i2", "CAST(max_tf AS BIGINT) AS i3",
             "CAST(top_doc AS BIGINT) AS i4", "postings_sum AS i5")),
        (q_bm25_scores, _bm25_oracle(),
            ("'bm25' AS variant", "'' AS k1", "doc_id AS i1",
             "CAST(n_match AS BIGINT) AS i2", "score_q AS i3",
             "CAST(-1 AS BIGINT) AS i4", "CAST(-1 AS BIGINT) AS i5")),
    ),
    "tpch_q7": (
        (q_tpch_q7, _tpch_q7_oracle(),
            ("'q7' AS variant", "supp_nation AS k1", "cust_nation AS k2",
             "l_year AS yr", "revenue AS f1", "CAST(0 AS DOUBLE) AS f2", "n_rows")),
        (q_tpch_q8, _tpch_q8_oracle(),
            ("'q8' AS variant", "'' AS k1", "'' AS k2", "o_year AS yr",
             "mkt_share AS f1", "total_vol AS f2", "n_rows")),
        (q_tpch_q9, _tpch_q9_oracle(),
            ("'q9' AS variant", "nation AS k1", "'' AS k2", "o_year AS yr",
             "sum_profit AS f1", "CAST(0 AS DOUBLE) AS f2", "n_rows")),
    ),
    "tpch_q14": (
        (q_tpch_q14, _tpch_q14_oracle(),
            ("'q14' AS variant", "promo_revenue AS f1", "total_revenue AS f2",
             "promo_share AS f3", "CAST(-1 AS BIGINT) AS n_rows")),
        (q_tpch_q19, _tpch_q19_oracle(),
            ("'q19' AS variant", "revenue AS f1", "CAST(-1 AS DOUBLE) AS f2",
             "CAST(-1 AS DOUBLE) AS f3", "n_rows")),
    ),
}


def _branches(name: str):
    """``(query, oracle_sql, cols)`` for each branch of ``_UNIONS[name]``,
    with nested entries resolved to their own union pair."""
    for *leaf, cols in _UNIONS[name]:
        if len(leaf) == 1:
            leaf = _union(leaf[0])
        yield (*leaf, cols)


def _union(name: str):
    """``_UNIONS[name]`` as a ``(query, oracle_sql)`` registry pair."""
    branches = list(_branches(name))

    def query(spark, sf_dir):
        return reduce(
            DataFrame.unionAll,
            [q(spark, sf_dir).selectExpr(*cols) for q, _, cols in branches],
        )

    oracle = " UNION ALL ".join(
        f"SELECT {', '.join(cols)} FROM ({o})" for _, o, cols in branches
    )
    return query, oracle


REGISTRY = {
    "fft": _union("fft"),
    "fftconvolve": _union("fftconvolve"),
    "decimate_fir": _union("decimate_fir"),
    "resample": _union("resample"),
    "stft": _union("stft"),
    "istft_roundtrip": _union("istft_roundtrip"),
    "welch": _union("welch"),
    "cwt_ricker": _union("cwt_ricker"),
    "hilbert": _union("hilbert"),
    "sosfilt": _union("sosfilt"),
    "lfilter": _union("lfilter"),
    "peak_widths": _union("peak_widths"),
    "dedup_exact": _union("dedup_exact"),
    "dedup_minhash": _union("dedup_minhash"),
    "ann_cosine_topk": _union("ann_cosine_topk"),
    "ann_cosine_topk_ivf": _union("ann_cosine_topk_ivf"),
    "curation_report": _union("curation_report"),
    "embedding_quantize": _union("embedding_quantize"),
    "dataset_split": _union("dataset_split"),
    "dataset_mix": _union("dataset_mix"),
    "decontaminate": _union("decontaminate"),
    "multimodal_features": _union("multimodal_features"),
    "multimodal_real_decode": _union("multimodal_real_decode"),
    "multimodal_audio_decode": _union("multimodal_audio_decode"),
    "tpch_q1": _union("tpch_q1"),
    "sessionize": _union("sessionize"),
    "fftconvolve_2d": _union("fftconvolve_2d"),
    "lineitem_rollup": _union("lineitem_rollup"),
    "sosfilt_stream": _union("sosfilt_stream"),
    "asof_join": _union("asof_join"),
    "dedup_clusters": (q_dedup_clusters, _dedup_clusters_oracle()),
    "text_logprob": _union("text_logprob"),
    "text_lang_id": _union("text_lang_id"),
    "sketch_hll": _union("sketch_hll"),
    "gapfill": _union("gapfill"),
    "multimodal_png_decode": (q_multimodal_decode_merged, _multimodal_merged_oracle()),
    "savgol": _union("savgol"),
    "stream_window_stats": (q_windows_merged, _windows_merged_oracle()),
    "ifft": _union("ifft"),
    "medfilt": _union("medfilt"),
    "text_token_stats": _union("text_token_stats"),
    "skew_join": _union("skew_join"),
    "sketch_histogram": (q_sketch_histogram, _histogram_oracle()),
    "text_hash_vectors": (q_text_hash_vectors, _hash_vectors_oracle()),
    "lombscargle": _union("lombscargle"),
    "acf": _union("acf"),
    "robust_zscore": (q_robust_zscore, _robust_z_oracle()),
    "ohlc_bars": (q_ohlc_bars, _ohlc_oracle()),
    "latest_by_key": (q_latest_by_key, _latest_oracle()),
    "sample_negatives": (q_sample_negatives, _negatives_oracle()),
    "rolling_stats": _union("rolling_stats"),
    "pagerank": (q_pagerank, _pagerank_oracle()),
    "zorder_curve": (q_zorder_curve, _zorder_oracle()),
    "group_quantiles": _union("group_quantiles"),
    "bpe_encode": (q_bpe_encode, _bpe_encode_oracle()),
    "interval_join": (q_interval_join, _interval_join_oracle()),
    "funnel": _union("funnel"),
    "audio_spectral": (q_audio_spectral, _audio_spectral_oracle()),
    "char_entropy": (q_char_entropy, _char_entropy_oracle()),
    "ngram_counts": (q_ngram_counts, _ngram_counts_oracle()),
    "kfold_weights": (q_kfold_weights, _kfold_weights_oracle()),
    "tpch_q4": _union("tpch_q4"),
    "grouped_ols": (q_grouped_ols, _grouped_ols_oracle()),
    "triangle_count": (q_triangle_count, _triangle_oracle()),
    "sequence_pack": (q_sequence_pack, _sequence_pack_oracle()),
    "text_postings": _union("text_postings"),
    "edit_distance_join": (q_edit_distance_join, _edit_join_oracle()),
    "event_pivot": (q_event_pivot, _event_pivot_oracle()),
    "orders_unshipped": (q_orders_unshipped, _orders_unshipped_oracle()),
    "json_props_stats": (q_json_props_stats, _json_props_oracle()),
    "cdc_apply": (q_cdc_apply, _cdc_apply_oracle()),
    "window_analytics": (q_window_analytics, _window_analytics_oracle()),
    "active_user_setops": (q_active_user_setops, _setops_oracle()),
    "weighted_sample": (q_weighted_sample, _weighted_sample_oracle()),
    "ann_recall_eval": (q_ann_recall_eval, _ann_recall_oracle()),
    "missing_windows": (q_missing_windows, _missing_windows_oracle()),
    "dedup_keep_best": (q_dedup_keep_best, _keep_best_oracle()),
    "key_skew_profile": (q_key_skew_profile, _key_skew_oracle()),
    "dataset_split_safe": (q_dataset_split_safe, _split_safe_oracle()),
    "tpch_q7": _union("tpch_q7"),
    "tpch_q10": (q_tpch_q10, _tpch_q10_oracle()),
    "tpch_q14": _union("tpch_q14"),
    "tpch_q15": (q_tpch_q15, _tpch_q15_oracle()),
    "tpch_q22": (q_tpch_q22, _tpch_q22_oracle()),
    "tpch_q13": (q_tpch_q13, _tpch_q13_oracle()),
    "tpch_q17": (q_tpch_q17, _tpch_q17_oracle()),
    "text_sparse_knn": (q_text_sparse_knn, _sparse_knn_oracle()),
    "dedup_recall_eval": (q_dedup_recall_eval, _dedup_recall_oracle()),
    "embedding_outliers": (q_embedding_outliers, _embedding_outliers_oracle()),
    "dataset_temperature_mix": (q_dataset_temperature_mix, _temperature_mix_oracle()),
    "naive_bayes_lang": (q_naive_bayes_lang, _naive_bayes_oracle()),
    "auc_eval": (q_auc_eval, _auc_oracle()),
    "token_mi": (q_token_mi, _token_mi_oracle()),
    "data_profile": (q_data_profile, _data_profile_oracle()),
    "constraint_check": (q_constraint_check, _constraint_check_oracle()),
    "frequent_values": (q_frequent_values, _frequent_values_oracle()),
    "windowed_constraints": (q_windowed_constraints, _windowed_constraints_oracle()),
    "dsir_weights": (q_dsir_weights, _dsir_oracle()),
    "target_encoding": (q_target_encoding, _target_encoding_oracle()),
    "event_transitions": (q_event_transitions, _transitions_oracle()),
}
QUERIES = {name: q for name, (q, _) in REGISTRY.items()}
ORACLES = {name: o for name, (_, o) in REGISTRY.items()}

# Bench rows whose plain plan is a union under a different function name.
_PLAIN_ALIASES = {
    "rfft": q_rfft_merged,
    "decimate_iir": q_decimate_iir_merged,
    "sosfiltfilt": q_sosfiltfilt_merged,
    "convolve_valid": q_convolve_merged,
}


def plain(name: str):
    """The single-plan query a bench row named ``name`` measures: the
    alias above, else ``q_<name>``, else the registered query (None for
    an unknown name). Registered unions are literal unionAll's of these
    functions, so a bench row keeps its plan when names fold together."""
    return (
        _PLAIN_ALIASES.get(name)
        or globals().get(f"q_{name}")
        or QUERIES.get(name)
    )
