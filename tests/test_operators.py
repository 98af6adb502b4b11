"""Spark operator tests: the reference suite's invariants re-expressed
over long-form DataFrames (SURVEY.md §5 "our strategy"), plus
numpy-oracle comparisons (collect → compare within tolerance)."""

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

import xarray_scipy_spark as xss
from tests.conftest import AMP, F0, FS, NCHAN, NSAMP


def by_channel(df):
    return {r["channel"]: r for r in df.collect()}


def series_of(pdf_rows, col="value"):
    return np.array([r[col] for r in pdf_rows])


def collect_series(df, val_cols=("value",), order="idx"):
    out = {}
    for row in df.orderBy("channel", order).collect():
        out.setdefault(row["channel"], []).append([row[c] for c in val_cols])
    return {ch: np.array(v) for ch, v in out.items()}


# ---------------- fft family ----------------

def test_rfft_length_and_coords(sine_df):
    # rfft length n//2+1 (reference test_signal.py:443); Δf = 1/(n·delta)
    out = xss.rfft(sine_df, by=["channel"], dim="time")
    rows = out.orderBy("channel", "idx").collect()
    per = {}
    for r in rows:
        per.setdefault(r["channel"], []).append(r)
    assert set(per) == set(range(NCHAN))
    for ch, rs in per.items():
        assert len(rs) == NSAMP // 2 + 1
        freqs = [r["frequency"] for r in rs]
        # spectral-resolution invariant fs/n — asserted for real, unlike
        # the reference's dead check (test_signal.py:335-337, SURVEY §5)
        assert freqs[1] - freqs[0] == pytest.approx(FS / NSAMP, rel=1e-6)
        # dominant bin at F0
        mags = [np.hypot(r["re"], r["im"]) for r in rs]
        assert freqs[int(np.argmax(mags))] == pytest.approx(F0, rel=1e-6)
        # peak magnitude of a pure sine in rfft: A*n/2
        assert max(mags) == pytest.approx(AMP * NSAMP / 2, rel=1e-6)


@pytest.mark.parametrize("n", [None, 99, 100, 101, 102])
def test_fft_n_sweep_row_counts(sine_df, n):
    # reference's off-by-one probe (test_signal.py:339-341)
    out = xss.fft(sine_df, by=["channel"], dim="time", n=n)
    counts = out.groupBy("channel").count().collect()
    expected = NSAMP if n is None else n
    assert all(r["count"] == expected for r in counts)
    out_r = xss.rfft(sine_df, by=["channel"], dim="time", n=n)
    counts_r = out_r.groupBy("channel").count().collect()
    assert all(r["count"] == expected // 2 + 1 for r in counts_r)


def test_fft_ifft_roundtrip(sine_df, sine_pdf):
    spec = xss.fft(sine_df, by=["channel"], dim="time")
    back = xss.ifft(
        spec, by=["channel"], dim="frequency", values=("re", "im"),
        newdim="time2", order="idx",
    )
    got = collect_series(back, ("re", "im"))
    base = sine_pdf[sine_pdf.channel == 0].sort_values("time")["value"].to_numpy()
    for ch in range(NCHAN):
        np.testing.assert_allclose(got[ch][:, 0], base, atol=1e-9)
        np.testing.assert_allclose(got[ch][:, 1], 0.0, atol=1e-9)


def test_rfft_matches_numpy(sine_df, sine_pdf):
    out = xss.rfft(sine_df, by=["channel"], dim="time", norm="ortho")
    got = collect_series(out, ("re", "im"))
    base = sine_pdf[sine_pdf.channel == 0].sort_values("time")["value"].to_numpy()
    ref = np.fft.rfft(base, norm="ortho")
    for ch in range(NCHAN):
        np.testing.assert_allclose(got[ch][:, 0] + 1j * got[ch][:, 1], ref, atol=1e-9)


def test_hfft_ihfft_roundtrip(sine_df, sine_pdf):
    half = xss.ihfft(sine_df, by=["channel"], dim="time")
    back = xss.hfft(
        half, by=["channel"], dim="frequency", values=("re", "im"),
        newdim="time2", order="idx", n=NSAMP,
    )
    got = collect_series(back, ("value",))
    base = sine_pdf[sine_pdf.channel == 0].sort_values("time")["value"].to_numpy()
    for ch in range(NCHAN):
        np.testing.assert_allclose(got[ch][:, 0], base, atol=1e-9)


def test_fft_newdim_collision(sine_df):
    with pytest.raises(ValueError, match="already exist"):
        xss.fft(sine_df, by=["channel"], dim="time", newdim="channel")


@pytest.mark.parametrize("n", [5, 7, 10, 11, 12])
def test_fftshift_roundtrip_and_order(spark, n):
    # odd n distinguishes fftshift from ifftshift (the reference sweeps
    # odd/even lengths at tests/test_signal.py:339-341)
    import pandas as pd

    pdf = pd.DataFrame({"g": 0, "bin": range(n), "value": np.arange(n, dtype=float)})
    df = spark.createDataFrame(pdf)
    shifted = xss.fftshift(df, by=["g"], dim="bin")
    rows = shifted.orderBy("idx").collect()
    vals = [r["value"] for r in rows]
    np.testing.assert_array_equal(vals, np.fft.fftshift(np.arange(n, dtype=float)))
    unshifted = xss.ifftshift(
        shifted.select("g", F.col("idx").alias("bin"), "value"), by=["g"], dim="bin"
    )
    rows = unshifted.orderBy("idx").collect()
    np.testing.assert_array_equal([r["value"] for r in rows], np.arange(n, dtype=float))

    only_ishift = xss.ifftshift(df, by=["g"], dim="bin")
    vals = [r["value"] for r in only_ishift.orderBy("idx").collect()]
    np.testing.assert_array_equal(vals, np.fft.ifftshift(np.arange(n, dtype=float)))


# ---------------- convolution ----------------

def test_fftconvolve_sizes_and_values(sine_df, sine_pdf):
    # sizes: full -> n1+n2-1, same -> n1 (reference test_signal.py:73-78)
    full = xss.fftconvolve(sine_df, sine_df, by=["channel"], dim="time", mode="full")
    assert full.groupBy("channel").count().collect()[0]["count"] == 2 * NSAMP - 1
    same = xss.fftconvolve(sine_df, sine_df, by=["channel"], dim="time", mode="same")
    got = collect_series(same, ("value",))
    base = sine_pdf[sine_pdf.channel == 0].sort_values("time")["value"].to_numpy()
    ref = np.convolve(base, base, mode="same")
    for ch in range(NCHAN):
        np.testing.assert_allclose(got[ch][:, 0], ref, atol=1e-7)


def test_convolve_valid_mode(spark, sine_df, sine_pdf):
    """mode='valid' — implemented properly where the reference is broken
    (signal.py:77 returns the NotImplemented constant as a size):
    output = fully-overlapped lags only, length max-min+1."""
    taps = [0.2, 0.5, 0.3, -0.1]
    tap_pdf = pd.concat(
        [
            pd.DataFrame({"channel": ch, "time": np.arange(len(taps), dtype=float), "value": taps})
            for ch in range(NCHAN)
        ],
        ignore_index=True,
    )
    tap_df = spark.createDataFrame(tap_pdf)
    out = xss.convolve(sine_df, tap_df, by=["channel"], dim="time", mode="valid")
    rows = out.filter(F.col("channel") == 1).orderBy("idx").collect()
    base = sine_pdf[sine_pdf.channel == 1].sort_values("time")["value"].to_numpy()
    ref = np.convolve(base, taps, mode="valid")
    assert len(rows) == NSAMP - len(taps) + 1
    np.testing.assert_allclose([r["value"] for r in rows], ref, atol=1e-9)
    with pytest.raises(ValueError, match="mode"):
        xss.convolve(sine_df, sine_df, by=["channel"], dim="time", mode="nope")


def test_convolve_fir_matches_numpy(sine_df, sine_pdf):
    taps = [0.25, 0.5, 0.25]
    out = xss.convolve_fir(sine_df, taps, by=["channel"], dim="time")
    rows = out.filter(F.col("channel") == 1).orderBy("time").collect()
    got = np.array([r["value_conv"] for r in rows])
    base = sine_pdf[sine_pdf.channel == 1].sort_values("time")["value"].to_numpy()
    ref = np.convolve(base, taps, mode="same")
    np.testing.assert_allclose(got, ref, atol=1e-12)


# ---------------- decimate / resample ----------------

def test_decimate_length_and_coords(sine_df):
    out = xss.decimate(sine_df, 4, by=["channel"], dim="time")
    rows = out.filter(F.col("channel") == 2).orderBy("idx").collect()
    assert len(rows) == NSAMP // 4  # 400/4, exact
    # recomputed coords: delta' = 4/fs (the reference TODO'd this, signal.py:124)
    assert rows[1]["time"] - rows[0]["time"] == pytest.approx(4 / FS, rel=1e-9)
    # low tone survives decimation
    vals = series_of(rows)
    t = np.array([r["time"] for r in rows])
    np.testing.assert_allclose(
        vals[20:-20], AMP * np.sin(2 * np.pi * F0 * t)[20:-20], atol=2e-2
    )


def test_resample_identity_and_sum(sine_df):
    out = xss.resample(sine_df, NSAMP, by=["channel"], dim="time")
    rows = out.filter(F.col("channel") == 0).orderBy("idx").collect()
    t = np.arange(NSAMP) / FS
    np.testing.assert_allclose(
        series_of(rows), AMP * np.sin(2 * np.pi * F0 * t), atol=1e-9
    )
    up = xss.resample(sine_df, 2 * NSAMP, by=["channel"], dim="time")
    rows = up.filter(F.col("channel") == 0).orderBy("idx").collect()
    assert len(rows) == 2 * NSAMP
    # coord spacing halves
    assert rows[1]["time"] - rows[0]["time"] == pytest.approx(0.5 / FS, rel=1e-9)


# ---------------- hilbert ----------------

def test_hilbert_envelope(sine_df):
    out = xss.envelope(xss.hilbert(sine_df, by=["channel"], dim="time"))
    rows = out.filter(F.col("channel") == 3).orderBy("idx").collect()
    env = np.array([r["envelope"] for r in rows])
    # |hilbert(A sin)| ≈ A (reference test_signal.py:566-568)
    np.testing.assert_allclose(env[25:-25], AMP, rtol=1e-2)
    assert len(rows) == NSAMP


# ---------------- sosfilt ----------------

def test_sosfilt_preserves_shape_and_filters(sine_df):
    from xarray_scipy_spark.kernels import butter_sos

    sos = butter_sos(4, 0.3)  # F0/Nyquist = 0.1 -> passband
    out = xss.sosfilt(sos, sine_df, by=["channel"], dim="time")
    assert out.count() == NCHAN * NSAMP  # length/channel preserved
    outff = xss.sosfiltfilt(sos, sine_df, by=["channel"], dim="time")
    rows = outff.filter(F.col("channel") == 0).orderBy("idx").collect()
    t = np.arange(NSAMP) / FS
    # zero-phase: passband tone unchanged, no delay
    np.testing.assert_allclose(
        series_of(rows)[30:-30], (AMP * np.sin(2 * np.pi * F0 * t))[30:-30], atol=1e-2
    )


def test_sosfilt_from_coefficient_dataframe(spark, sine_df):
    import pandas as pd

    from xarray_scipy_spark.kernels import butter_sos

    sos = butter_sos(4, 0.3)
    rows = [
        {"section": s, "coefficient": c, "value": float(sos[s, c])}
        for s in range(sos.shape[0])
        for c in range(6)
    ]
    sos_df = spark.createDataFrame(pd.DataFrame(rows))
    out = xss.sosfilt(sos_df, sine_df, by=["channel"], dim="time")
    assert out.count() == NCHAN * NSAMP


def test_sosfilt_zi_seeded(sine_df, sine_pdf):
    # zi seeding (beyond reference parity: its own zi path is broken,
    # signal.py:417-419): steady-state initial conditions must match the
    # kernel run with the same state, and differ from the zero-state run
    from xarray_scipy_spark.kernels import butter_sos, sosfilt_zi
    from xarray_scipy_spark.kernels.dsp import sosfilt_1d

    sos = butter_sos(4, 0.3)
    zi = sosfilt_zi(sos)
    out = xss.sosfilt(sos, sine_df, by=["channel"], dim="time", zi=zi)
    got = collect_series(out)
    for ch in range(NCHAN):
        x = sine_pdf[sine_pdf["channel"] == ch].sort_values("time")["value"].to_numpy()
        want, _ = sosfilt_1d(sos, x, zi=zi)
        np.testing.assert_allclose(got[ch][:, 0], want, atol=1e-10)
        zero_state = sosfilt_1d(sos, x)
        assert not np.allclose(want, zero_state)


def test_sosfilt_zi_bad_shape(sine_df):
    with pytest.raises(ValueError):
        xss.sosfilt(np.zeros((2, 6)), sine_df, by=["channel"], dim="time", zi=[[0.0, 0.0]])


# ---------------- peak_widths ----------------

def test_peak_widths_golden_tracks(spark):
    import pandas as pd

    # FIXTURES.md §3: diagonal binary tracks, expected width == bandwidth
    ntime, nfreq, bandwidth, offsets = 7, 14, 2, (1, 4)
    sig_rows, peak_rows = [], []
    for t in range(ntime):
        x = np.zeros(nfreq)
        for p, off in enumerate(offsets):
            x[t + off : t + off + bandwidth] = 1.0
            peak_rows.append({"time": t, "peak": p, "index": t + off})
        for fq in range(nfreq):
            sig_rows.append({"time": t, "frequency": fq, "value": float(x[fq])})
    xdf = spark.createDataFrame(pd.DataFrame(sig_rows))
    pdf = spark.createDataFrame(pd.DataFrame(peak_rows))
    out = xss.peak_widths(xdf, pdf, by=["time"], dim="frequency")
    rows = out.collect()
    assert len(rows) == ntime * len(offsets)
    for r in rows:
        assert r["width"] == pytest.approx(bandwidth)
        assert r["width_height"] == pytest.approx(0.5)


# ---------------- layout codecs ----------------

def test_series_roundtrip(spark, sine_df, sine_pdf):
    from xarray_scipy_spark.plans import to_long, to_series

    ser = to_series(sine_df, by=["channel"], order="time", values=["value"])
    assert ser.count() == NCHAN
    row = ser.filter(F.col("channel") == 0).collect()[0]
    base = sine_pdf[sine_pdf.channel == 0].sort_values("time")["value"].to_numpy()
    np.testing.assert_allclose(row["value"], base)
    long = to_long(ser, by=["channel"], arrays=["time", "value"])
    assert long.count() == NCHAN * NSAMP


# ---------------- batched core: mixed lengths, attrs, datetimes ----------------

def test_mixed_length_series_batching(spark):
    # series of different lengths share buckets; each must come back with
    # its own n_in/offset/delta and a correct per-series transform
    import pandas as pd

    rows = []
    rng = np.random.default_rng(7)
    lengths = {f"s{i}": ln for i, ln in enumerate([8, 8, 13, 21, 21, 21, 34])}
    series = {}
    for key, ln in lengths.items():
        x = rng.normal(size=ln)
        series[key] = x
        rows.append(pd.DataFrame({"key": key, "t": np.arange(ln) * 0.5 + 3.0, "value": x}))
    df = spark.createDataFrame(pd.concat(rows, ignore_index=True)).repartition(3)

    out = xss.fft(df, by=["key"], dim="t")
    got = {}
    for r in out.orderBy("key", "idx").collect():
        got.setdefault(r["key"], []).append(r)
    assert set(got) == set(lengths)
    for key, rs in got.items():
        want = np.fft.fft(series[key])
        np.testing.assert_allclose([r["re"] for r in rs], want.real, atol=1e-9)
        np.testing.assert_allclose([r["im"] for r in rs], want.imag, atol=1e-9)
        assert all(r["n_in"] == lengths[key] for r in rs)
        assert rs[0]["offset"] == pytest.approx(3.0)
        assert rs[0]["delta"] == pytest.approx(0.5)


def test_keep_attrs_fft_ifft_chain(spark, sine_pdf):
    # reference `_keep_attrs` (signal.py:10-13): attrs must survive an
    # fft -> ifft chain when keep_attrs=True
    import pandas as pd

    pdf = sine_pdf.copy()
    pdf["attrs"] = [{"fs": str(FS)}] * len(pdf)
    df = spark.createDataFrame(pdf)
    spec = xss.fft(df, by=["channel"], dim="time", keep_attrs=True)
    assert "attrs" in spec.columns
    back = xss.ifft(
        spec, by=["channel"], dim="frequency", newdim="t2",
        values=["re", "im"], keep_attrs=True,
    )
    row = back.limit(1).collect()[0]
    assert row["attrs"]["fs"] == str(FS)
    # default (keep_attrs off): attrs dropped
    spec2 = xss.fft(df, by=["channel"], dim="time")
    assert "attrs" not in spec2.columns


def test_hilbert_datetime_coords(spark):
    # reference hilbert special-cases datetime coords (signal.py:316-321);
    # here a timestamp order column must work and yield epoch-ns attrs
    import datetime as dt
    import pandas as pd

    n = 64
    t0 = dt.datetime(2024, 1, 1)
    ts = pd.date_range(t0, periods=n, freq="250ms")
    x = np.sin(2 * np.pi * 5 * np.arange(n) / n)
    df = spark.createDataFrame(pd.DataFrame({"ch": 0, "ts": ts, "value": x}))
    out = xss.hilbert(df, by=["ch"], dim="ts")
    rows = out.orderBy("idx").collect()
    assert len(rows) == n
    env = np.hypot([r["re"] for r in rows], [r["im"] for r in rows])
    assert np.median(env) == pytest.approx(1.0, rel=0.05)
    # delta = 250ms in nanoseconds
    assert rows[0]["delta"] == pytest.approx(250e6)
    # the coordinate column is restored to a TIMESTAMP (not epoch float),
    # round-tripping the input values exactly (reference restores real
    # coords after its datetime workaround, signal.py:316-325)
    from pyspark.sql.types import TimestampNTZType, TimestampType

    assert isinstance(out.schema["ts"].dataType, (TimestampType, TimestampNTZType))
    got = [r["ts"] for r in rows]
    assert got == list(pd.to_datetime(ts).to_pydatetime())


def test_fftconvolve_nd_2d_matches_numpy(spark):
    # reference multi-core-dim convolution (_convolve dims=[...],
    # signal.py:62-63): 2-D FFT convolve vs direct numpy evaluation
    import pandas as pd

    rng = np.random.default_rng(7)
    n1, m1, n2, m2 = 6, 5, 3, 4
    a = rng.standard_normal((n1, m1))
    b = rng.standard_normal((n2, m2))

    def long_form(arr, g):
        r, c = np.indices(arr.shape)
        return pd.DataFrame(
            {"g": g, "row": r.ravel(), "col": c.ravel(), "value": arr.ravel()}
        )

    df1 = spark.createDataFrame(long_form(a, 0))
    df2 = spark.createDataFrame(long_form(b, 0))

    # numpy oracle: direct 2-D full convolution
    full = np.zeros((n1 + n2 - 1, m1 + m2 - 1))
    for i in range(n2):
        for j in range(m2):
            full[i : i + n1, j : j + m1] += b[i, j] * a
    out = xss.fftconvolve_nd(
        df1, df2, by=["g"], dims=["row", "col"], mode="full"
    )
    rows = out.orderBy("row_idx", "col_idx").collect()
    got = np.array([r["value"] for r in rows]).reshape(full.shape)
    np.testing.assert_allclose(got, full, atol=1e-9)

    # same-mode: centered crop to df1's shape
    out_same = xss.fftconvolve_nd(
        df1, df2, by=["g"], dims=["row", "col"], mode="same"
    )
    rows_s = out_same.orderBy("row_idx", "col_idx").collect()
    got_s = np.array([r["value"] for r in rows_s]).reshape((n1, m1))
    st_r, st_c = (n2 - 1) // 2, (m2 - 1) // 2
    np.testing.assert_allclose(
        got_s, full[st_r : st_r + n1, st_c : st_c + m1], atol=1e-9
    )


@pytest.mark.parametrize("shape", [(4, 6), (5, 7), (5, 6)])
def test_fftshift_dims_2d(spark, shape):
    # reference fftshift over a dims LIST (signal.py:247-248): the
    # destination positions must match np.fft.fftshift axis-by-axis
    import pandas as pd

    n, m = shape
    r, c = np.indices((n, m))
    df = spark.createDataFrame(
        pd.DataFrame(
            {"g": 0, "d1": r.ravel(), "d2": c.ravel(), "value": np.arange(n * m, dtype=float)}
        )
    )
    out = xss.fftshift(df, by=["g"], dims=["d1", "d2"])
    rows = out.orderBy("d1", "d2").collect()
    dest = np.zeros((n, m))
    for row in rows:
        dest[int(row["idx_d1"]), int(row["idx_d2"])] = row["value"]
    expected = np.fft.fftshift(np.arange(n * m, dtype=float).reshape(n, m))
    np.testing.assert_array_equal(dest, expected)
    # inverse roundtrip
    outi = xss.ifftshift(df, by=["g"], dims=["d1", "d2"])
    rowsi = outi.orderBy("d1", "d2").collect()
    desti = np.zeros((n, m))
    for row in rowsi:
        desti[int(row["idx_d1"]), int(row["idx_d2"])] = row["value"]
    np.testing.assert_array_equal(
        desti, np.fft.ifftshift(np.arange(n * m, dtype=float).reshape(n, m))
    )


# ---------------- stft / welch ----------------

def _np_stft(x, frame_len, hop, taps):
    nf = (len(x) - frame_len) // hop + 1
    frames = np.stack([x[f * hop : f * hop + frame_len] for f in range(nf)])
    return np.fft.rfft(frames * taps, axis=-1)


@pytest.mark.parametrize("window", [None, "hann"])
def test_stft_matches_numpy(sine_df, sine_pdf, window):
    fl, hop = 32, 16
    out = xss.stft(
        sine_df, by=["channel"], dim="time", frame_len=fl, hop=hop, window=window
    )
    taps = np.ones(fl) if window is None else 0.5 - 0.5 * np.cos(
        2 * np.pi * np.arange(fl) / fl
    )
    base = sine_pdf[sine_pdf.channel == 0].sort_values("time")["value"].to_numpy()
    ref = _np_stft(base, fl, hop, taps)
    rows = out.filter(F.col("channel") == 1).orderBy("frame", "bin").collect()
    nb = fl // 2 + 1
    assert len(rows) == ref.shape[0] * nb
    got = np.array([r["re"] + 1j * r["im"] for r in rows]).reshape(ref.shape)
    np.testing.assert_allclose(got, ref, atol=1e-9)
    # native coordinates: frame_time advances by hop/fs, frequency by fs/fl
    r1 = [r for r in rows if r["bin"] == 0]
    assert r1[1]["frame_time"] - r1[0]["frame_time"] == pytest.approx(hop / FS)
    rb = [r for r in rows if r["frame"] == 0]
    assert rb[1]["frequency"] - rb[0]["frequency"] == pytest.approx(FS / fl)


def test_stft_short_series_empty(spark):
    import pandas as pd

    df = spark.createDataFrame(
        pd.DataFrame({"channel": 0, "time": [0.0, 1.0, 2.0], "value": [1.0, 2.0, 3.0]})
    )
    out = xss.stft(df, by=["channel"], dim="time", frame_len=8, hop=4)
    assert out.count() == 0


def test_welch_peak_and_scaling(sine_df):
    fl, hop = 64, 32
    out = xss.welch(
        sine_df, by=["channel"], dim="time", frame_len=fl, hop=hop, window="hann"
    )
    rows = out.filter(F.col("channel") == 2).orderBy("idx").collect()
    assert len(rows) == fl // 2 + 1
    freqs = np.array([r["frequency"] for r in rows])
    power = np.array([r["power"] for r in rows])
    # the tone lands exactly on bin F0/(FS/fl) = 20/(400/64) = 3.2 -> peak
    # bin is the nearest bin; total one-sided power ~ A^2/2 * fl (Welch
    # density x fs normalization: sum(power)*df/fs ~ A^2/2)
    assert freqs[int(np.argmax(power))] == pytest.approx(F0, abs=FS / fl)
    est_var = power.sum() / fl  # sum * (fs/fl) / fs
    assert est_var == pytest.approx(AMP**2 / 2, rel=0.2)
    # oracle: numpy periodogram average with identical formula
    base_rows = sine_df.filter(F.col("channel") == 2).orderBy("time").collect()
    x = np.array([r["value"] for r in base_rows])
    taps = 0.5 - 0.5 * np.cos(2 * np.pi * np.arange(fl) / fl)
    spec = _np_stft(x, fl, hop, taps)
    fold = np.full(fl // 2 + 1, 2.0)
    fold[0] = fold[-1] = 1.0
    ref = (np.abs(spec) ** 2).mean(axis=0) * fold / np.sum(taps**2)
    np.testing.assert_allclose(power, ref, atol=1e-9)


# ---------------- asof join ----------------

@pytest.mark.parametrize("direction", ["backward", "forward"])
def test_asof_join_matches_pandas(spark, direction):
    import pandas as pd

    rng = np.random.default_rng(11)
    left = pd.DataFrame(
        {
            "k": rng.integers(0, 3, 60),
            "t": np.sort(rng.choice(np.arange(500), 60, replace=False)).astype("int64"),
            "lv": rng.standard_normal(60),
        }
    ).sort_values("t")
    right = pd.DataFrame(
        {
            "k": rng.integers(0, 3, 25),
            "rt": np.sort(rng.choice(np.arange(500), 25, replace=False)).astype("int64"),
            "rv": rng.standard_normal(25),
        }
    ).sort_values("rt")
    out = xss.asof_join(
        spark.createDataFrame(left),
        spark.createDataFrame(right),
        on=["k"],
        left_ts="t",
        right_ts="rt",
        direction=direction,
    ).toPandas()
    want = pd.merge_asof(
        left, right, left_on="t", right_on="rt", by="k", direction=direction
    )
    got = out.sort_values(["k", "t"]).reset_index(drop=True)
    want = want.sort_values(["k", "t"]).reset_index(drop=True)
    for c in ("rt", "rv"):
        np.testing.assert_allclose(
            got[c].to_numpy(dtype=float), want[c].to_numpy(dtype=float), equal_nan=True
        )


def test_range_join_matches_bruteforce(spark):
    import pandas as pd

    rng = np.random.default_rng(5)
    pts = pd.DataFrame({"p": rng.integers(0, 1000, 200).astype("int64")})
    lo = rng.integers(0, 950, 20).astype("int64")
    iv = pd.DataFrame(
        {"iid": np.arange(20), "lo": lo, "hi": lo + rng.integers(0, 200, 20)}
    )
    # boundary cases: interval exactly on a chunk edge, point == lo == hi
    iv.loc[0, ["lo", "hi"]] = [100, 100]
    pts.loc[0, "p"] = 100
    out = xss.range_join(
        spark.createDataFrame(pts),
        spark.createDataFrame(iv),
        point_col="p",
        start_col="lo",
        end_col="hi",
        granularity=50,
    ).toPandas()
    want = pts.merge(iv, how="cross")
    want = want[(want.p >= want.lo) & (want.p <= want.hi)]
    got_set = sorted(map(tuple, out[["p", "iid"]].to_numpy()))
    want_set = sorted(map(tuple, want[["p", "iid"]].to_numpy()))
    assert got_set == want_set
    # and the plan is a hash join on the chunk key, not a nested loop
    plan = xss.range_join(
        spark.createDataFrame(pts),
        spark.createDataFrame(iv),
        point_col="p",
        start_col="lo",
        end_col="hi",
        granularity=50,
    )._jdf.queryExecution().executedPlan().toString()
    assert "NestedLoop" not in plan and "Cartesian" not in plan
    # fractional granularity must raise like interval_join's (0.5 would
    # int() to 0 -> div-0 -> silently empty join)
    import pytest as _pytest

    for bad in (0.5, 2.7):
        with _pytest.raises(ValueError, match="whole number"):
            xss.range_join(
                spark.createDataFrame(pts), spark.createDataFrame(iv),
                point_col="p", start_col="lo", end_col="hi",
                granularity=bad,
            )
    assert xss.range_join(
        spark.createDataFrame(pts), spark.createDataFrame(iv),
        point_col="p", start_col="lo", end_col="hi", granularity=50.0,
    ).count() > 0


def test_asof_join_plan_single_exchange(spark):
    import pandas as pd

    left = spark.createDataFrame(
        pd.DataFrame({"k": [0, 1], "t": [1, 2], "lv": [0.1, 0.2]})
    )
    right = spark.createDataFrame(
        pd.DataFrame({"k": [0, 1], "rt": [0, 1], "rv": [9.0, 8.0]})
    )
    out = xss.asof_join(left, right, on=["k"], left_ts="t", right_ts="rt")
    plan = out._jdf.queryExecution().executedPlan().toString()
    # union + window: no join operator at all, one shuffle for the window
    assert "Join" not in plan
    assert plan.count("Exchange hashpartitioning") == 1


def test_scalar_series_no_broadcast_dims(spark, sine_pdf):
    """The reference's nchannels=None shape (tests/test_signal.py:36-38):
    a bare series with NO broadcast dims is one global group."""
    import pandas as pd

    base = sine_pdf[sine_pdf.channel == 0][["time", "value"]]
    df = spark.createDataFrame(base).repartition(4)
    out = xss.rfft(df, by=[], dim="time")
    rows = out.orderBy("idx").collect()
    assert len(rows) == NSAMP // 2 + 1
    ref = np.fft.rfft(base.sort_values("time")["value"].to_numpy())
    got = np.array([r["re"] + 1j * r["im"] for r in rows])
    np.testing.assert_allclose(got, ref, atol=1e-9)
    # two-input path with no keys: self-convolution
    conv = xss.fftconvolve(df, df, by=[], dim="time", mode="full")
    assert conv.count() == 2 * NSAMP - 1


def test_sosfilt_chunked_equals_whole_series(spark):
    """Chunked filtering with zi handoff must be sample-for-sample
    identical to the whole-series recursion, for a NULL series key too
    (its state must hand off like any other key's)."""
    import pandas as pd

    from xarray_scipy_spark.kernels.dsp import sosfilt_1d
    from xarray_scipy_spark.kernels.filter_design import butter_sos

    rng = np.random.default_rng(17)
    n, keys = 100, [0, 1, 2, None]
    pdf = pd.concat(
        [
            pd.DataFrame(
                {"ch": [ch] * n, "t": np.arange(n, dtype=float), "value": rng.standard_normal(n)}
            )
            for ch in keys
        ],
        ignore_index=True,
    ).sample(frac=1.0, random_state=2)
    sos = butter_sos(4, 0.2)
    df = spark.createDataFrame(pdf, "ch long, t double, value double")
    out = xss.sosfilt_chunked(sos, df, by=["ch"], dim="t", chunk_rows=16).toPandas()
    assert len(out) == n * len(keys)
    for ch in keys:
        sel = out.ch.isna() if ch is None else out.ch == ch
        got = out[sel].sort_values("idx")["value"].to_numpy()
        src = pdf.ch.isna() if ch is None else pdf.ch == ch
        x = pdf[src].sort_values("t")["value"].to_numpy()
        np.testing.assert_array_equal(got, sosfilt_1d(sos, x))


def test_sosfilt_chunked_empty_input_leaves_no_cache(spark):
    """The empty-input early return must release the chunked source
    cache like the normal path does."""
    from xarray_scipy_spark.kernels.filter_design import butter_sos

    cm = spark._jsparkSession.sharedState().cacheManager()
    before = cm.numCachedEntries()
    empty = spark.createDataFrame([], "ch long, t double, value double")
    out = xss.sosfilt_chunked(butter_sos(4, 0.2), empty, by=["ch"], dim="t")
    assert out.count() == 0
    assert cm.numCachedEntries() == before


@pytest.mark.parametrize("kind", ["constant", "linear"])
def test_detrend_matches_numpy(spark, kind):
    import pandas as pd

    rng = np.random.default_rng(23)
    n, nch = 80, 3
    frames = []
    for ch in range(nch):
        x = 0.5 * ch + 0.03 * np.arange(n) + rng.standard_normal(n)
        frames.append(pd.DataFrame({"ch": ch, "t": np.arange(n, dtype=float), "value": x}))
    pdf = pd.concat(frames, ignore_index=True).sample(frac=1.0, random_state=4)
    out = xss.detrend(
        spark.createDataFrame(pdf), by=["ch"], dim="t", kind=kind
    ).toPandas()
    for ch in range(nch):
        got = out[out.ch == ch].sort_values("t")["value_detrended"].to_numpy()
        x = pdf[pdf.ch == ch].sort_values("t")["value"].to_numpy()
        if kind == "constant":
            ref = x - x.mean()
        else:
            p = np.arange(len(x))
            coef = np.polyfit(p, x, 1)
            ref = x - np.polyval(coef, p)
        np.testing.assert_allclose(got, ref, atol=1e-9)


def test_csd_and_coherence_match_numpy(spark, sine_df, sine_pdf):
    fl, hop = 32, 16
    base = sine_pdf[sine_pdf.channel == 0].sort_values("time")["value"].to_numpy()
    # y = x delayed by one sample (zero-filled) per channel
    y_df = sine_df.withColumn(
        "value",
        F.lag("value", 1, 0.0).over(
            __import__("pyspark.sql.window", fromlist=["Window"]).Window
            .partitionBy("channel").orderBy("time")
        ),
    )
    out = xss.csd(
        sine_df, y_df, by=["channel"], dim="time", frame_len=fl, hop=hop, window="hann"
    )
    rows = out.filter(F.col("channel") == 1).orderBy("idx").collect()
    taps = 0.5 - 0.5 * np.cos(2 * np.pi * np.arange(fl) / fl)
    ybase = np.r_[0.0, base[:-1]]
    fx = _np_stft(base, fl, hop, taps)
    fy = _np_stft(ybase, fl, hop, taps)
    fold = np.full(fl // 2 + 1, 2.0)
    fold[0] = fold[-1] = 1.0
    ref = (np.conj(fx) * fy).mean(axis=0) * fold / np.sum(taps**2)
    got = np.array([r["re"] + 1j * r["im"] for r in rows])
    np.testing.assert_allclose(got, ref, atol=1e-9)

    coh = xss.coherence(
        sine_df, y_df, by=["channel"], dim="time", frame_len=fl, hop=hop
    )
    crows = coh.filter(F.col("channel") == 1).orderBy("idx").collect()
    pxx = (np.abs(fx) ** 2).mean(axis=0)
    pyy = (np.abs(fy) ** 2).mean(axis=0)
    pxy = (np.conj(fx) * fy).mean(axis=0)
    cref = np.abs(pxy) ** 2 / (pxx * pyy)
    np.testing.assert_allclose([r["coherence"] for r in crows], cref, atol=1e-9)
    # a pure delay of a sine keeps full coherence at the tone bin
    tone_bin = int(round(F0 / (FS / fl)))
    assert crows[tone_bin]["coherence"] > 0.99


@pytest.mark.parametrize("hop", [0, -2])
@pytest.mark.parametrize("op", ["welch", "istft", "csd", "coherence"])
def test_framed_operators_reject_nonpositive_hop(sine_df, op, hop):
    """``hop <= 0`` raises at call time: a zero step used to fail only
    inside the worker, after task retries, and a negative one silently
    reversed the framing (``istft`` wrote samples at negative ``t``)."""
    kw = dict(by=["channel"], frame_len=32, hop=hop)
    with pytest.raises(ValueError, match="hop"):
        if op == "welch":
            xss.welch(sine_df, dim="time", **kw)
        elif op == "istft":
            stft = xss.stft(sine_df, by=["channel"], dim="time", frame_len=32)
            xss.istft(stft, **kw)
        else:
            getattr(xss, op)(sine_df, sine_df, dim="time", **kw)


# ---------------- istft ----------------

def test_istft_roundtrip_reconstructs(spark, sine_df, sine_pdf):
    """stft -> istft (Hann, overlap-add as a native aggregation) must
    reproduce the original samples exactly on the covered positions:
    t=0 drops (periodic Hann w[0]=0), the unframed tail drops."""
    fl, hop = 32, 16
    spec = xss.stft(sine_df, by=["channel"], dim="time", frame_len=fl, hop=hop, window="hann")
    rec = xss.istft(spec, by=["channel"], frame_len=fl, hop=hop, window="hann")
    got = rec.filter(F.col("channel") == 2).orderBy("t").collect()
    base = sine_pdf[sine_pdf.channel == 2].sort_values("time")["value"].to_numpy()
    n_frames = (NSAMP - fl) // hop + 1
    covered_hi = (n_frames - 1) * hop + fl - 1
    assert [r["t"] for r in got] == list(range(1, covered_hi + 1))
    np.testing.assert_allclose(
        [r["value"] for r in got], base[1 : covered_hi + 1], atol=1e-9
    )


def test_istft_fused_and_spectral_apply_match_native(spark, sine_df):
    """The two physical strategies for the inverse — istft's native
    OLA (frame-parallel) and spectral_apply's fused single-kernel
    roundtrip — must produce identical rows: same semantics,
    different exchanges."""
    fl, hop = 32, 16
    spec = xss.stft(
        sine_df, by=["channel"], dim="time", frame_len=fl, hop=hop, window="hann"
    )
    native = xss.istft(
        spec, by=["channel"], frame_len=fl, hop=hop, window="hann"
    ).toPandas().sort_values(["channel", "t"], ignore_index=True)
    one_pass = xss.spectral_apply(
        sine_df, by=["channel"], dim="time", frame_len=fl, hop=hop, window="hann"
    ).toPandas().sort_values(["channel", "t"], ignore_index=True)
    assert native[["channel", "t"]].equals(one_pass[["channel", "t"]])
    np.testing.assert_allclose(one_pass["value"], native["value"], atol=1e-9)


def test_spectral_apply_transform_masks_bins(spark, sine_df, sine_pdf):
    """A zero-everything transform returns (near-)zero signal; a
    band-keep mask around the tone bin preserves the sine — the
    modify-resynthesize contract actually applies the transform."""
    fl, hop = 32, 16

    def zero_all(spec):
        return np.zeros_like(spec)

    z = xss.spectral_apply(
        sine_df, by=["channel"], dim="time", frame_len=fl, hop=hop,
        window="hann", transform=zero_all,
    ).toPandas()
    assert (z["value"].abs() < 1e-12).all()

    tone_bin = int(round(F0 / (FS / fl)))

    def keep_tone(spec):
        out = np.zeros_like(spec)
        out[:, :, tone_bin] = spec[:, :, tone_bin]
        return out

    kept = (
        xss.spectral_apply(
            sine_df, by=["channel"], dim="time", frame_len=fl, hop=hop,
            window="hann", transform=keep_tone,
        )
        .filter(F.col("channel") == 2)
        .orderBy("t")
        .toPandas()
    )
    base = sine_pdf[sine_pdf.channel == 2].sort_values("time")["value"].to_numpy()
    # interior samples (away from OLA edges) keep the tone's energy
    mid = slice(fl, len(kept) - fl)
    corr = np.corrcoef(kept["value"].to_numpy()[mid], base[1 : len(kept) + 1][mid])[0, 1]
    assert corr > 0.95


def test_find_peaks_filters_and_contract(spark):
    """scipy semantics incl. plateau midpoints; height/threshold
    filters; output frame feeds peak_widths directly."""
    import pandas as pd

    import xarray_scipy_spark.operators as ops

    pdf = pd.DataFrame(
        {
            "ch": [0] * 9,
            "t": list(range(9)),
            #      edge  peak   low-prom peak        big peak      plateau
            "value": [5.0, 0.0, 1.0, 0.5, 0.52, 0.5, 3.0, 3.0, 1.0],
        }
    )
    df = spark.createDataFrame(pdf)
    out = ops.find_peaks(df, by=["ch"], dim="t").toPandas()
    # index 0 is an edge; 4 is a peak (0.52); the 6-7 plateau peaks at
    # its midpoint 6 (scipy flat-top semantics, r6 parity upgrade)
    assert sorted(out["index"].tolist()) == [2, 4, 6]
    assert out.sort_values("index")["peak"].tolist() == [0, 1, 2]
    # height filter removes the 0.52 peak (plateau value 3.0 survives)
    high = ops.find_peaks(df, by=["ch"], dim="t", height=0.9).toPandas()
    assert sorted(high["index"].tolist()) == [2, 6]
    # threshold: low-prominence 0.52 drops; the plateau midpoint's right
    # neighbor is equal (diff 0), so it drops too — scipy does the same
    th = ops.find_peaks(df, by=["ch"], dim="t", threshold=0.1).toPandas()
    assert sorted(th["index"].tolist()) == [2]


@pytest.mark.parametrize("side", ["none", "im1", "im2", "both"])
@pytest.mark.parametrize("mode", ["full", "same", "valid"])
@pytest.mark.parametrize("op", ["fftconvolve", "correlate"])
def test_correlate_matches_direct_and_conjugates(spark, op, mode, side):
    """Through the operator, for every mode and complex side (real,
    complex first or second input, both complex): fftconvolve equals
    ``fftconvolve_1d(x, y)`` and correlate equals scipy's definition
    ``fftconvolve_1d(x, conj(y[::-1]))``; full-mode correlate also
    equals numpy's direct O(n*m) lag sum, which conjugates ``y``."""
    from xarray_scipy_spark import operators as ops
    from xarray_scipy_spark.kernels.dsp import fftconvolve_1d

    rng = np.random.default_rng(5)
    x, y = rng.standard_normal(17), rng.standard_normal(9)
    xi, yi = rng.standard_normal(17), rng.standard_normal(9)
    schema = "ch string, t bigint, value double, im double"
    d1 = spark.createDataFrame(
        [("a", j, float(v), float(w)) for j, (v, w) in enumerate(zip(x, xi))], schema
    )
    d2 = spark.createDataFrame(
        [("a", j, float(v), float(w)) for j, (v, w) in enumerate(zip(y, yi))], schema
    )
    im1 = "im" if side in ("im1", "both") else None
    im2 = "im" if side in ("im2", "both") else None
    xs = x + 1j * xi if im1 else x
    ys = y + 1j * yi if im2 else y
    want = fftconvolve_1d(xs, np.conj(ys[::-1]) if op == "correlate" else ys, mode=mode)
    got = (
        getattr(ops, op)(d1, d2, by=["ch"], dim="t", mode=mode, im1=im1, im2=im2)
        .orderBy("idx")
        .toPandas()
    )
    if side == "none":
        np.testing.assert_allclose(got["value"].to_numpy(), want, atol=1e-9)
    else:
        np.testing.assert_allclose(got["re"].to_numpy(), want.real, atol=1e-9)
        np.testing.assert_allclose(got["im"].to_numpy(), want.imag, atol=1e-9)
    if op == "correlate" and mode == "full":
        np.testing.assert_allclose(want, np.correlate(xs, ys, mode="full"), atol=1e-9)


def _medfilt_ref(x: np.ndarray, k: int) -> np.ndarray:
    """scipy.signal.medfilt semantics: zero-padded sliding median."""
    h = k // 2
    xp = np.concatenate([np.zeros(h), x, np.zeros(h)])
    return np.array([np.median(xp[i : i + k]) for i in range(len(x))])


def _wiener_ref(x: np.ndarray, k: int) -> np.ndarray:
    """scipy.signal.wiener semantics (1-D, noise=None): zero-padded
    local mean/variance, noise = mean local variance."""
    h = k // 2
    xp = np.concatenate([np.zeros(h), x, np.zeros(h)])
    lmean = np.array([xp[i : i + k].sum() for i in range(len(x))]) / k
    lsq = np.array([(xp[i : i + k] ** 2).sum() for i in range(len(x))]) / k
    lvar = lsq - lmean**2
    noise = lvar.mean()
    with np.errstate(divide="ignore", invalid="ignore"):
        res = lmean + (x - lmean) * (1.0 - noise / lvar)
    return np.where(lvar < noise, lmean, res)


@pytest.mark.parametrize("k", [3, 5, 7])
def test_medfilt_matches_zero_padded_reference(spark, k):
    rng = np.random.default_rng(11)
    frames = []
    refs = {}
    for ch in ("a", "b"):
        # mix of signs and exact zeros so every CASE branch fires
        x = np.round(rng.standard_normal(53), 3)
        x[rng.integers(0, 53, 6)] = 0.0
        frames.append(
            pd.DataFrame({"ch": ch, "t": np.arange(len(x)), "value": x})
        )
        refs[ch] = _medfilt_ref(x, k)
    df = spark.createDataFrame(pd.concat(frames, ignore_index=True))
    got = (
        xss.operators.medfilt(df, by=["ch"], dim="t", kernel_size=k)
        .orderBy("ch", "t")
        .toPandas()
    )
    for ch in ("a", "b"):
        np.testing.assert_array_equal(
            got[got["ch"] == ch]["value_med"].to_numpy(), refs[ch]
        )


def test_medfilt_rejects_even_kernel(spark, sine_df):
    with pytest.raises(ValueError, match="odd"):
        xss.operators.medfilt(sine_df, by=["channel"], dim="time", kernel_size=4)


def test_wiener_matches_zero_padded_reference(spark):
    rng = np.random.default_rng(12)
    x = rng.standard_normal(101) + 0.2
    df = spark.createDataFrame(
        pd.DataFrame({"ch": "a", "t": np.arange(len(x)), "value": x})
    )
    got = (
        xss.operators.wiener(df, by=["ch"], dim="t", mysize=5)
        .orderBy("t")
        .toPandas()
    )
    np.testing.assert_allclose(
        got["value_wiener"].to_numpy(), _wiener_ref(x, 5), atol=1e-9
    )
    # explicit noise level bypasses the estimate
    got2 = (
        xss.operators.wiener(df, by=["ch"], dim="t", mysize=5, noise=0.5)
        .orderBy("t")
        .toPandas()
    )
    h = 2
    xp = np.concatenate([np.zeros(h), x, np.zeros(h)])
    lmean = np.array([xp[i : i + 5].sum() for i in range(len(x))]) / 5
    lvar = (
        np.array([(xp[i : i + 5] ** 2).sum() for i in range(len(x))]) / 5
        - lmean**2
    )
    res = np.where(lvar < 0.5, lmean, lmean + (x - lmean) * (1 - 0.5 / lvar))
    np.testing.assert_allclose(got2["value_wiener"].to_numpy(), res, atol=1e-9)


def test_lfilter_and_filtfilt_operators(spark, sine_df, sine_pdf):
    from xarray_scipy_spark.kernels import (
        butter_sos,
        filtfilt_ragged,
        lfilter_1d,
        sos2tf,
    )

    b, a = sos2tf(butter_sos(4, 0.2))
    x = sine_pdf[sine_pdf["channel"] == 0]["value"].to_numpy()

    got = (
        xss.operators.lfilter(b, a, sine_df, by=["channel"], dim="time")
        .filter(F.col("channel") == 0)
        .orderBy("idx")
        .toPandas()
    )
    np.testing.assert_allclose(
        got["value"].to_numpy(), lfilter_1d(b, a, x), atol=1e-9
    )
    # coordinate passthrough survives the kernel exchange
    np.testing.assert_allclose(
        got["time"].to_numpy(), np.arange(NSAMP) / FS, atol=1e-9
    )

    got2 = (
        xss.operators.filtfilt(b, a, sine_df, by=["channel"], dim="time")
        .filter(F.col("channel") == 0)
        .orderBy("idx")
        .toPandas()
    )
    want2 = filtfilt_ragged(
        b, a, x[None, :], np.array([len(x)])
    )[0]
    np.testing.assert_allclose(got2["value"].to_numpy(), want2, atol=1e-9)

    with pytest.raises(ValueError, match="nonzero"):
        xss.operators.lfilter([1.0], [0.0, 1.0], sine_df, by=["channel"], dim="time")
    with pytest.raises(ValueError, match="padtype"):
        xss.operators.filtfilt(
            b, a, sine_df, by=["channel"], dim="time", padtype="bogus"
        )


def test_zero_phase_operators_negative_padlen_extends_nothing(spark, sine_df):
    """A negative padlen means no edge extension (scipy), so both
    zero-phase operators return their padlen=0 output for it."""
    from xarray_scipy_spark.kernels import butter_sos, sos2tf

    sos = butter_sos(4, 0.3)
    b, a = sos2tf(sos)

    def values(op, *coef, padlen):
        out = op(*coef, sine_df, by=["channel"], dim="time", padlen=padlen)
        return out.orderBy("channel", "idx").toPandas()["value"].to_numpy()

    for op, coef in (
        (xss.operators.sosfiltfilt, (sos,)),
        (xss.operators.filtfilt, (b, a)),
    ):
        np.testing.assert_array_equal(
            values(op, *coef, padlen=-1), values(op, *coef, padlen=0)
        )


def test_savgol_filter_matches_interp_reference(spark):
    from xarray_scipy_spark.operators.savgol import savgol_coeff_matrices

    rng = np.random.default_rng(21)
    w, m = 7, 3
    h = w // 2
    frames, refs = [], {}
    for ch in ("a", "b"):
        x = rng.standard_normal(40)
        interior, head, tail = savgol_coeff_matrices(w, m)
        n = len(x)
        ref = np.empty(n)
        for i in range(n):
            if i < h:
                ref[i] = head[i] @ x[:w]
            elif i >= n - h:
                ref[n - 1 - (n - 1 - i)] = ref[i] = tail[n - 1 - i] @ x[-w:]
            else:
                ref[i] = interior @ x[i - h : i + h + 1]
        refs[ch] = ref
        frames.append(pd.DataFrame({"ch": ch, "t": np.arange(n), "value": x}))
    df = spark.createDataFrame(pd.concat(frames, ignore_index=True))
    got = (
        xss.operators.savgol_filter(
            df, by=["ch"], dim="t", window_length=w, polyorder=m
        )
        .orderBy("ch", "t")
        .toPandas()
    )
    for ch in ("a", "b"):
        np.testing.assert_allclose(
            got[got["ch"] == ch]["value_sg"].to_numpy(), refs[ch], atol=1e-9
        )


def test_savgol_reproduces_polynomials_exactly(spark):
    # the defining interp-mode property: a polynomial of degree <=
    # polyorder passes through unchanged (including at the edges), and
    # deriv=1 returns its exact derivative
    t = np.arange(50, dtype=float)
    x = 0.5 - 1.2 * t + 0.03 * t**2
    df = spark.createDataFrame(pd.DataFrame({"ch": "a", "t": t, "value": x}))
    got = (
        xss.operators.savgol_filter(
            df, by=["ch"], dim="t", window_length=9, polyorder=2
        )
        .orderBy("t")
        .toPandas()
    )
    np.testing.assert_allclose(got["value_sg"].to_numpy(), x, atol=1e-7)
    gotd = (
        xss.operators.savgol_filter(
            df, by=["ch"], dim="t", window_length=9, polyorder=2, deriv=1
        )
        .orderBy("t")
        .toPandas()
    )
    np.testing.assert_allclose(
        gotd["value_sg"].to_numpy(), -1.2 + 0.06 * t, atol=1e-7
    )
    # delta rescales the derivative (scipy): d/dt with dt=0.5 doubles it
    gotd2 = (
        xss.operators.savgol_filter(
            df, by=["ch"], dim="t", window_length=9, polyorder=2, deriv=1, delta=0.5
        )
        .orderBy("t")
        .toPandas()
    )
    np.testing.assert_allclose(
        gotd2["value_sg"].to_numpy(), 2 * (-1.2 + 0.06 * t), atol=1e-7
    )


def test_savgol_validates_arguments(spark, sine_df):
    with pytest.raises(ValueError, match="odd"):
        xss.operators.savgol_filter(
            sine_df, by=["channel"], dim="time", window_length=6
        )
    with pytest.raises(ValueError, match="polyorder"):
        xss.operators.savgol_filter(
            sine_df, by=["channel"], dim="time", window_length=5, polyorder=5
        )
    with pytest.raises(ValueError, match="deriv"):
        xss.operators.savgol_filter(
            sine_df, by=["channel"], dim="time", window_length=7, polyorder=2, deriv=3
        )


def test_periodogram_matches_numpy(spark, sine_df, sine_pdf):
    x = sine_pdf[sine_pdf["channel"] == 0]["value"].to_numpy()
    got = (
        xss.operators.periodogram(sine_df, by=["channel"], dim="time")
        .filter(F.col("channel") == 0)
        .orderBy("idx")
        .toPandas()
    )
    n = len(x)
    spec = np.fft.rfft(x - x.mean())
    fold = np.full(n // 2 + 1, 2.0)
    fold[0] = 1.0
    if n % 2 == 0:
        fold[-1] = 1.0
    want = (spec.real**2 + spec.imag**2) * fold / n
    np.testing.assert_allclose(got["power"].to_numpy(), want, atol=1e-8)
    # frequency coord: bin k at k/(n*dt); the sine's energy sits at F0
    peak = got.loc[got["power"].idxmax(), "frequency"]
    assert abs(peak - F0) < FS / n
    # Parseval (boxcar, demeaned): sum(power)/n == variance
    assert abs(got["power"].sum() / n - x.var()) < 1e-9
    with pytest.raises(ValueError, match="detrend"):
        xss.operators.periodogram(
            sine_df, by=["channel"], dim="time", detrend="linear"
        )


@pytest.mark.parametrize("up,down", [(3, 2), (2, 3), (5, 1)])
def test_resample_poly_matches_kernel_and_coords(spark, up, down):
    from math import gcd

    from xarray_scipy_spark.kernels.dsp import resample_poly_ragged

    rng = np.random.default_rng(31)
    frames, refs = [], {}
    for ch, n in (("a", 80), ("b", 57)):
        x = rng.standard_normal(n)
        frames.append(
            pd.DataFrame({"ch": ch, "t": np.arange(n) * 0.5, "value": x})
        )
        y, ol = resample_poly_ragged(x[None, :], np.array([n]), up, down)
        refs[ch] = y[0, : ol[0]]
    df = spark.createDataFrame(pd.concat(frames, ignore_index=True))
    got = (
        xss.operators.resample_poly(df, up, down, by=["ch"], dim="t")
        .orderBy("ch", "idx")
        .toPandas()
    )
    g = gcd(up, down)
    for ch, n in (("a", 80), ("b", 57)):
        sub = got[got["ch"] == ch]
        assert len(sub) == -(-n * (up // g) // (down // g))
        np.testing.assert_allclose(sub["value"].to_numpy(), refs[ch], atol=1e-9)
        # coordinate: spacing rescaled by down/up over the same origin
        np.testing.assert_allclose(
            sub["t"].to_numpy(),
            np.arange(len(sub)) * 0.5 * (down // g) / (up // g),
            atol=1e-9,
        )
    with pytest.raises(ValueError, match=">= 1"):
        xss.operators.resample_poly(df, 0, 2, by=["ch"], dim="t")


def test_cwt_ricker_matches_direct_convolution(spark):
    from xarray_scipy_spark.operators.cwt import ricker_taps

    rng = np.random.default_rng(41)
    x = rng.standard_normal(64)
    widths = [1.0, 2.0, 4.0]
    df = spark.createDataFrame(
        pd.DataFrame({"ch": "a", "t": np.arange(64) * 0.25, "value": x})
    )
    got = (
        xss.operators.cwt_ricker(df, widths, by=["ch"], dim="t")
        .orderBy("width_idx", "pos")
        .toPandas()
    )
    assert len(got) == 3 * 64
    for wi, w in enumerate(widths):
        taps = ricker_taps(int(10 * w), w)
        want = np.convolve(x, taps[::-1], mode="same")
        sub = got[got["width_idx"] == wi]
        np.testing.assert_allclose(sub["value"].to_numpy(), want, atol=1e-9)
        assert (sub["width"] == w).all()
        np.testing.assert_allclose(
            sub["t"].to_numpy(), np.arange(64) * 0.25, atol=1e-12
        )
    # scale-selectivity sanity: a blob of width ~4 peaks at the width-4 row
    blob = np.exp(-((np.arange(64) - 32.0) ** 2) / (2 * 4.0**2))
    dfb = spark.createDataFrame(
        pd.DataFrame({"ch": "a", "t": np.arange(64.0), "value": blob})
    )
    gb = (
        xss.operators.cwt_ricker(dfb, widths, by=["ch"], dim="t")
        .orderBy("width_idx", "pos")
        .toPandas()
    )
    peak_by_width = gb.groupby("width_idx")["value"].max()
    assert peak_by_width.idxmax() == 2
    # short-series refusal instead of silent per-series tap clipping
    short = spark.createDataFrame(
        pd.DataFrame({"ch": "a", "t": np.arange(20.0), "value": np.ones(20)})
    )
    with pytest.raises(Exception, match="shorter than the longest wavelet"):
        xss.operators.cwt_ricker(short, widths, by=["ch"], dim="t").collect()


def test_find_peaks_plateau_midpoints_match_scipy_walk(spark):
    # scipy _local_maxima_1d reference: flat-top runs peak at their
    # midpoint when both bounding neighbors are strictly lower
    def ref(x):
        peaks, i, n = [], 1, len(x)
        while i < n - 1:
            if x[i] > x[i - 1]:
                ahead = i + 1
                while ahead < n - 1 and x[ahead] == x[i]:
                    ahead += 1
                if x[ahead] < x[i]:
                    peaks.append((i + ahead - 1) // 2)
                    i = ahead
            i += 1
        return peaks

    rng = np.random.default_rng(17)
    for trial in range(4):
        x = rng.integers(0, 4, 60).astype(float)  # ties -> many plateaus
        df = spark.createDataFrame(
            pd.DataFrame({"ch": "a", "t": np.arange(60), "value": x})
        )
        got = sorted(
            xss.operators.find_peaks(df, by=["ch"], dim="t")
            .select("index")
            .toPandas()["index"]
            .tolist()
        )
        assert got == ref(x), (trial, got, ref(x), x.tolist())
    # hand-built cases: plateau at the edge is NOT a peak; interior is
    df = spark.createDataFrame(
        pd.DataFrame(
            {
                "ch": "a",
                "t": range(10),
                "value": [3.0, 3.0, 1.0, 2.0, 2.0, 2.0, 1.0, 0.0, 5.0, 5.0],
            }
        )
    )
    got = sorted(
        xss.operators.find_peaks(df, by=["ch"], dim="t")
        .select("index")
        .toPandas()["index"]
        .tolist()
    )
    assert got == [4]  # midpoint of the 3-long run at 3..5
    # positive threshold drops interior plateau midpoints (scipy too)
    gott = (
        xss.operators.find_peaks(df, by=["ch"], dim="t", threshold=0.5)
        .select("index")
        .toPandas()["index"]
        .tolist()
    )
    assert gott == []
    # two samples share an instant inside a plateau: whichever order the
    # tie takes, the run spans indices 2..4 and peaks at 3
    tied = spark.createDataFrame(
        pd.DataFrame(
            {"ch": "a", "t": [0, 1, 2, 2, 3, 4], "value": [0.0, 1.0, 5.0, 5.0, 5.0, 1.0]}
        )
    )
    got = xss.operators.find_peaks(tied, by=["ch"], dim="t").select("index").toPandas()
    assert got["index"].tolist() == [3]


def test_deconvolve_reconstructs_exactly(spark):
    rng = np.random.default_rng(29)
    divisor = np.array([1.0, -0.5, 0.06])
    frames = {}
    dfs = []
    for ch, n in (("a", 50), ("b", 37)):
        x = rng.standard_normal(n)
        frames[ch] = x
        dfs.append(pd.DataFrame({"ch": ch, "t": np.arange(n, dtype=float), "value": x}))
    df = spark.createDataFrame(pd.concat(dfs, ignore_index=True))
    got = (
        xss.operators.deconvolve(df, divisor, by=["ch"], dim="t")
        .orderBy("ch", "idx")
        .toPandas()
    )
    for ch, x in frames.items():
        sub = got[got["ch"] == ch]
        q = sub["quotient"].to_numpy()
        r = sub["remainder"].to_numpy()
        n = len(x)
        nq = n - len(divisor) + 1
        # defining identity: conv(divisor, quotient) + remainder == signal
        recon = np.convolve(divisor, q[:nq], mode="full")[:n] + r
        np.testing.assert_allclose(recon, x, atol=1e-9)
        assert (q[nq:] == 0.0).all()
        # scipy reference: quotient = lfilter(signal, divisor, impulse)
        imp = np.zeros(nq)
        imp[0] = 1.0
        from xarray_scipy_spark.kernels import lfilter_1d

        want_q = lfilter_1d(x, divisor, imp)
        np.testing.assert_allclose(q[:nq], want_q, atol=1e-9)
    with pytest.raises(ValueError, match="nonzero"):
        xss.operators.deconvolve(df, [0.0, 1.0], by=["ch"], dim="t")


def test_order_filter_ranks(spark):
    rng = np.random.default_rng(37)
    x = np.round(rng.standard_normal(40), 3)
    x[5:8] = 0.0
    df = spark.createDataFrame(
        pd.DataFrame({"ch": "a", "t": np.arange(40), "value": x})
    )
    k, h = 5, 2
    xp = np.concatenate([np.zeros(h), x, np.zeros(h)])
    wins = np.lib.stride_tricks.sliding_window_view(xp, k)
    for rank in (0, 2, 4):
        got = (
            xss.operators.order_filter(
                df, by=["ch"], dim="t", kernel_size=k, rank=rank
            )
            .orderBy("t")
            .toPandas()["value_ord"]
            .to_numpy()
        )
        want = np.sort(wins, axis=1)[:, rank]
        np.testing.assert_array_equal(got, want)
    # rank (k-1)//2 IS medfilt
    med = (
        xss.operators.medfilt(df, by=["ch"], dim="t", kernel_size=k)
        .orderBy("t")
        .toPandas()["value_med"]
        .to_numpy()
    )
    mid = (
        xss.operators.order_filter(df, by=["ch"], dim="t", kernel_size=k, rank=2)
        .orderBy("t")
        .toPandas()["value_ord"]
        .to_numpy()
    )
    np.testing.assert_array_equal(med, mid)
    with pytest.raises(ValueError, match="rank"):
        xss.operators.order_filter(df, by=["ch"], dim="t", kernel_size=5, rank=5)


def test_peak_prominences_operator_matches_kernel(spark):
    from xarray_scipy_spark.kernels import peak_prominences as prom_np

    rng = np.random.default_rng(43)
    t = np.arange(200)
    x = np.sin(2 * np.pi * t / 40) * (1 + 0.3 * np.sin(2 * np.pi * t / 95)) \
        + 0.05 * rng.standard_normal(200)
    df = spark.createDataFrame(pd.DataFrame({"ch": "a", "t": t, "value": x}))
    peaks = xss.operators.find_peaks(df, by=["ch"], dim="t")
    got = (
        xss.operators.peak_prominences(df, peaks, by=["ch"], dim="t")
        .orderBy("peak")
        .toPandas()
    )
    idxs = (
        peaks.orderBy("peak").select("index").toPandas()["index"].to_numpy()
    )
    proms, lbs, rbs = prom_np(x, idxs)
    np.testing.assert_allclose(got["prominence"].to_numpy(), proms, atol=1e-12)
    np.testing.assert_array_equal(got["left_base"].to_numpy(), lbs)
    np.testing.assert_array_equal(got["right_base"].to_numpy(), rbs)
    # prominences are positive and bounded by the signal range
    assert (got["prominence"] > 0).all()
    assert got["prominence"].max() <= x.max() - x.min() + 1e-12


def test_welch_nfft_and_kaiser_window(spark, sine_df, sine_pdf):
    from xarray_scipy_spark.operators.spectral import window_taps

    x = sine_pdf[sine_pdf["channel"] == 0]["value"].to_numpy()
    # nfft zero-padding: 4x finer bins, peak still lands on F0
    got = (
        xss.operators.welch(
            sine_df, by=["channel"], dim="time", frame_len=64, hop=32, nfft=256
        )
        .filter(F.col("channel") == 0)
        .orderBy("idx")
        .toPandas()
    )
    assert len(got) == 256 // 2 + 1
    taps = window_taps("hann", 64)
    fr = np.lib.stride_tricks.sliding_window_view(x, 64)[::32] * taps
    spec = np.fft.rfft(fr, n=256, axis=-1)
    fold = np.full(129, 2.0)
    fold[0] = fold[-1] = 1.0
    want = (spec.real**2 + spec.imag**2).mean(axis=0) * fold / (taps**2).sum()
    np.testing.assert_allclose(got["power"].to_numpy(), want, atol=1e-9)
    peak_f = got.loc[got["power"].idxmax(), "frequency"]
    assert abs(peak_f - F0) <= FS / 256
    # kaiser window: matches the truncated symmetric numpy form and
    # drives welch end to end
    kt = window_taps(("kaiser", 8.0), 64)
    m = np.arange(65.0)
    ref = np.i0(8.0 * np.sqrt(1 - (2 * m / 64 - 1) ** 2)) / np.i0(8.0)
    np.testing.assert_allclose(kt, ref[:64], atol=1e-12)
    gk = xss.operators.welch(
        sine_df,
        by=["channel"],
        dim="time",
        frame_len=64,
        hop=32,
        window=("kaiser", 8.0),
    ).count()
    assert gk == NCHAN * 33
    with pytest.raises(ValueError, match="nfft"):
        xss.operators.welch(
            sine_df, by=["channel"], dim="time", frame_len=64, nfft=32
        )


def test_welch_detrend_constant_and_upfirdn(spark):
    from xarray_scipy_spark.kernels.dsp import _upfirdn_out_len
    from xarray_scipy_spark.operators.spectral import window_taps

    rng = np.random.default_rng(47)
    x = rng.standard_normal(256) + 5.0  # big DC offset
    df = spark.createDataFrame(
        pd.DataFrame({"ch": "a", "t": np.arange(256.0), "value": x})
    )
    w0 = (
        xss.operators.welch(df, by=["ch"], dim="t", frame_len=64, hop=32)
        .orderBy("idx")
        .toPandas()["power"]
        .to_numpy()
    )
    wc = (
        xss.operators.welch(
            df, by=["ch"], dim="t", frame_len=64, hop=32, detrend="constant"
        )
        .orderBy("idx")
        .toPandas()["power"]
        .to_numpy()
    )
    # detrending kills the huge DC bin, leaves the broadband floor alone
    assert wc[0] < w0[0] * 1e-3
    taps = window_taps("hann", 64)
    fr = np.lib.stride_tricks.sliding_window_view(x, 64)[::32]
    fr = (fr - fr.mean(axis=-1, keepdims=True)) * taps
    spec = np.fft.rfft(fr, axis=-1)
    fold = np.full(33, 2.0)
    fold[0] = fold[-1] = 1.0
    want = (spec.real**2 + spec.imag**2).mean(axis=0) * fold / (taps**2).sum()
    np.testing.assert_allclose(wc, want, atol=1e-9)

    # upfirdn operator vs the direct zero-stuff construction
    h = rng.standard_normal(9)
    up, down = 3, 2
    got = (
        xss.operators.upfirdn(df, h, by=["ch"], dim="t", up=up, down=down)
        .orderBy("idx")
        .toPandas()
    )
    xu = np.zeros(256 * up)
    xu[::up] = x
    want_u = np.convolve(xu, h, mode="full")[::down][
        : int(_upfirdn_out_len(len(h), 256, up, down))
    ]
    np.testing.assert_allclose(got["value"].to_numpy(), want_u, atol=1e-9)
    # coordinate spacing scales by down/up
    np.testing.assert_allclose(np.diff(got["t"].to_numpy())[:5], down / up, atol=1e-12)


def test_welch_median_average_rejects_transient(spark):
    rng = np.random.default_rng(53)
    x = rng.standard_normal(512)
    x[200:232] += 40.0  # one violent burst
    df = spark.createDataFrame(
        pd.DataFrame({"ch": "a", "t": np.arange(512.0), "value": x})
    )
    mean_p = (
        xss.operators.welch(df, by=["ch"], dim="t", frame_len=64, hop=32)
        .orderBy("idx")
        .toPandas()["power"]
        .to_numpy()
    )
    med_p = (
        xss.operators.welch(
            df, by=["ch"], dim="t", frame_len=64, hop=32, average="median"
        )
        .orderBy("idx")
        .toPandas()["power"]
        .to_numpy()
    )
    # numpy reference with scipy's bias correction
    from xarray_scipy_spark.operators.spectral import window_taps

    taps = window_taps("hann", 64)
    fr = np.lib.stride_tricks.sliding_window_view(x, 64)[::32] * taps
    per = np.abs(np.fft.rfft(fr, axis=-1)) ** 2
    n = per.shape[0]
    k = np.arange(1.0, (n - 1) // 2 + 1)
    bias = 1.0 + np.sum(1.0 / (2 * k + 1) - 1.0 / (2 * k))
    fold = np.full(33, 2.0)
    fold[0] = fold[-1] = 1.0
    want = np.median(per, axis=0) / bias * fold / (taps**2).sum()
    np.testing.assert_allclose(med_p, want, atol=1e-9)
    # robustness: the burst inflates the mean PSD way above the median
    assert mean_p.sum() > 5 * med_p.sum()
    with pytest.raises(ValueError, match="average"):
        xss.operators.welch(
            df, by=["ch"], dim="t", frame_len=64, average="mode"
        )


def test_find_peaks_distance_greedy_selection(spark):
    """scipy distance semantics: highest peak first, neighbors closer
    than `distance` dropped; equal heights -> later index wins (the
    stable-argsort tie-break)."""
    import xarray_scipy_spark as xss

    def run(vals, **kw):
        rows = [(0, t, float(v)) for t, v in enumerate(vals)]
        df = spark.createDataFrame(rows, "ch int, t long, value double")
        res = xss.operators.find_peaks(df, by=["ch"], dim="t", **kw)
        return [r["index"] for r in res.orderBy("index").collect()]

    sig = [0, 3, 0, 2, 0, 1, 0]
    assert run(sig) == [1, 3, 5]
    assert run(sig, distance=3) == [1, 5]  # idx3 within 2 of the top peak
    assert run(sig, distance=1) == [1, 3, 5]  # no-op separation
    assert run(sig, distance=10) == [1]  # only the global max survives
    # equal heights: later peak has higher stable-argsort priority
    assert run([0, 2, 0, 2, 0], distance=3) == [3]
    # distance composes with height
    assert run(sig, height=2.0, distance=2) == [1, 3]
    # peak ranks re-number contiguously after selection
    rows = [(0, t, float(v)) for t, v in enumerate(sig)]
    df = spark.createDataFrame(rows, "ch int, t long, value double")
    res = xss.operators.find_peaks(df, by=["ch"], dim="t", distance=3)
    assert [r["peak"] for r in res.orderBy("index").collect()] == [0, 1]
    import pytest as _pytest

    with _pytest.raises(ValueError, match="distance"):
        xss.operators.find_peaks(df, by=["ch"], dim="t", distance=0)


def test_find_peaks_prominence_and_width_filters(spark):
    """The remaining scipy filter surface: prominence/width compose
    from the trio's own kernels on the survivor set."""
    import xarray_scipy_spark as xss

    # two prominent peaks (3 at idx2, 4 at idx8) and a shallow bump
    # (1.2 at idx5 sitting on a 1.0 shelf -> prominence 0.2)
    sig = [0, 1, 3, 1, 1, 1.2, 1, 2, 4, 2, 0]
    rows = [(0, t, float(v)) for t, v in enumerate(sig)]
    df = spark.createDataFrame(rows, "ch int, t long, value double")

    def idxs(**kw):
        res = xss.operators.find_peaks(df, by=["ch"], dim="t", **kw)
        got = res.orderBy("index").collect()
        assert [r["peak"] for r in got] == list(range(len(got)))
        return [r["index"] for r in got]

    assert idxs() == [2, 5, 8]
    assert idxs(prominence=0.5) == [2, 8]  # the shallow bump drops
    assert idxs(prominence=3.5) == [8]
    # width at half prominence: the shallow bump is ~1 sample wide
    # (analytically exactly 1.0 — float rounding can land a hair
    # under, so probe at 0.9), the sharp peaks wider; 5 drops all
    assert idxs(width=0.9) == [2, 5, 8]
    assert idxs(width=5.0) == []
    # filters compose in scipy order
    assert idxs(prominence=0.5, width=0.9) == [2, 8]


def test_ohlc_bars_matches_pandas(spark):
    """OHLC/TWAP bars vs a straightforward pandas computation on an
    irregular series, including the zero-holding-time fallback."""
    import numpy as np
    import pandas as pd
    from pyspark.sql import functions as F

    from xarray_scipy_spark.operators import ohlc_bars

    rng = np.random.default_rng(11)
    t = np.sort(rng.choice(np.arange(0, 100, 0.25), size=60, replace=False))
    v = rng.standard_normal(60).round(3)
    df = spark.createDataFrame(pd.DataFrame({"ch": 1, "t": t, "v": v}))
    out = (
        ohlc_bars(df, by=["ch"], dim="t", value="v", bar=10.0)
        .orderBy("bar_start")
        .toPandas()
    )
    pdf = pd.DataFrame({"t": t, "v": v})
    pdf["bkt"] = np.floor(pdf["t"] / 10.0)
    pdf["nt"] = pdf["t"].shift(-1)
    pdf["dt"] = np.minimum(pdf["nt"].fillna(pdf["t"]), (pdf["bkt"] + 1) * 10.0) - pdf["t"]
    exp = pdf.groupby("bkt").apply(
        lambda g: pd.Series(
            {
                "n": len(g),
                "open": g.loc[g["t"].idxmin(), "v"],
                "high": g["v"].max(),
                "low": g["v"].min(),
                "close": g.loc[g["t"].idxmax(), "v"],
                "mean": g["v"].mean(),
                "twap": (g["v"] * g["dt"]).sum() / g["dt"].sum()
                if g["dt"].sum() > 0
                else g["v"].mean(),
            }
        ),
        include_groups=False,
    ).reset_index()
    assert len(out) == len(exp)
    for c in ("open", "high", "low", "close", "mean", "twap"):
        np.testing.assert_allclose(out[c].to_numpy(), exp[c].to_numpy(), atol=1e-12)
    np.testing.assert_array_equal(out["n"].to_numpy(), exp["n"].to_numpy())
    np.testing.assert_allclose(out["bar_start"].to_numpy(), exp["bkt"].to_numpy() * 10.0)


def test_bloom_semijoin_equals_plain_join_and_bounds(spark):
    """exact=True must reproduce the plain inner join row-for-row even
    with a tiny filter (forced false positives); exact=False must be a
    SUPERSET of true matches (no false negatives)."""
    import pandas as pd

    from xarray_scipy_spark.operators import bloom_semijoin

    left = spark.createDataFrame(
        pd.DataFrame({"k": list(range(200)) * 2, "x": range(400)})
    )
    right = spark.createDataFrame(
        pd.DataFrame({"k": [3, 7, 11, 42, 99], "y": [30, 70, 110, 420, 990]})
    )
    plain = left.join(right, "k").orderBy("k", "x").toPandas()
    # m_bits=64 forces real collisions -> false positives exercised
    got = bloom_semijoin(left, right, on=["k"], m_bits=64, k=2)
    got = got.orderBy("k", "x").toPandas()
    pd.testing.assert_frame_equal(
        got.reset_index(drop=True)[sorted(got.columns)],
        plain.reset_index(drop=True)[sorted(plain.columns)],
    )
    approx = bloom_semijoin(left, right, on=["k"], m_bits=64, k=2, exact=False)
    kept = set(approx.select("k").distinct().toPandas()["k"])
    assert {3, 7, 11, 42, 99} <= kept  # zero false negatives


def test_latest_by_key_matches_window_idiom_and_tiebreak(spark):
    """The max(struct) compaction equals the row_number window idiom,
    and ties on order_col break deterministically by the tiebreak."""
    import pandas as pd
    from pyspark.sql import Window, functions as F

    from xarray_scipy_spark.pipeline import latest_by_key

    pdf = pd.DataFrame(
        {
            "key": [1, 1, 1, 2, 2, 3],
            "ver": [1, 3, 2, 5, 5, 1],
            "seq": [10, 11, 12, 20, 21, 30],
            "payload": ["a", "b", "c", "d", "e", "f"],
        }
    )
    df = spark.createDataFrame(pdf)
    got = (
        latest_by_key(df, keys="key", order_col="ver", tiebreak="seq")
        .orderBy("key")
        .toPandas()
    )
    w = Window.partitionBy("key").orderBy(F.desc("ver"), F.desc("seq"))
    exp = (
        df.withColumn("_rk", F.row_number().over(w))
        .filter("_rk = 1")
        .drop("_rk")
        .orderBy("key")
        .toPandas()
    )
    pd.testing.assert_frame_equal(
        got[sorted(got.columns)].reset_index(drop=True),
        exp[sorted(exp.columns)].reset_index(drop=True),
    )
    assert list(got["payload"]) == ["b", "e", "f"]


def test_rolling_stats_matches_pandas(spark):
    """Time-range rolling stats vs a brute-force pandas computation on
    irregular instants (row-count frames would differ)."""
    import numpy as np
    import pandas as pd

    from xarray_scipy_spark.operators import rolling_stats

    rng = np.random.default_rng(21)
    t = np.sort(rng.choice(np.arange(0, 500), size=80, replace=False)).astype(float)
    v = rng.standard_normal(80).round(3)
    df = spark.createDataFrame(pd.DataFrame({"ch": 1, "t": t, "v": v}))
    out = (
        rolling_stats(df, by=["ch"], dim="t", value="v", window=50)
        .orderBy("t_us")
        .toPandas()
    )
    for i, ti in enumerate(t):
        sel = (t >= ti - 50) & (t <= ti)
        assert out.loc[i, "roll_count"] == sel.sum()
        np.testing.assert_allclose(out.loc[i, "roll_mean"], v[sel].mean(), atol=1e-12)
        np.testing.assert_allclose(out.loc[i, "roll_min"], v[sel].min())
        np.testing.assert_allclose(out.loc[i, "roll_max"], v[sel].max())
    import pytest as _pytest

    with _pytest.raises(ValueError):
        rolling_stats(df, by=["ch"], dim="t", value="v", window=0)
    with _pytest.raises(ValueError):
        rolling_stats(df, by=["ch"], dim="t", value="v", stats=("mode",))


def test_asof_join_nearest_and_tolerance(spark):
    """pandas merge_asof parity for direction='nearest' (ties go
    backward) and the tolerance cutoff, against pandas itself."""
    import numpy as np
    import pandas as pd

    from xarray_scipy_spark.operators import asof_join

    rng = np.random.default_rng(33)
    lt = np.sort(rng.choice(np.arange(0, 300), 40, replace=False)).astype("int64")
    rt = np.sort(rng.choice(np.arange(0, 300), 25, replace=False)).astype("int64")
    lpdf = pd.DataFrame({"k": 1, "t": lt, "x": np.arange(40)})
    rpdf = pd.DataFrame({"k": 1, "t": rt, "y": np.arange(25) * 10})
    ldf = spark.createDataFrame(lpdf)
    rdf = spark.createDataFrame(rpdf)
    for direction, tol in (("nearest", None), ("nearest", 7), ("backward", 5)):
        got = (
            asof_join(
                ldf, rdf, on=["k"], left_ts="t", direction=direction, tolerance=tol
            )
            .orderBy("t")
            .toPandas()
        )
        want = pd.merge_asof(
            lpdf, rpdf, on="t", by="k", direction=direction,
            tolerance=tol if tol is None else int(tol),
        )
        np.testing.assert_array_equal(
            got["y"].to_numpy(dtype=float), want["y"].to_numpy(dtype=float)
        )


def test_interval_join_matches_naive_overlap(spark):
    """Chunked interval-overlap join equals the naive cross+filter on
    random intervals — each overlapping pair exactly once, across
    chunk-straddling overlaps and varied granularities."""
    import numpy as np
    import pandas as pd

    from xarray_scipy_spark.operators import interval_join

    rng = np.random.default_rng(41)
    la = rng.integers(0, 1000, 60)
    lpdf = pd.DataFrame(
        {"k": rng.integers(0, 3, 60), "ls": la, "le": la + rng.integers(0, 80, 60), "lid": range(60)}
    )
    rb = rng.integers(0, 1000, 50)
    rpdf = pd.DataFrame(
        {"k": rng.integers(0, 3, 50), "rs": rb, "re": rb + rng.integers(0, 120, 50), "rid": range(50)}
    )
    ldf = spark.createDataFrame(lpdf)
    rdf = spark.createDataFrame(rpdf)
    naive = lpdf.merge(rpdf, on="k")
    naive = naive[(naive["ls"] <= naive["re"]) & (naive["rs"] <= naive["le"])]
    want = sorted(zip(naive["lid"], naive["rid"]))
    for g in (7, 64, 500):
        got = (
            interval_join(
                ldf, rdf, left_start="ls", left_end="le",
                right_start="rs", right_end="re", on=["k"], granularity=g,
            )
            .select("lid", "rid")
            .toPandas()
        )
        assert sorted(zip(got["lid"], got["rid"])) == want, g
    import pytest as _pytest

    with _pytest.raises(ValueError):
        interval_join(ldf, rdf, left_start="ls", left_end="le",
                      right_start="rs", right_end="re", granularity=0)
    # fractional granularity must raise, not silently truncate: 0.5
    # would int() to 0 (div-0 -> empty join), 2.7 to a different grid
    for bad in (0.5, 2.7):
        with _pytest.raises(ValueError, match="whole number"):
            interval_join(ldf, rdf, left_start="ls", left_end="le",
                          right_start="rs", right_end="re", granularity=bad)
    # float-typed whole numbers stay accepted (epoch arithmetic often
    # produces 3600.0)
    ok = interval_join(ldf, rdf, left_start="ls", left_end="le",
                       right_start="rs", right_end="re", granularity=2.0)
    assert ok.count() >= 0
