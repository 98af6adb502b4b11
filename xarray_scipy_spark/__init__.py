"""xarray_scipy_spark — a PySpark-native signal-analytics engine.

Re-expresses the capabilities of FRidh/xarray_scipy (labeled-array
signal processing over chunked multi-channel data) Spark-first:
broadcast dims are groupBy keys, the core dim is an ordered long-form
column, kernels run as Arrow-batched grouped-map UDFs, coordinates are
Catalyst expressions, and everything relational comes from Spark itself
(SURVEY.md §1.5, §2.1).

Public surface mirrors ``xarray_scipy.signal`` operator-for-operator
(signal.py:34-461) plus the large-scale pipeline extensions
(:mod:`xarray_scipy_spark.pipeline`).
"""

from . import _zipcache  # noqa: F401  (first: patches zipimport, see module)
from .operators import (
    asof_join,
    coherence,
    convolve,
    csd,
    detrend,
    range_join,
    convolve_fir,
    decimate,
    envelope,
    fft,
    fftconvolve,
    fftconvolve_nd,
    fftshift,
    hfft,
    hilbert,
    ifft,
    ifftshift,
    ihfft,
    irfft,
    istft,
    peak_widths,
    resample,
    rfft,
    sos_from_dataframe,
    sosfilt,
    sosfilt_chunked,
    sosfiltfilt,
    spectral_apply,
    stft,
    welch,
)
from .session import get_spark

__version__ = "0.1.0"

__all__ = [
    "get_spark",
    "convolve",
    "fftconvolve",
    "fftconvolve_nd",
    "convolve_fir",
    "decimate",
    "fft",
    "ifft",
    "rfft",
    "irfft",
    "hfft",
    "ihfft",
    "fftshift",
    "ifftshift",
    "hilbert",
    "envelope",
    "peak_widths",
    "resample",
    "sosfilt",
    "sosfiltfilt",
    "sosfilt_chunked",
    "sos_from_dataframe",
    "istft",
    "spectral_apply",
    "stft",
    "welch",
    "asof_join",
    "range_join",
    "detrend",
    "csd",
    "coherence",
]
