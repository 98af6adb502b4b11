"""Pure-numpy numerical kernels (scipy-equivalent, scipy-free).

The distribution layer (:mod:`xarray_scipy_spark.core`) applies these
per series inside Arrow-batched pandas UDFs; nothing in this package
touches Spark. Each filter recursion is written once, in ragged form
(a right-zero-padded batch plus per-row lengths, ``dsp.*_ragged``);
the ``_1d`` entry points exported here run that kernel with every row
at full length.
"""

from .dsp import (
    decimate_1d,
    fftconvolve_1d,
    filtfilt_ragged,
    hilbert_1d,
    lfilter_1d,
    lfilter_ragged,
    resample_fourier,
    sosfilt_1d,
    sosfiltfilt_1d,
)
from .filter_design import (
    butter_sos,
    freqz,
    group_delay,
    sosfreqz,
    cheby1_sos,
    firwin,
    lfilter_zi,
    sos2tf,
    sosfilt_zi,
)
from .peaks import peak_prominences, peak_widths

__all__ = [
    "decimate_1d",
    "fftconvolve_1d",
    "hilbert_1d",
    "resample_fourier",
    "sosfilt_1d",
    "sosfiltfilt_1d",
    "lfilter_1d",
    "lfilter_ragged",
    "filtfilt_ragged",
    "lfilter_zi",
    "sos2tf",
    "butter_sos",
    "freqz",
    "group_delay",
    "sosfreqz",
    "cheby1_sos",
    "firwin",
    "sosfilt_zi",
    "peak_prominences",
    "peak_widths",
]
