"""pandas_sigproc_spark — a PySpark-native signal-processing analytics engine.

A from-scratch, Spark-first re-expression of the query and data-processing
capabilities of the reference library ``jscans12/pandas-sigproc``
(read-only at /root/reference; see SURVEY.md for the full capability map).

Design (SURVEY.md §1.5, §7.0):

- Canonical long-format tables instead of per-channel pandas Series:
    signals(channel_id STRING, t DOUBLE, value DOUBLE [, ts TIMESTAMP])
    spectra(channel_id STRING, freq DOUBLE, power DOUBLE)
    channels(channel_id, name, unit, start_time, samplerate)
- Native DataFrame/SQL operators wherever semantics allow (filters, windows,
  aggregations, trapezoid integrals, linear interpolation as an as-of join).
- Arrow-vectorized grouped-map pandas UDFs (``applyInPandas``) only for the
  genuinely sequential kernels (IIR filters, FFT periodograms, SRS,
  rainflow, spline interpolation), backed by the pure-NumPy kernel layer in
  :mod:`pandas_sigproc_spark.kernels` (SciPy is intentionally not a
  dependency).
"""

from pandas_sigproc_spark.schemas import (
    SIGNALS_SCHEMA,
    SPECTRA_SCHEMA,
    CHANNELS_SCHEMA,
    RAINFLOW_SCHEMA,
)


def sigproc(df, n_buckets="auto"):
    """Fluent accessor over a signals DataFrame (see :mod:`.api`)."""
    from pandas_sigproc_spark.api import sigproc as _sigproc

    return _sigproc(df, n_buckets)


__version__ = "0.1.0"

__all__ = [
    "sigproc",
    "SIGNALS_SCHEMA",
    "SPECTRA_SCHEMA",
    "CHANNELS_SCHEMA",
    "RAINFLOW_SCHEMA",
    "__version__",
]
