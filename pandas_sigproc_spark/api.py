"""Fluent accessor mirroring the reference's chained surface.

The reference chains pandas accessor calls —
``series.timedomain.filt_butter(...)`` then ``.timedomain.filt_a()``
(``extension.py:241-961``) — each call eagerly materializing a new
Series.  Here ``sigproc(df)`` wraps the canonical signals DataFrame with
the same method surface, and every call stays LAZY: native methods
extend the Catalyst plan, and consecutive kernel filter stages are
buffered and flushed as ONE fused ``applyInPandas``
(``pipeline.KernelPipeline``) the moment a non-filter method (or
``.df``) needs the values.  This is SURVEY §4.2's "tiny plan-rewrite in
our accessor API": a user writing the reference's idiomatic chain gets
the fused plan without asking.  Behind pending filter stages the
window-math methods and ``resample`` join the chain too.

    out = (
        sigproc(df)
        .between(0.0, 60.0)            # native: parquet-pruned filter
        .filt_butter(500.0, 4, "lowpass")  # buffered ┐
        .filt_a()                          # buffered │ one applyInPandas,
        .mov_rms(0.1, samplerate=48e3)     # buffered ┘ one shuffle
        .df
    )
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from pandas_sigproc_spark import operators as ops, planner
from pandas_sigproc_spark.pipeline import KernelPipeline

# Fusion membership is encoded by which methods call _buffer below
# (the filter trio always; resample when kernel stages are pending or
# the kind is a spline; the window-math four when stages are pending —
# standalone they run their own operators).  A _FUSABLE name
# tuple used to sit here but drove nothing (a review finding: dead
# code that misled readers into editing it to change dispatch).


class Sigproc:
    """Immutable fluent wrapper; every method returns a new ``Sigproc``."""

    def __init__(
        self, df: DataFrame, _pending=None, n_buckets: int | None | str = "auto"
    ):
        self._raw = df
        self._pending: tuple = tuple(_pending or ())
        self._n_buckets = n_buckets

    # -- plumbing -----------------------------------------------------------

    def _buffer(self, stage: str, *args, **kwargs) -> "Sigproc":
        return Sigproc(
            self._raw, self._pending + ((stage, args, kwargs),), self._n_buckets
        )

    def _flushed(self) -> DataFrame:
        if not self._pending:
            return self._raw
        pipe = KernelPipeline()
        for stage, args, kwargs in self._pending:
            getattr(pipe, stage)(*args, **kwargs)
        n_buckets = self._n_buckets
        if n_buckets == "auto":
            n_buckets = planner._fleet_buckets(self._raw, planner.get_stats(self._raw))
        return pipe.apply(self._raw, n_buckets=n_buckets)

    def _native(self, fn, *args, **kwargs) -> "Sigproc":
        return Sigproc(fn(self._flushed(), *args, **kwargs), None, self._n_buckets)

    @property
    def df(self) -> DataFrame:
        """Unwrap: flush any buffered kernel stages and return the plan."""
        return self._flushed()

    # -- kernel filter stages (buffered, auto-fused) -------------------------

    def filt_butter(self, cutoff, order: int, btype: str) -> "Sigproc":
        return self._buffer("filt_butter", cutoff, order, btype)

    def filt_cfc(self, cfc: float) -> "Sigproc":
        return self._buffer("filt_cfc", cfc)

    def filt_a(self) -> "Sigproc":
        return self._buffer("filt_a")

    def resample(self, sample_rate: float, interp_kind: str = "linear") -> "Sigproc":
        # Reference resample (extension.py:853-894).  With kernel stages
        # pending this joins the fused chain (anti-aliased decimation in
        # the same task) for EVERY kind — the fused stage delegates to
        # kernels.interp, which covers the spline kinds too (a review
        # finding: spline resample after a filter chain previously
        # flushed and paid a second shuffle + Arrow crossing for
        # exactly the kinds whose decimated rows benefit most from
        # never leaving the task).  Standalone, native kinds use the
        # relational bracketing-pair plan and spline kinds the kernel
        # tier operator.
        if self._pending:
            return self._buffer("resample", sample_rate, interp_kind)
        return self._native(ops.resample, sample_rate, interp_kind)

    # -- native relational / window / aggregate surface ----------------------

    def between(self, start: float, end: float, axis: str = "t") -> "Sigproc":
        return self._native(ops.between, start, end, axis)

    def timeshift(self, offset: float) -> "Sigproc":
        return self._native(ops.timeshift, offset)

    def deduplicate(self) -> "Sigproc":
        return self._native(ops.deduplicate)

    # With kernel stages pending, these four join the fused chain: the
    # values are already NumPy arrays inside the task, so the window math
    # is free there, versus a second shuffle and group pass after the
    # kernel's Arrow return.  Standalone (no pending kernel) they run
    # their operators: native window plans for detrend, integral and
    # derivative, and mov_rms's body on the fused stage's window sums.

    def detrend(self, dt_type: str = "linear", breakpoints=None) -> "Sigproc":
        if self._pending:
            return self._buffer("detrend", dt_type, breakpoints)
        return self._native(ops.detrend, dt_type, breakpoints)

    def mov_rms(self, window: float, samplerate: float | None = None) -> "Sigproc":
        # Without a rate the fused stage runs even with nothing pending:
        # it infers each channel's rate, and the operator needs one.
        if self._pending or samplerate is None:
            return self._buffer("mov_rms", window, samplerate=samplerate)
        return self._native(ops.mov_rms, window, samplerate=samplerate)

    def integral(self) -> "Sigproc":
        if self._pending:
            return self._buffer("integral")
        return self._native(ops.integral)

    def derivative(self) -> "Sigproc":
        if self._pending:
            return self._buffer("derivative")
        return self._native(ops.derivative)

    def interp1d(self, grid: DataFrame, kind: str = "linear") -> "Sigproc":
        if kind.lower() in ops.NATIVE_INTERP_KINDS:
            return self._native(ops.interp1d_native, grid, kind=kind)
        return self._native(ops.interp1d_spline, grid, kind=kind)

    def rss(self, channel_ids=None, out_channel: str | None = None) -> "Sigproc":
        # Reference rss(*series) (extension.py:783-817): the equi-join-on-
        # time multi-channel operator, long-format (§2.3 semantics note).
        return self._native(ops.rss, channel_ids=channel_ids, out_channel=out_channel)

    # -- reductions / domain crossings (return unwrapped results) ------------

    def rms(self) -> DataFrame:
        return ops.rms(self._flushed())

    def spl(self, p_ref: float = 20e-6) -> DataFrame:
        return ops.spl(self._flushed(), p_ref=p_ref)

    def samplerate(self, order_col: str | None = None) -> DataFrame:
        return ops.samplerate(self._flushed(), order_col=order_col)

    def get_psd(self, **kwargs) -> DataFrame:
        return ops.get_psd(self._flushed(), **kwargs)

    def get_srs(self, **kwargs) -> DataFrame:
        return ops.get_srs(self._flushed(), **kwargs)

    def rainflow(self, **kwargs) -> DataFrame:
        return ops.rainflow(self._flushed(), **kwargs)

    # -- freqdomain accessor surface (extension.py:19-230) -------------------
    # A spectra DataFrame (channel_id, freq, power) wraps in the same
    # accessor; `between(..., axis="freq")` above covers freqdomain.between.

    def rms_lin(self, freq_col: str = "freq", power_col: str = "power") -> DataFrame:
        # freqdomain.rms_lin (extension.py:126-143): sqrt(trapz(p, f)).
        return ops.rms_lin(self._flushed(), freq_col=freq_col, power_col=power_col)

    def rms_log(self, freq_col: str = "freq", power_col: str = "power") -> DataFrame:
        # freqdomain.rms_log (extension.py:145-165): piecewise power-law.
        return ops.rms_log(self._flushed(), freq_col=freq_col, power_col=power_col)

    def interp1d_log(self, grid: DataFrame, axis: str = "freq") -> "Sigproc":
        # freqdomain.interp1d_log (extension.py:201-230): log-log linear.
        return self._native(ops.interp1d_log, grid, axis=axis)


def sigproc(df: DataFrame, n_buckets: int | None | str = "auto") -> Sigproc:
    """Wrap a canonical signals DataFrame in the fluent accessor.

    ``n_buckets`` picks the kernel fan-out mode for flushed filter
    chains (None = one Arrow group per channel; K = K channel buckets).
    The default ``"auto"`` takes the planner's count at flush: one group
    per task slot for a fleet of small channels, else one per channel
    (``planner._fleet_buckets``, one cached stats job).  The output bits
    do not depend on the choice.
    """
    return Sigproc(df, None, n_buckets)
