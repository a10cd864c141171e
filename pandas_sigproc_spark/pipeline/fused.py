"""Kernel fusion: chain per-channel kernel stages into ONE ``applyInPandas``.

SURVEY.md §4.2's identified Catalyst gap: consecutive
``groupBy("channel_id").applyInPandas`` calls on the same key re-shuffle
and re-cross the JVM↔Arrow boundary once per operator, even though every
stage wants the identical partitioning.  Catalyst cannot fuse opaque
Python UDFs, so the fusion lives in our API layer instead: a
``KernelPipeline`` collects stages — IIR filters (a coefficient designer
+ causal/zero-phase flag) and uniform-grid resampling — and emits a
single grouped kernel that runs all stages back-to-back on the in-memory
NumPy arrays.

k chained stages this way cost ONE shuffle + ONE Arrow round-trip
instead of k of each — at 100 TB the shuffle is the dominant term, so the
fused plan is ~k× cheaper in I/O while producing the same values the
unfused operators would (bit-identical for filter-only chains, which run
the very same kernels in the same order).

A ``filt_* → resample(lower rate)`` chain is fused anti-aliased
decimation: the intermediate full-rate filtered signal never leaves the
task, so the shuffle after the kernel carries only the decimated rows.

The standalone ``filt_butter`` / ``filt_cfc`` / ``filt_a`` operators
(``operators/filters.py``) are one-stage pipelines built from the stage
builders below, so each filter design and this one group body serve
both.

The window-math operators (``detrend`` / ``mov_rms`` / ``integral`` /
``derivative``) are also available as stages.  Standalone they run
their own operators (native window plans, and for ``mov_rms`` a NumPy
body on the stage's window sums), but *adjacent to kernel stages* the
arrays are already in task memory, so the NumPy version is free while
the standalone one would pay an Arrow return + shuffle + another group
pass between two kernels.  The accessor (``api.py``) makes exactly that
call automatically.

Reference parity: composes the same operators as chained accessor calls
like ``series.timedomain.filt_butter(...).timedomain.resample(...)``
(``extension.py:452-567, 853-894``), which the reference executes as k
eager whole-array passes.
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame

from pandas_sigproc_spark.planner import _infer_sr, channel_arrays, group_apply

from pandas_sigproc_spark.kernels import design as _design
from pandas_sigproc_spark.kernels import iir as _iir
from pandas_sigproc_spark.kernels import iir_batch as _iirb
from pandas_sigproc_spark.kernels import interp as _interp
from pandas_sigproc_spark.kernels.rolling import window_sums

_OUT_SCHEMA = "channel_id string, t double, value double"


class _FilterStage:
    needs_sr = True  # coefficient design reads the channel samplerate

    def __init__(self, name: str, make_ba, zero_phase: bool) -> None:
        self.name, self.make_ba, self.zero_phase = name, make_ba, zero_phase

    def run(self, t: np.ndarray, y: np.ndarray, sr: float):
        b, a = self.make_ba(sr)
        out = _iir.filtfilt(b, a, y) if self.zero_phase else _iir.lfilter(b, a, y)
        return t, out, sr

    def run_batch_ragged(self, ys: list, sr: float) -> list:
        b, a = self.make_ba(sr)
        return (
            _iirb.filtfilt_batch_ragged(b, a, ys)
            if self.zero_phase
            else _iirb.lfilter_batch_ragged(b, a, ys)
        )


def butter_stage(cutoff, order: int, btype: str) -> _FilterStage:
    """Zero-phase Butterworth (reference ``extension.py:452-497``).

    The order is halved before design because forward-backward filtering
    doubles it; odd orders are bumped up (``extension.py:480-483`` — the
    reference prints a warning; here the bump is silent and documented).
    Cutoff is normalized by Nyquist per channel samplerate.
    """
    order_used = math.ceil(order / 2)

    def make_ba(sr: float):
        wn = np.asarray(cutoff, dtype=np.float64) / (0.5 * sr)
        return _design.butter(order_used, wn, btype)

    return _FilterStage(f"butter({order},{btype})", make_ba, True)


def cfc_stage(cfc: float) -> _FilterStage:
    """SAE J211 CFC filter, zero-phase (``operators.filt_cfc``)."""
    return _FilterStage(
        f"cfc({cfc})", lambda sr: _design.cfc_coefficients(cfc, sr), True
    )


def a_weighting_stage() -> _FilterStage:
    """IEC 1672 A-weighting, causal (``operators.filt_a``)."""
    return _FilterStage("a_weighting", _design.a_weighting, False)


class _DetrendStage:
    """Mean/line removal, reference semantics (``extension.py:751-781``),
    same math as the native ``operators.windows.detrend`` (centered OLS;
    ``breakpoints`` = per-segment independent fits by sample index)."""

    def __init__(self, dt_type: str, breakpoints=None) -> None:
        self.name = f"detrend({dt_type})"
        if breakpoints and dt_type != "linear":
            raise ValueError("breakpoints require dt_type='linear'")
        if dt_type not in ("constant", "linear"):
            raise ValueError(f"unknown detrend type {dt_type!r}")
        self.dt_type = dt_type
        self.breakpoints = sorted(int(b) for b in breakpoints) if breakpoints else []

    @staticmethod
    def _fit(t: np.ndarray, y: np.ndarray) -> np.ndarray:
        tc = t - t.mean()
        yc = y - y.mean()
        denom = np.mean(tc * tc)
        slope = np.mean(tc * yc) / denom if denom > 0.0 else 0.0
        return yc - slope * tc

    def run(self, t: np.ndarray, y: np.ndarray, sr: float):
        if self.dt_type == "constant":
            return t, y - y.mean(), sr
        if not self.breakpoints:
            return t, self._fit(t, y), sr
        out = np.empty_like(y)
        bounds = [0] + [b for b in self.breakpoints if 0 < b < len(y)] + [len(y)]
        for lo, hi in zip(bounds, bounds[1:]):
            out[lo:hi] = self._fit(t[lo:hi], y[lo:hi])
        return t, out, sr


class _MovRmsStage:
    """Trailing moving RMS, reference semantics (``extension.py:664-700``):
    ``n = round(window*sr)`` samples, warm-up prefix dropped, final sample
    dropped (the ``[window_n-1:-1]`` quirk) unless ``drop_last=False``,
    time base re-centered by ``window/2``.  The operator's window sums,
    so a channel without NULLs gets the operator's bits."""

    def __init__(self, window: float, drop_last: bool = True, samplerate=None) -> None:
        self.name = f"mov_rms({window})"
        self.window, self.drop_last, self.samplerate = float(window), drop_last, samplerate
        self.needs_sr = samplerate is None  # explicit rate skips inference

    def run(self, t: np.ndarray, y: np.ndarray, sr: float):
        use_sr = self.samplerate if self.samplerate is not None else sr
        n = int(round(self.window * use_sr))
        out = np.sqrt(window_sums(y * y, n) / n)
        tt = t[n - 1 :] - self.window / 2.0
        if self.drop_last:
            out, tt = out[:-1], tt[:-1]
        return tt, out, sr


class _IntegralStage:
    """Cumulative trapezoid, first sample 0 (``extension.py:702-723``)."""

    name = "int"

    def run(self, t: np.ndarray, y: np.ndarray, sr: float):
        # empty channels never reach a stage: the apply() stage loop
        # holds the single empty-propagation guard (one home)
        seg = (y[1:] + y[:-1]) / 2.0 * np.diff(t)
        return t, np.concatenate([[0.0], np.cumsum(seg)]), sr


class _DerivativeStage:
    """Finite difference on the midpoint time base (``extension.py:725-749``)."""

    name = "der"

    def run(self, t: np.ndarray, y: np.ndarray, sr: float):
        return (t[1:] + t[:-1]) / 2.0, np.diff(y) / np.diff(t), sr


class _ResampleStage:
    """Uniform-grid resample, reference semantics (``extension.py:880-887``):
    grid ``arange(t0, t_end, 1/rate)`` (end-exclusive), then interpolation
    of the chosen kind via ``kernels.interp``."""

    def __init__(self, rate: float, kind: str) -> None:
        self.name = f"resample({rate})"
        self.rate, self.kind = float(rate), kind

    def run(self, t: np.ndarray, y: np.ndarray, sr: float):
        # empty channels never reach a stage (the apply() loop guard)
        grid = np.arange(t[0], t[-1], 1.0 / self.rate)
        out = _interp.interp1d(t, y, grid, kind=self.kind)
        return grid, out, self.rate


class KernelPipeline:
    """Builder for a fused chain of per-channel kernel stages.

    Each stage method appends a stage and returns ``self``; ``apply(df)``
    emits the single fused ``applyInPandas`` operator.  The filter stages
    come from the same builders as the standalone ``operators/filters.py``
    operators, and the other stages keep their operators' semantics
    (resample grid, window math).  ``KernelPipeline(*stages)`` starts the
    chain from built stages.
    """

    def __init__(self, *stages) -> None:
        self._stages: list[object] = list(stages)

    # -- stage builders ------------------------------------------------------

    def filt_butter(self, cutoff, order: int, btype: str) -> "KernelPipeline":
        self._stages.append(butter_stage(cutoff, order, btype))
        return self

    def filt_cfc(self, cfc: float) -> "KernelPipeline":
        self._stages.append(cfc_stage(cfc))
        return self

    def filt_a(self) -> "KernelPipeline":
        self._stages.append(a_weighting_stage())
        return self

    def resample(self, rate: float, kind: str = "linear") -> "KernelPipeline":
        self._stages.append(_ResampleStage(rate, kind))
        return self

    # -- fusable window-math stages (same semantics as operators/windows.py;
    #    worth fusing only when sandwiched with kernel stages — the accessor
    #    runs their own operators otherwise) -----------------------------------

    def detrend(self, dt_type: str = "linear", breakpoints=None) -> "KernelPipeline":
        self._stages.append(_DetrendStage(dt_type, breakpoints))
        return self

    def mov_rms(
        self, window: float, drop_last: bool = True, samplerate=None
    ) -> "KernelPipeline":
        self._stages.append(_MovRmsStage(window, drop_last, samplerate))
        return self

    def integral(self) -> "KernelPipeline":
        self._stages.append(_IntegralStage())
        return self

    def derivative(self) -> "KernelPipeline":
        self._stages.append(_DerivativeStage())
        return self

    # -- execution ---------------------------------------------------------

    def apply(self, df: DataFrame, n_buckets: int | None = None) -> DataFrame:
        """Run all stages in one grouped kernel.

        ``n_buckets=None``: one Arrow group per channel.  ``n_buckets=K``:
        channels hash into K buckets.  Both run one body
        (planner.group_apply): the leading run of filter stages executes
        through the ragged batch kernels, one call per samplerate in the
        group, and the stages after it run per channel (a resample grid
        depends on each channel's own time range).  The standalone
        ``operators/filters.py`` operators are this body with one filter
        stage.
        """
        if not self._stages:
            raise ValueError("KernelPipeline has no stages")
        stages = list(self._stages)
        n_batchable = 0
        for s in stages:
            if not isinstance(s, _FilterStage):
                break
            n_batchable += 1

        def named_sr(cid, t):
            # LOCATED like run_stage below: _infer_sr's refusals
            # (<2 samples, non-increasing t, non-uniform grid) used to
            # escape as anonymous ValueErrors from outside the stage
            # wrapper — one straggler 1-row channel aborted the task
            # with no channel name (an r15 review finding, the same
            # class the r14 pass fixed for stage calls)
            try:
                return _infer_sr(t)
            except ValueError as e:
                raise ValueError(
                    f"fused pipeline cannot infer a samplerate for"
                    f" channel {cid!r} ({len(t)} rows): {e}"
                ) from e

        def run_stage(s, cid, t, y, sr):
            # LOCATED errors: a short channel through a filter stage
            # raises the kernel's reference-parity ValueError ('input
            # length must exceed padlen' — SciPy raises the same for
            # the chained accessor calls this pipeline mirrors), but an
            # anonymous task abort on a 100 TB job is undebuggable; the
            # re-raise names the stage, the channel, and its row count
            # at that stage (a review finding: mov_rms can legitimately
            # SHRINK a straggler below padlen mid-chain).
            try:
                return s.run(t, y, sr)
            except ValueError as e:
                raise ValueError(
                    f"fused stage {s.name} failed on channel {cid!r}"
                    f" ({len(t)} rows at this stage): {e}"
                ) from e

        def kernel(pdf: pd.DataFrame) -> pd.DataFrame:
            pieces = []
            # One group per samplerate: the leading filter stages share
            # one (b, a) design per rate, and the RAGGED batch kernels
            # handle unequal lengths internally (bit-identical per row to
            # solo execution — kernels/iir_batch).  Grouping by
            # (length, sr) fragmented buckets into per-length slivers
            # whose dispatch overhead dominated (BENCH r4: filt_butter
            # 2.2x).  Without leading filter stages sr
            # is inferred LAZILY, at the first stage that reads it: a
            # chain of only window-math stages (detrend -> integral, say)
            # accepts non-uniform and single-sample channels exactly like
            # the standalone operators (SURVEY §7.3.3).
            groups: dict = {}
            for cid, t, y in channel_arrays(pdf):
                sr = named_sr(cid, t) if n_batchable else None
                groups.setdefault(sr, []).append((cid, t, y))
            for sr, members in groups.items():
                if n_batchable:
                    ys = [y for _, _, y in members]
                    for s in stages[:n_batchable]:
                        try:
                            ys = s.run_batch_ragged(ys, sr)
                        except ValueError as e:
                            chans = ", ".join(
                                f"{c!r} ({len(t)} rows)" for c, t, _ in members
                            )
                            raise ValueError(
                                f"fused stage {s.name} failed on a batch"
                                f" of channels {chans}: {e}"
                            ) from e
                    members = [
                        (cid, t, y) for (cid, t, _y), y in zip(members, ys)
                    ]
                for cid, t, y in members:
                    cur_sr = sr
                    for s in stages[n_batchable:]:
                        if len(t) == 0:
                            # a prior stage emptied the channel (mov_rms
                            # window longer than a short channel): every
                            # stage maps empty -> empty, so stop instead of
                            # letting a filter/detrend stage crash on a
                            # 0-length array — one straggler channel must
                            # never kill the job.  This loop is the ONE
                            # home of the empty rule.
                            break
                        if getattr(s, "needs_sr", False) and cur_sr is None:
                            cur_sr = named_sr(cid, t)
                        t, y, cur_sr = run_stage(s, cid, t, y, cur_sr)
                    pieces.append(
                        pd.DataFrame({"channel_id": cid, "t": t, "value": y})
                    )
            return pd.concat(pieces, ignore_index=True)

        return group_apply(
            df.select("channel_id", "t", "value"), kernel, _OUT_SCHEMA, n_buckets
        )

    def lineage_name(self, name: str) -> str:
        """Reference-style derived name, innermost stage first
        (``extension.py:494, 536, 564, 891``)."""
        for stage in self._stages:
            name = f"{stage.name.split('(')[0]}({name})"
        return name
