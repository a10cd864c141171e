"""Kernel-tier IIR filtering operators: ``filt_butter`` / ``filt_cfc`` /
``filt_a``.

These are the reference's grouped sequential kernels
(``extension.py:452-567``): the recursion carries state sample-to-sample,
so each channel must be processed in time order by one task.  The
whole-channel path is a one-stage ``pipeline.KernelPipeline``: the
filter's stage comes from the pipeline's stage builders, so each
coefficient design is written once, and the fused group body runs it
over a group of channels — one channel per group, or a hash bucket of
them (planner.group_apply) — through the vendored NumPy ragged batch
kernels (which themselves use the O(n log n) FFT path for long
channels, the chunked-filtering scale story of SURVEY.md §7.3.1).  A
failing channel is named in the error, as for any fused stage.

Filter coefficients are designed per group from each channel's own time
base (``planner._infer_sr``), once per distinct rate; the chunked mode
designs driver-side, with the same stage, from the declared
``samplerate``.

Scale note: groups are independent, so 1e6 channels fan out across
executors; the shuffle is one pass on ``channel_id``.  A channel too big
for one task takes the overlap-save split (:func:`filt_chunked`): the
same kernels over the planner's halo'd chunks (``planner.chunk_apply``),
with the ``kernels.iir`` impulse-response length bounding the halo.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame

from pandas_sigproc_spark import planner
from pandas_sigproc_spark.kernels import iir as _iir
from pandas_sigproc_spark.pipeline.fused import (
    KernelPipeline,
    a_weighting_stage,
    butter_stage,
    cfc_stage,
)


def _resolve_filter_mode(df, n_buckets, chunk_rows, samplerate):
    """Resolve the ``"auto"`` scale mode (SURVEY.md §7.3.1) from channel
    statistics — the 100 TB plan is the DEFAULT, not opt-in: huge
    channels chunk (overlap-save), small-channel fleets bucket, explicit
    kwargs always win (planner.py).

    NOTE: with a declared ``samplerate``, auto-chunking applies ONE
    globally-designed (b, a) and one arithmetic index to EVERY channel.
    A channel whose true rate differs from the declaration is caught by
    the planner's chunk grid guard (loud error, never silently wrong
    cutoffs); genuinely mixed-rate tables should omit
    ``samplerate`` or pass ``n_buckets``/``chunk_rows`` explicitly so
    coefficients are designed per channel.  Consulting the planner runs
    one EAGER cached count job at plan-build time (planner.get_stats)."""
    if n_buckets == "auto" and chunk_rows is None:
        return planner.auto_filter_mode(df, samplerate)
    if n_buckets == "auto":
        return None, chunk_rows
    if n_buckets is not None and chunk_rows is not None:
        # chunking and bucketing are mutually exclusive execution modes
        # and "explicit kwargs always win" cannot hold for both at once
        # — the old behavior silently discarded n_buckets (a review
        # finding)
        raise ValueError(
            "pass n_buckets or chunk_rows, not both: bucketing batches"
            " many small channels per task, chunking splits one huge"
            " channel across tasks"
        )
    return n_buckets, chunk_rows


def _filter(df, stage, n_buckets, chunk_rows, samplerate, overlap_rows):
    """Run one filter stage: overlap-save chunks when the resolved mode
    chunks, else the one-stage fused pipeline."""
    n_buckets, chunk_rows = _resolve_filter_mode(df, n_buckets, chunk_rows, samplerate)
    if chunk_rows is not None:
        if samplerate is None:
            raise ValueError(
                "chunk_rows requires an explicit samplerate: chunk membership"
                " is decided relationally before any group sees the time base"
            )
        b, a = stage.make_ba(float(samplerate))
        return filt_chunked(df, b, a, stage.zero_phase, chunk_rows, overlap_rows,
                            samplerate=samplerate)
    return KernelPipeline(stage).apply(df, n_buckets)


def filt_butter(
    df: DataFrame,
    cutoff,
    order: int,
    btype: str,
    n_buckets: int | None | str = "auto",
    chunk_rows: int | None = None,
    samplerate: float | None = None,
    overlap_rows: int | None = None,
) -> DataFrame:
    """Zero-phase Butterworth filter (reference ``extension.py:452-497``;
    design and order halving in ``pipeline.fused.butter_stage``)."""
    return _filter(df, butter_stage(cutoff, order, btype), n_buckets,
                   chunk_rows, samplerate, overlap_rows)


def filt_cfc(
    df: DataFrame,
    cfc: float,
    n_buckets: int | None | str = "auto",
    chunk_rows: int | None = None,
    samplerate: float | None = None,
    overlap_rows: int | None = None,
) -> DataFrame:
    """SAE J211 Channel Frequency Class filter, zero-phase
    (reference ``extension.py:499-539``)."""
    return _filter(df, cfc_stage(cfc), n_buckets, chunk_rows, samplerate,
                   overlap_rows)


def filt_a(
    df: DataFrame,
    n_buckets: int | None | str = "auto",
    chunk_rows: int | None = None,
    samplerate: float | None = None,
    overlap_rows: int | None = None,
) -> DataFrame:
    """IEC 1672 A-weighting, applied causally with ``lfilter`` — the
    deliberate phase-distorting contrast to the filtfilt ops
    (reference ``extension.py:541-567``; design ``tools.py:257-301``).
    """
    return _filter(df, a_weighting_stage(), n_buckets, chunk_rows,
                   samplerate, overlap_rows)


# ---------------------------------------------------------------------------
# Chunked overlap-save filtering: channels too big for one task
# (SURVEY.md §7.3.1 hard part 1)
# ---------------------------------------------------------------------------


def settling_length(b, a, extra: int = 256) -> int:
    """Rows after which the filter's impulse response is numerically dead.

    The AR impulse response is expanded until its tail underflows
    (kernels/iir.py); the settling point is where |h| last exceeded
    1e-14 of its peak (NOT len(h): the IR cache may hand back a longer
    array than this filter needs).  ``extra`` adds slack for the MA part
    and fp accumulation.
    """
    h = _iir._ar_impulse_response(np.asarray(a, np.float64))
    if h is None:
        # Degenerate tf-form design (kernels/iir._ar_ir_fft): no finite
        # settling length exists in float64, so overlap-save chunking
        # cannot bound the carry-over.  Refuse loudly rather than return
        # a length that silently corrupts every chunk boundary.
        raise ValueError(
            "filter design is numerically degenerate in transfer-function "
            "form (|A(e^jw)| dynamic range exceeds float64); chunked "
            "filtering has no valid overlap — use whole-channel filtering "
            "or redesign the filter at a workable cutoff/order"
        )
    peak = np.max(np.abs(h))
    alive = np.nonzero(np.abs(h) > 1e-14 * peak)[0]
    n_alive = int(alive[-1]) + 1 if len(alive) else 1
    return int(n_alive + len(np.atleast_1d(b)) + extra)


def filt_chunked(
    df: DataFrame,
    b,
    a,
    zero_phase: bool,
    chunk_rows: int,
    overlap_rows: int | None = None,
    samplerate: float | None = None,
) -> DataFrame:
    """Overlap-save IIR filtering for channels that exceed one task's memory.

    The channel is cut by the planner's halo'd chunk primitive
    (:func:`planner.chunk_apply`): rows within ``overlap_rows`` of a
    chunk boundary are *duplicated* into the neighbouring chunk
    (backward always — the causal warm-up — and forward too for
    zero-phase, whose backward pass needs future samples).  Each
    (channel, chunk) group is filtered independently with zero initial
    state; because the overlap exceeds the filter's settling length, the
    state error at the core boundary is below fp noise, and only core
    rows are emitted.  Equality with whole-channel filtering is pinned in
    tests/test_chunked_filter.py.

    The sample index is arithmetic, ``round((t - min(t)) * sr)``, with
    the declared ``samplerate`` or else each channel's inferred
    ``(n - 1) / (max(t) - min(t))``, so no stage ever sorts or even sees
    a whole channel.  The index must step by one inside every chunk: a
    channel whose true rate disagrees with the declared one, or whose
    grid has jitter or gaps, fails loudly instead of emitting corrupted
    core rows (the per-channel plan designs per channel instead).

    Scale shape: one shuffle on (channel, chunk); chunk size bounds task
    memory regardless of channel length, so a year-long 48 kHz channel
    (1.5e12 samples) fans out across ~1.5e12/chunk_rows tasks instead of
    OOMing one executor.  Duplication overhead = overlap/chunk (<2% for
    the defaults).
    """
    b = np.asarray(b, np.float64)
    a = np.asarray(a, np.float64)
    O = int(overlap_rows) if overlap_rows is not None else settling_length(b, a)
    chunk_rows = planner.resolve_chunk_rows(df, chunk_rows, overlap=O)
    run = _iir.filtfilt if zero_phase else _iir.lfilter

    def body(pdf: pd.DataFrame, core: np.ndarray) -> pd.DataFrame:
        y = np.asarray(run(b, a, pdf["value"].to_numpy(np.float64)))
        out = pdf.loc[core, ["channel_id", "t"]]
        return out.assign(value=y[core])

    return planner.chunk_apply(
        df.select("channel_id", "t", "value"),
        body,
        "channel_id string, t double, value double",
        chunk_rows,
        O,
        O if zero_phase else 0,
        samplerate,
    )
