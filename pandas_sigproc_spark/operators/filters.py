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
for one task takes the overlap-save split (:func:`filt_chunked`), which
rides on the same kernels (``kernels.iir`` impulse-response length
bounds the needed overlap).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window, functions as F

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
    the chunked kernel's consecutive-index assertion (loud error, never
    silently wrong cutoffs); genuinely mixed-rate tables should omit
    ``samplerate`` or pass ``n_buckets``/``chunk_rows`` explicitly so
    coefficients are designed per channel.  Consulting the planner runs
    one EAGER cached count job at plan-build time (planner.get_stats)."""
    if n_buckets == "auto" and chunk_rows is None:
        from pandas_sigproc_spark import planner

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

    Relational segmentation: every row gets a per-channel sample index;
    rows within ``overlap_rows`` of a chunk boundary are *duplicated*
    into the neighbouring chunk (backward always — the causal warm-up — and
    forward too for zero-phase, whose backward pass needs future samples).
    Each (channel, chunk) group is filtered independently with zero initial
    state; because the overlap exceeds the filter's settling length, the
    state error at the core boundary is below fp noise, and only core rows
    are emitted.  Equality with whole-channel filtering is pinned in
    tests/test_chunked_filter.py.

    With ``samplerate`` given, the sample index is ARITHMETIC —
    ``round((t - min(t)) * sr)`` off one per-channel MIN aggregate — so no
    stage ever sorts or even sees a whole channel (filters require a
    uniform grid anyway, where this equals the ordinal index).  Without
    it, a per-channel ``row_number`` window assigns the index, which
    SORTS each whole channel in one task — fine at moderate sizes,
    self-defeating for the channels chunking exists for; the named
    operators always pass their samplerate through.

    Scale shape: one shuffle on (channel, chunk); chunk size bounds task
    memory regardless of channel length, so a year-long 48 kHz channel
    (1.5e12 samples) fans out across ~1.5e12/chunk_rows tasks instead of
    OOMing one executor.  Duplication overhead = overlap/chunk (<2% for
    the defaults).
    """
    b = np.asarray(b, np.float64)
    a = np.asarray(a, np.float64)
    O = int(overlap_rows) if overlap_rows is not None else settling_length(b, a)
    L = int(chunk_rows)
    if O >= L:
        raise ValueError(
            f"chunk_rows={L} must exceed the overlap ({O}); pick a larger "
            "chunk or pass a smaller explicit overlap_rows"
        )
    if samplerate is not None:
        t0s = df.groupBy("channel_id").agg(F.min("t").alias("_t0"))
        src = (
            df.join(t0s, "channel_id")
            .select(
                "channel_id",
                "t",
                "value",
                F.floor((F.col("t") - F.col("_t0")) * float(samplerate) + 0.5)
                .cast("long")
                .alias("_i"),
            )
        )
    else:
        w = Window.partitionBy("channel_id").orderBy("t")
        src = df.select(
            "channel_id", "t", "value", (F.row_number().over(w) - 1).alias("_i")
        )
    segno = (F.col("_i") / L).cast("long")
    members = F.array(segno)
    members = F.when(
        (F.col("_i") % L >= L - O), F.array(segno, segno + 1)
    ).otherwise(members)
    if zero_phase:
        members = F.when(
            (F.col("_i") % L < O) & (segno > 0),
            F.array_union(members, F.array(segno - 1)),
        ).otherwise(members)
    src = src.withColumn("_seg", F.explode(members))

    out_schema = "channel_id string, t double, value double"

    def kernel(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("_i")
        iv = pdf["_i"].to_numpy()
        # The arithmetic index must be CONSECUTIVE inside a chunk group:
        # duplicates mean timestamp ties / a channel running FASTER than
        # the declared samplerate, gaps mean dropped samples / a SLOWER
        # channel — either way the globally-designed (b, a) and the chunk
        # membership are wrong for this channel, so fail loudly instead
        # of emitting silently corrupted core rows (mixed-rate tables
        # must use the per-channel path, which designs per group).
        if len(iv) > 1 and (np.diff(iv) != 1).any():
            cid = str(pdf["channel_id"].iloc[0])
            raise ValueError(
                f"filt_chunked: non-consecutive sample index in channel "
                f"{cid!r} — the channel's true rate disagrees with the "
                "declared samplerate, or its grid has jitter/gaps; "
                "chunked filtering requires a uniform grid at the "
                "declared rate (pass chunk_rows=None for the per-channel "
                "plan, which infers each channel's own rate)"
            )
        segv = int(pdf["_seg"].iloc[0])
        core = (pdf["_i"] // L) == segv
        if not core.any():
            # PHANTOM TAIL GROUP: the forward-overlap duplication puts
            # the last chunk's tail rows into (last_seg + 1), a group
            # with no core rows.  Filtering it wastes a pass at best
            # and CRASHES at worst (a review finding, reproduced: when
            # the channel length leaves <= padlen rows in the phantom
            # group, filtfilt raises 'input length must exceed padlen'
            # and aborts the job).  Nothing would be emitted anyway —
            # return empty without touching the kernel.
            return pd.DataFrame(
                {"channel_id": [], "t": [], "value": []}
            ).astype({"channel_id": object, "t": float, "value": float})
        y = (
            _iir.filtfilt(b, a, pdf["value"].to_numpy(np.float64))
            if zero_phase
            else _iir.lfilter(b, a, pdf["value"].to_numpy(np.float64))
        )
        return pd.DataFrame(
            {
                "channel_id": pdf["channel_id"][core],
                "t": pdf["t"][core],
                "value": np.asarray(y)[core.to_numpy()],
            }
        )

    return src.groupBy("channel_id", "_seg").applyInPandas(kernel, out_schema)
