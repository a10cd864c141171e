"""PSD operator: relational Welch segmentation + per-segment FFT kernel.

Reference ``get_psd`` (``extension.py:569-625``, kernel ``tools.py:13-100``).

Spark-first decomposition (SURVEY.md §2.8 row get_psd):

1. **Segmentation is the planner's cut** (``planner.chunk_apply``) — the
   arithmetic sample index puts each sample in the Welch segments it
   belongs to: a chunk of ``n_step`` rows with an ``n_window - n_step``
   forward halo is one segment, and the overlapping membership is a
   bounded explode of at most ``ceil(n_window / n_step)`` copies — 2 for
   the default 50% overlap.  No stage sorts a whole channel; the grid
   must be uniform at the declared samplerate.
2. **FFT per (channel, segment)** via ``applyInPandas`` — this
   parallelizes *within* a channel, which the reference's whole-array
   kernel cannot do.
3. **Summarize across segments is a native aggregation** — mean / exact
   median / max / min per frequency bin; the 'max rms' / 'damage' global
   rescales are a per-channel broadcast join of a 1-row factor table.

For moderate channels (fits comfortably in one task) the whole-channel
path avoids the explode: one body stacks the Welch segments of every
channel in its group — one channel, or a hash bucket of small ones — into
one batched FFT, with ``welch_psd``'s numerics per channel.
``segmented=True`` picks the scale path.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window, functions as F

from pandas_sigproc_spark.planner import (
    _infer_sr,
    channel_arrays,
    chunk_apply,
    group_apply,
    join_channel,
)

from pandas_sigproc_spark.kernels import spectral as _spectral

_SPECTRA_SCHEMA = "channel_id string, freq double, power double"
_SEG_SCHEMA = "channel_id string, seg long, freq double, power double"


def get_psd(
    df: DataFrame,
    window_length: float | None = None,
    overlap: float = 0.5,
    window_type: str = "hann",
    summarize: str = "mean",
    fatigue_exponent: float = 4.0,
    detrend="constant",
    samplerate: float | None = None,
    segmented: bool | str = "auto",
    n_buckets: int | None | str = "auto",
) -> DataFrame:
    """Per-channel PSD -> spectra(channel_id, freq, power).

    ``summarize='all'`` returns (channel_id, seg, freq, power).
    ``samplerate=None`` infers per channel from the time base; the rate,
    declared or inferred, is used as is for the segment length and the
    density scale.
    Execution modes by channel size (SURVEY.md §7.3.1): ``n_buckets=K``
    batches many small channels per task with one stacked FFT;
    ``segmented=True`` splits one huge channel across tasks (one
    planner chunk per Welch segment + per-segment FFT; the grid must be
    uniform at ``samplerate``); per-channel otherwise, which runs the
    bucketed body with one channel per group, so the two give the same
    bits.  Both default to ``"auto"``: the mode is picked from
    per-channel row statistics (planner.py) so the 100 TB plan needs no
    kwargs; explicit values win.
    """
    if segmented == "auto" or n_buckets == "auto":
        from pandas_sigproc_spark import planner

        auto_nb, auto_seg = planner.auto_psd_mode(df, samplerate, window_length)
        if segmented == "auto":
            # Respect an explicit bucket request; only auto-segment when
            # bucketing was left to the planner too.
            segmented = auto_seg if n_buckets in ("auto", None) else False
        if n_buckets == "auto":
            n_buckets = None if segmented else auto_nb
    if segmented is True and window_length is None:
        # an explicit segmented=True was previously IGNORED without a
        # window_length, silently falling back to the one-task-per-
        # channel plan the caller asked to avoid (a review finding)
        raise ValueError(
            "segmented PSD requires window_length (the segment size);"
            " got segmented=True with window_length=None"
        )
    if window_length is None or not segmented:
        return _bucketed_psd(
            df,
            window_length,
            overlap,
            window_type,
            summarize,
            fatigue_exponent,
            detrend,
            samplerate,
            n_buckets,
        )
    return _segmented_psd(
        df,
        window_length,
        overlap,
        window_type,
        summarize,
        fatigue_exponent,
        detrend,
        samplerate,
    )


def _bucketed_psd(
    df,
    window_length,
    overlap,
    window_type,
    summarize,
    fatigue_exponent,
    detrend,
    sr,
    n_buckets,
):
    """Whole-channel path: inside each group (one channel, or a hash
    bucket of them — planner.group_apply), stack every channel's Welch
    segments into ONE batched FFT call, then reduce per channel.  Rows of
    the batch never interact, so each channel's spectrum is bit-identical
    to ``welch_psd`` on it alone (asserted in tests); bucketing cuts
    ~bucket-size Arrow groups and FFT setups.
    """
    all_segs = summarize == "all"

    def emit(cid, freq, pxx) -> pd.DataFrame:
        if not all_segs:
            return pd.DataFrame({"channel_id": cid, "freq": freq, "power": pxx})
        # 'all' keeps one periodogram per segment; the whole-signal
        # periodogram of window_length=None is segment 0.
        pxx = np.atleast_2d(pxx)
        n_seg, n_bin = pxx.shape
        return pd.DataFrame(
            {
                "channel_id": cid,
                "seg": np.repeat(np.arange(n_seg), n_bin),
                "freq": np.tile(freq, n_seg),
                "power": pxx.ravel(),
            }
        )

    def kernel(pdf: pd.DataFrame) -> pd.DataFrame:
        pieces = []
        # One group per samplerate — the declared one, or each channel's
        # inferred rate exactly as the design uses it: Welch segments are
        # all n_window long regardless of the channel's own length, so
        # EVERY member's segments stack into a single batched FFT.
        # Grouping by (rate, length) — round 3's scheme — fragmented
        # buckets into one FFT call per distinct channel length.
        groups: dict = {}
        for cid, t, y in channel_arrays(pdf):
            rate = sr if sr is not None else _infer_sr(t)
            groups.setdefault(rate, []).append((cid, y))
        for rate, members in groups.items():
            if window_length is None:
                # Whole-channel periodograms need equal lengths per call.
                by_len: dict = {}
                for cid, y in members:
                    by_len.setdefault(len(y), []).append((cid, y))
                for mem in by_len.values():
                    X = np.stack([y for _, y in mem])
                    freq, pxx = _spectral.periodogram(X, rate, "boxcar", "constant")
                    keep = freq > 0
                    for row, (cid, _y) in enumerate(mem):
                        pieces.append(emit(cid, freq[keep], pxx[row][keep]))
                continue
            n_window = int(rate * window_length)
            n_overlap = int(round(n_window * overlap))
            seg_rows = []
            seg_counts = []
            for cid, y in members:
                starts = _spectral.welch_segment_bounds(len(y), n_window, n_overlap)
                if not starts:
                    raise ValueError(
                        f"get_psd: channel {cid!r} has {len(y)} sample(s),"
                        f" fewer than one window_length of {window_length} s"
                        f" ({n_window} samples at {rate} Hz)"
                    )
                seg_rows.extend(y[s: s + n_window] for s in starts)
                seg_counts.append(len(starts))
            segs = np.stack(seg_rows)
            freq, psd_all = _spectral.periodogram(
                segs, rate, window_type, detrend, axis=1
            )
            keep = freq > 0
            pos = 0
            for (cid, _y), n_seg in zip(members, seg_counts):
                sub = psd_all[pos: pos + n_seg]
                pos += n_seg
                pxx = _spectral.summarize_psds(sub, freq, summarize, fatigue_exponent)
                pieces.append(emit(cid, freq[keep], pxx[..., keep]))
        return pd.concat(pieces, ignore_index=True)

    return group_apply(
        df.select("channel_id", "t", "value"),
        kernel,
        _SEG_SCHEMA if all_segs else _SPECTRA_SCHEMA,
        n_buckets,
    )


def _segmented_psd(
    df,
    window_length,
    overlap,
    window_type,
    summarize,
    fatigue_exponent,
    detrend,
    sr,
):
    """Scale path: the planner cuts each channel into chunks of one Welch
    step with the segment's overlap as forward halo, so chunk ``s`` is
    segment ``s``; FFT per chunk, reduce natively."""
    if sr is None:
        raise ValueError("segmented PSD requires an explicit samplerate")
    n_window = int(sr * window_length)
    n_step = n_window - int(round(n_window * overlap))
    if n_step <= 0:
        raise ValueError("overlap must leave a positive step")

    def fft_kernel(pdf: pd.DataFrame, core: np.ndarray) -> pd.DataFrame:
        cid = pdf["channel_id"].iloc[0]
        if pdf["_n"].iloc[0] < n_window:
            raise ValueError(
                f"get_psd segmented: channel {cid} is shorter than one"
                " window_length — no complete segment exists (the"
                " whole-channel path raises for the same input)"
            )
        if len(pdf) < n_window:
            # a tail segment (strided-view truncation, tools.py:67)
            return pd.DataFrame(columns=["channel_id", "seg", "freq", "power"])
        y = pdf["value"].to_numpy(dtype=np.float64)
        freq, pxx = _spectral.periodogram(y, sr, window_type, detrend)
        seg = int(pdf["_seg"].iloc[0])
        return pd.DataFrame({"channel_id": cid, "seg": seg, "freq": freq, "power": pxx})

    # NOTE: the positive-frequency mask is applied at the END — the
    # reference's 'max rms'/'damage' factors integrate the full spectrum
    # including the DC bin (tools.py:87-95 run before the f>0 mask at
    # extension.py:619-620).
    sub = chunk_apply(
        df.select("channel_id", "t", "value"),
        fft_kernel,
        _SEG_SCHEMA,
        n_step,
        0,
        n_window - n_step,
        sr,
    )

    if summarize == "all":
        return sub.filter(F.col("freq") > 0)
    if summarize in ("mean", "median", "max", "min"):
        agg = {
            "mean": F.avg("power"),
            "median": F.expr("percentile(power, 0.5)"),
            "max": F.max("power"),
            "min": F.min("power"),
        }[summarize]
        return (
            sub.groupBy("channel_id", "freq")
            .agg(agg.alias("power"))
            .filter(F.col("freq") > 0)
        )

    if summarize in ("max rms", "damage"):
        mean_psd = sub.groupBy("channel_id", "freq").agg(F.avg("power").alias("power"))
        # Per-segment RMS via trapezoid over freq, then the scalar factor.
        w_f = Window.partitionBy("channel_id", "seg").orderBy("freq")
        pairs = (
            sub.withColumn("_f2", F.lead("freq").over(w_f))
            .withColumn("_p2", F.lead("power").over(w_f))
            .filter(F.col("_f2").isNotNull())
        )
        seg_rms = pairs.groupBy("channel_id", "seg").agg(
            F.sqrt(
                F.sum((F.col("power") + F.col("_p2")) / 2.0 * (F.col("_f2") - F.col("freq")))
            ).alias("_rms")
        )
        # Reference semantics (tools.py:87, 93): mean_rms is the RMS *of the
        # mean PSD*, not the mean of per-segment RMS values.
        w_mf = Window.partitionBy("channel_id").orderBy("freq")
        mean_pairs = (
            mean_psd.withColumn("_f2", F.lead("freq").over(w_mf))
            .withColumn("_p2", F.lead("power").over(w_mf))
            .filter(F.col("_f2").isNotNull())
        )
        mean_rms = mean_pairs.groupBy("channel_id").agg(
            F.sqrt(
                F.sum((F.col("power") + F.col("_p2")) / 2.0 * (F.col("_f2") - F.col("freq")))
            ).alias("_mean_rms")
        )
        b = float(fatigue_exponent)
        factors = (
            join_channel(seg_rms, mean_rms)
            .groupBy("channel_id", "_mean_rms")
            .agg(
                F.max("_rms").alias("_max_rms"),
                F.avg(F.pow(F.col("_rms") / F.col("_mean_rms"), F.lit(b))).alias(
                    "_mean_pow"
                ),
            )
        )
        if summarize == "max rms":
            factor = F.pow(F.col("_max_rms") / F.col("_mean_rms"), 2.0)
        else:
            # acceleration factor = mean((rms_i/mean_rms)^b)^(1/b), squared.
            factor = F.pow(F.col("_mean_pow"), 2.0 / b)
        factors = factors.select("channel_id", factor.alias("_factor"))
        return (
            join_channel(mean_psd, factors)
            .select(
                "channel_id", "freq", (F.col("power") * F.col("_factor")).alias("power")
            )
            .filter(F.col("freq") > 0)
        )
    raise ValueError(f"{summarize!r} is not a valid summary type")
