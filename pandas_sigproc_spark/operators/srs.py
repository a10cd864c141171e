"""Shock response spectrum operator: channel x frequency fan-out.

Reference ``get_srs`` (``extension.py:627-662``) loops frequencies
serially in one process (``tools.py:371-374``).  Spark-first version
(SURVEY.md §2.8 row get_srs): cross-join each channel against a broadcast
frequency-slice grid, so the (channel, frequency-slice) pairs spread
across the whole cluster; each task runs the Smallwood recursion for its
slice vectorized across frequencies.  For C channels and S slices the job
is C*S independent tasks — embarrassingly parallel along an axis the
reference cannot parallelize at all.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F

from pandas_sigproc_spark.planner import channel_arrays, group_apply

from pandas_sigproc_spark.kernels.srs import (
    build_freq_array,
    srs as srs_kernel,
    srs_multi,
)

_OUT_SCHEMA = "channel_id string, freq double, power double"


def get_srs(
    df: DataFrame,
    freq: np.ndarray | None = None,
    quality_factor: float = 50.0,
    remove_bias: bool = False,
    n_freq_slices: int | str = "auto",
    n_buckets: int | None | str = "auto",
) -> DataFrame:
    """Maximax SRS envelope -> spectra(channel_id, freq, power).

    ``remove_bias`` mirrors the reference parameter (``tools.py:305,
    345-348``: subtract the signal mean before the Smallwood recursion to
    drop static sensor offset).  Here it composes with the native constant
    detrend — per-channel window average, no extra shuffle beyond the
    channel partitioning the kernel stage needs anyway.

    ``n_freq_slices > 1`` splits the frequency grid so one channel's SRS
    is computed by several tasks concurrently (few long channels).
    ``n_buckets = K`` instead hashes channels into K buckets and runs the
    recursion vectorized across every (channel, frequency) pair in the
    bucket at once (many short channels) — the two axes of the same
    fan-out trade-off.  Both default to ``"auto"``: the planner picks the
    axis from per-channel row statistics (planner.py); explicit values
    win.
    """
    # Planner BEFORE detrend: per-channel row counts are invariant
    # under bias removal, and consulting the planner on the detrended
    # plan would (a) pay the detrend window shuffle inside the eager
    # plan-build count job and (b) miss stats other operators cached
    # for the raw input (a review finding — semanticHash keys the
    # cache on the exact plan).
    if n_buckets == "auto" or n_freq_slices == "auto":
        from pandas_sigproc_spark import planner

        auto_nb, auto_slices = planner.auto_srs_mode(df)
    if remove_bias:
        from pandas_sigproc_spark.operators.windows import detrend

        df = detrend(df.select("channel_id", "t", "value"), "constant")
    if n_buckets == "auto" or n_freq_slices == "auto":
        if n_buckets == "auto":
            n_buckets = auto_nb if n_freq_slices in ("auto", 1) else None
        if n_freq_slices == "auto":
            n_freq_slices = auto_slices if n_buckets is None else 1
    if n_buckets is not None:
        return _get_srs_bucketed(df, freq, quality_factor, n_buckets)
    fn = build_freq_array() if freq is None else np.asarray(freq, np.float64)
    slices = np.array_split(fn, max(int(n_freq_slices), 1))
    slice_rows = [(i,) for i, s in enumerate(slices) if len(s)]

    src = df.select("channel_id", "t", "value")
    spark = df.sparkSession
    slice_df = spark.createDataFrame(slice_rows, "slice_id int")
    # Broadcast the tiny slice-id table; every channel pairs with every
    # slice.  Only the id crosses Arrow: the body looks its frequencies
    # up in ``slices``, instead of every sample row carrying the list.
    paired = src.crossJoin(F.broadcast(slice_df))

    def kernel(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("t")
        t = pdf["t"].to_numpy(dtype=np.float64)
        y = pdf["value"].to_numpy(dtype=np.float64)
        if len(t) < 2:
            # mean(diff(t)) of one sample is NaN and would silently
            # propagate into every output power (a review finding) —
            # refuse loudly like planner._infer_sr
            raise ValueError(
                f"get_srs: channel {pdf['channel_id'].iloc[0]!r} has"
                f" {len(t)} sample(s) — SRS needs at least 2 to infer"
                " the sample interval"
            )
        fns = slices[int(pdf["slice_id"].iloc[0])]
        pos, neg = srs_kernel(t, y, fns, quality_factor)
        return pd.DataFrame(
            {
                "channel_id": pdf["channel_id"].iloc[0],
                "freq": fns,
                "power": np.maximum(pos, neg),
            }
        )

    return paired.groupBy("channel_id", "slice_id").applyInPandas(kernel, _OUT_SCHEMA)


def _get_srs_bucketed(df, freq, quality_factor, n_buckets):
    fn = build_freq_array() if freq is None else np.asarray(freq, np.float64)
    fn_list = fn.tolist()

    def kernel(pdf: pd.DataFrame) -> pd.DataFrame:
        fns = np.asarray(fn_list, dtype=np.float64)
        # Sub-batch channels sharing (length, dt); leftovers go singly.
        groups: dict = {}
        for cid, t, y in channel_arrays(pdf):
            if len(t) < 2:
                # NaN dt would silently NaN the channel's whole SRS
                raise ValueError(
                    f"get_srs: channel {cid!r} has {len(t)} sample(s) —"
                    " SRS needs at least 2 to infer the sample interval"
                )
            dt = float(np.mean(np.diff(t)))
            groups.setdefault((len(t), round(dt, 9)), []).append((cid, y))
        pieces = []
        for (_n, dt), members in groups.items():
            X = np.stack([y for _, y in members])
            pos, neg = srs_multi(X, dt, fns, quality_factor)
            env = np.maximum(pos, neg)
            nfns = len(fns)
            pieces.append(
                pd.DataFrame(
                    {
                        "channel_id": np.repeat([cid for cid, _ in members], nfns),
                        "freq": np.tile(fns, len(members)),
                        "power": env.ravel(),
                    }
                )
            )
        return pd.concat(pieces, ignore_index=True)

    return group_apply(
        df.select("channel_id", "t", "value"), kernel, _OUT_SCHEMA, n_buckets
    )
