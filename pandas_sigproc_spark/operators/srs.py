"""Shock response spectrum operator: one kernel body per channel group.

Reference ``get_srs`` (``extension.py:627-662``) loops frequencies
serially in one process (``tools.py:371-374``).  Here the channels are
the parallel axis: :func:`planner.group_apply` hands the body one channel
(per-channel keying) or a fleet bucket of channels, and the body runs
the Smallwood recursion vectorized across every (channel, frequency)
pair of a sub-batch at once (``kernels.srs.srs_multi``).  Both keyings
run the same body with each channel's exact ``mean(diff(t))``, so their
outputs are bit-identical.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame

from pandas_sigproc_spark import planner
from pandas_sigproc_spark.kernels.srs import build_freq_array, srs_multi

_OUT_SCHEMA = "channel_id string, freq double, power double"


def get_srs(
    df: DataFrame,
    freq: np.ndarray | None = None,
    quality_factor: float = 50.0,
    remove_bias: bool = False,
    n_buckets: int | None | str = "auto",
) -> DataFrame:
    """Maximax SRS envelope -> spectra(channel_id, freq, power).

    ``remove_bias`` mirrors the reference parameter (``tools.py:305,
    345-348``): each channel's mean is subtracted before the Smallwood
    recursion to drop a static sensor offset.

    ``n_buckets = K`` hashes channels into K groups (many short
    channels), ``None`` runs one group per channel; ``"auto"`` lets the
    planner pick from per-channel row statistics (planner.py).
    """
    if n_buckets == "auto":
        n_buckets, _ = planner.auto_srs_mode(df)
    fn = build_freq_array() if freq is None else np.asarray(freq, np.float64)

    def body(pdf: pd.DataFrame) -> pd.DataFrame:
        # Sub-batch channels sharing (length, dt): one recursion each.
        groups: dict = {}
        for cid, t, y in planner.channel_arrays(pdf):
            if len(t) < 2:
                # mean(diff(t)) of one sample is NaN and would silently
                # NaN the channel's whole SRS
                raise ValueError(
                    f"get_srs: channel {cid!r} has {len(t)} sample(s) —"
                    " SRS needs at least 2 to infer the sample interval"
                )
            if remove_bias:
                y = y - np.mean(y)
            dt = float(np.mean(np.diff(t)))
            groups.setdefault((len(t), dt), []).append((cid, y))
        pieces = []
        for (_n, dt), members in groups.items():
            pos, neg = srs_multi(
                np.stack([y for _, y in members]), dt, fn, quality_factor
            )
            pieces.append(
                pd.DataFrame(
                    {
                        "channel_id": np.repeat([cid for cid, _ in members], len(fn)),
                        "freq": np.tile(fn, len(members)),
                        "power": np.maximum(pos, neg).ravel(),
                    }
                )
            )
        return pd.concat(pieces, ignore_index=True)

    return planner.group_apply(
        df.select("channel_id", "t", "value"), body, _OUT_SCHEMA, n_buckets
    )
