"""User-defined per-channel kernels — the engine's extension surface.

SURVEY.md §2.10: the reference has no extensibility layer (every op is a
hard-coded accessor method); this engine's custom-operator story is the
same grouped-map shape its own kernel tier uses.  ``apply_channel_kernel``
gives users that shape directly with the engine's conventions handled for
them: deterministic intra-channel ordering (with an explicit tiebreak
slot, since order is not ambient in Spark — SURVEY §7.3.2), optional
channel bucketing to amortize Arrow/job overhead across fleets of small
channels (same trade as the built-in filters and rainflow), and a
schema-checked Arrow boundary.
"""

from __future__ import annotations

from collections.abc import Callable, Sequence

import pandas as pd
from pyspark.sql import DataFrame

from pyspark.sql.types import StructType

from pandas_sigproc_spark.planner import group_apply


def apply_channel_kernel(
    df: DataFrame,
    kernel: Callable[[str, pd.DataFrame], pd.DataFrame],
    schema: str | StructType,
    *,
    order_cols: Sequence[str] = ("t",),
    n_buckets: int | None = None,
) -> DataFrame:
    """Run ``kernel(channel_id, channel_pdf) -> pdf`` per channel.

    ``channel_pdf`` arrives sorted by ``order_cols`` (pass ``("t",
    "seq")`` when timestamps can tie and the kernel is order-sensitive);
    the returned frame must match ``schema``.  ``n_buckets`` groups K
    channels per Arrow batch (kernel still sees one channel at a time) —
    use it when channels are small and per-group overhead dominates.
    """
    if isinstance(schema, str):
        schema = StructType.fromDDL(schema)
    out_cols = [f.name for f in schema.fields]
    oc = list(order_cols)

    def run(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(["channel_id", *oc], kind="mergesort")
        pieces = []
        # dropna=False: a null channel_id group must reach the kernel,
        # not silently vanish (pandas drops NaN group keys by default).
        for cid, grp in pdf.groupby("channel_id", sort=False, dropna=False):
            out = kernel(cid, grp.reset_index(drop=True))
            if out is not None and len(out):
                pieces.append(out)
        if not pieces:
            return pd.DataFrame(columns=out_cols)
        return pd.concat(pieces, ignore_index=True)

    return group_apply(df, run, schema, n_buckets)
