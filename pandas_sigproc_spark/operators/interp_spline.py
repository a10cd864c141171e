"""Spline interpolation operator (kernel tier).

Every two-point kind — linear/slinear, nearest/nearest-up,
previous/zero, next — is native relational algebra in
``operators/joins.py`` (``NATIVE_INTERP_KINDS``); only the true SPLINE
kinds (``cubic``, ``quadratic``), whose coefficients couple the whole
channel through a tridiagonal solve, run here as a grouped-map UDF over
the vendored ``kernels.interp`` (reference surface:
``extension.py:819-851`` via ``scipy.interpolate.interp1d``).  (An
earlier version of this docstring claimed the nearest family and
``zero`` lived here — stale since the native tier took them; a review
finding.)

The target grid is cogrouped with the source channel so both sides
arrive in one task without a driver round-trip.  Scale caveat: the
chunked path bounds tasks by SOURCE knots; a huge target grid over a
small source still cogroups each channel's targets into one task —
use a native kind (whose range chunking bounds both sides) or pre-split
the grid when upsampling a small channel by orders of magnitude.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F

from pandas_sigproc_spark import planner
from pandas_sigproc_spark.kernels import interp as _interp

_OUT_SCHEMA = "channel_id string, t double, value double"


def interp1d_spline(
    df: DataFrame,
    grid: DataFrame,
    kind: str = "cubic",
    axis: str = "t",
    chunk_rows: int | None | str = "auto",
    overlap_knots: int = 64,
) -> DataFrame:
    """Interpolate each channel onto its grid rows with the given kind.

    ``chunk_rows="auto"``: above ``planner.HUGE_CHANNEL_ROWS`` the
    spline runs per (channel, chunk) with ``overlap_knots`` extra knots
    duplicated on each side (uniform grids only — the chunk index is
    arithmetic, same precondition as the chunked window ops).  A cubic
    spline's coefficients are formally global, but a knot's influence
    decays geometrically with distance ((2-sqrt(3))^d ~ 0.268^d for the
    natural/not-a-knot tridiagonal solves), so 64 overlap knots put the
    chunk-boundary error near 1e-37 of signal scale — below float64
    resolution; the equality is pinned to 1e-10 in
    tests/test_interp_chunked.py.  Targets route to the chunk whose core
    knot range contains them; out-of-span targets raise from the kernel
    in both plans (SciPy parity — ``extension.py:986-996``).
    """
    chunk_rows = planner.resolve_chunk_rows(df, chunk_rows)

    if chunk_rows is None:
        def kernel(src: pd.DataFrame, tgt: pd.DataFrame) -> pd.DataFrame:
            if src.empty or tgt.empty:
                return pd.DataFrame(columns=["channel_id", "t", "value"])
            src = src.sort_values(axis)
            x = src[axis].to_numpy(dtype=np.float64)
            y = src["value"].to_numpy(dtype=np.float64)
            x2 = np.sort(tgt[axis].to_numpy(dtype=np.float64))
            y2 = _interp.interp1d(x, y, x2, kind=kind)
            return pd.DataFrame(
                {"channel_id": src["channel_id"].iloc[0], "t": x2, "value": y2}
            )

        return (
            df.select("channel_id", axis, "value")
            .groupBy("channel_id")
            .cogroup(grid.select("channel_id", axis).groupBy("channel_id"))
            .applyInPandas(kernel, _OUT_SCHEMA)
        )

    L, O = int(chunk_rows), int(overlap_knots)
    src = df.select("channel_id", F.col(axis).alias("t"), "value")
    # ONE per-channel aggregate feeds both the chunk explosion and the
    # target routing (the source is huge by construction, and Spark does
    # not guarantee exchange reuse across the two differently-shaped
    # parents).
    geo = planner.channel_geometry(src)
    chunked = planner.chunked_src(src, L, back=O, fwd=O, geo=geo)
    # route each target to the chunk whose CORE knot range contains it
    # (clamped: out-of-span targets evaluate in the true end chunks); a
    # 1-knot channel routes to chunk 0, where the kernel raises its own
    # 'need at least 2 sample points', as in the global plan
    nseg = (F.floor((F.col("_n") - 1) / L) + 1).cast("long")
    home = F.floor(planner.grid_position(F.col("t")) / L).cast("long")
    tseg = F.least(F.greatest(home, F.lit(0)), nseg - 1)
    tgt = planner.join_channel(
        grid.select("channel_id", F.col(axis).alias("t")), geo
    ).select("channel_id", "t", tseg.alias("_seg"))

    def kernel_chunk(src_pdf: pd.DataFrame, tgt_pdf: pd.DataFrame) -> pd.DataFrame:
        if src_pdf.empty or tgt_pdf.empty:
            return pd.DataFrame(columns=["channel_id", "t", "value"])
        src_pdf = planner.sorted_chunk(src_pdf)
        x = src_pdf["t"].to_numpy(dtype=np.float64)
        y = src_pdf["value"].to_numpy(dtype=np.float64)
        x2 = np.sort(tgt_pdf["t"].to_numpy(dtype=np.float64))
        y2 = _interp.interp1d(x, y, x2, kind=kind)
        return pd.DataFrame(
            {"channel_id": src_pdf["channel_id"].iloc[0], "t": x2, "value": y2}
        )

    return (
        chunked.groupBy("channel_id", "_seg")
        .cogroup(tgt.groupBy("channel_id", "_seg"))
        .applyInPandas(kernel_chunk, _OUT_SCHEMA)
    )
