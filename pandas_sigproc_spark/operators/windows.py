"""Ordered-window operators: moving RMS, integral, derivative, detrend.

Intra-channel order is declared explicitly — ``orderBy("t", ...)``,
order is not ambient in Spark (SURVEY.md §2.6).  ``integral``,
``derivative`` and ``detrend`` compile to whole-stage-codegen window
plans: one shuffle on ``channel_id`` that AQE coalesces, amortized
across any number of chained window ops on the same key.  ``mov_rms``
runs one NumPy body on dyadic window sums (``kernels.rolling``) instead:
Spark's sliding ``rowsBetween`` frame re-aggregates every row's frame.

Scale path (SURVEY.md §7.3.1): ``Window.partitionBy("channel_id")``
funnels each whole channel through ONE task — a 5M-row hot channel costs
50x the per-task budget of its peers (measured: mov_rms 16.1 s whole vs
6.0 s chunked beside 31 channels of 20k rows), and at
100 TB a year-long 48 kHz channel would OOM a single executor.  For
channels above :data:`planner.HUGE_CHANNEL_ROWS` the operators therefore
auto-select an *overlap-chunked* plan cut by the planner's one halo'd
chunk primitive (:func:`planner.chunked_src`): an arithmetic per-channel
sample index off one broadcast MIN/MAX/COUNT aggregate (no sort, no
single-task stage), rows within the operator's warm-up distance of a
chunk boundary duplicated into the neighbouring chunk, and the same
computation partitioned by ``(channel, chunk)``, so every task holds at
most ``chunk_rows + overlap`` rows.  ``mov_rms`` runs its NumPy body
through :func:`planner.chunk_apply`; ``integral`` and ``derivative``
keep native window plans over the chunks.  The chunked plans are
row-for-row BIT-IDENTICAL to the whole-channel plans for
``mov_rms``/``derivative`` and identical up to summation association
for ``integral`` (pinned in tests/test_chunked_windows.py).

The chunked plans require each channel to sit on a uniform,
strictly-increasing time grid — the arithmetic index IS the ordinal
index only there.  The planner's grid guard raises inside the task if
the reconstructed index has duplicates or gaps, instead of silently
mis-framing.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pyarrow as pa
from pyspark.sql import DataFrame, Window, functions as F

from pandas_sigproc_spark import planner
from pandas_sigproc_spark.kernels.rolling import window_sums

_MOV_RMS_SCHEMA = "channel_id string, t double, value double"


def _wspec(order_col: str, tiebreak_col: str | None):
    order = [F.col(order_col)] + ([F.col(tiebreak_col)] if tiebreak_col else [])
    return Window.partitionBy("channel_id").orderBy(*order)


def mov_rms(
    df: DataFrame,
    window: float,
    samplerate: float,
    tiebreak_col: str | None = None,
    drop_last: bool = True,
    chunk_rows: int | None | str = "auto",
) -> DataFrame:
    """Trailing moving RMS over ``round(window * samplerate)`` samples.

    Reference ``timedomain.mov_rms`` (``extension.py:664-700``): rolling
    mean of squares -> sqrt; warm-up rows dropped; time base re-centered
    by ``window/2``.  ``drop_last=True`` replicates the reference's
    off-by-one discard of the final sample (``extension.py:696`` slices
    ``[window_n-1:-1]``) — pass False for the corrected variant.

    One NumPy body (:func:`_mov_rms_body`) runs every plan shape:
    whole channels through :func:`planner.group_apply`, keyed per
    channel or by the planner's fleet bucket count, and, when
    ``chunk_rows="auto"`` (default) finds a huge channel,
    :func:`planner.chunk_apply` chunks that carry the previous ``n-1``
    rows (module docstring).  NOTE: the
    default consults one cached COUNT aggregate over the input
    (planner.get_stats) at plan-build time, and so does the kernel for
    its bucket count.
    """
    n = int(round(window * samplerate))
    if n < 1:
        raise ValueError("window shorter than one sample")
    chunk_rows = planner.resolve_chunk_rows(
        df, chunk_rows, overlap=n - 1, tiebreak_col=tiebreak_col
    )
    if chunk_rows is not None:
        return _mov_rms_chunked(df, window, n, int(chunk_rows), drop_last)
    order_cols = ["t"] + ([tiebreak_col] if tiebreak_col else [])

    def body(pdf: pd.DataFrame) -> pd.DataFrame:
        return _mov_rms_body(pdf, n, window / 2.0, order_cols, drop_last)

    n_buckets = planner._fleet_buckets(df, planner.get_stats(df))
    return planner.group_apply(
        _with_null_flags(df, order_cols), body, _MOV_RMS_SCHEMA, n_buckets
    )


def _with_null_flags(df: DataFrame, order_cols: list, *keys: str) -> DataFrame:
    # NULL and NaN are both NaN in pandas: ship each column's NULLs as a
    # flag so the body can order and count them as Spark does.
    cols = list(dict.fromkeys([*order_cols, "t", "value"]))
    nulls = (F.col(c).isNull().alias(f"_null_{c}") for c in cols)
    return df.select("channel_id", *keys, *cols, *nulls)


def _nullable(x: np.ndarray, null: np.ndarray) -> pd.arrays.ArrowExtensionArray:
    # An Arrow-backed column crosses back to Spark as is; a float column
    # would have every NaN turned into NULL on the way.
    return pd.arrays.ArrowExtensionArray(pa.array(x, mask=null))


def _mov_rms_body(
    pdf: pd.DataFrame, n: int, half: float, order_cols: list, drop_last: bool
) -> pd.DataFrame:
    """The native window plan's ``mov_rms`` over a group of channels.

    Rows sort by channel, then by ``order_cols`` with NULLs first as in a
    Spark ``orderBy``.  As Spark's ``Average``, each frame sums
    ``coalesce(value * value, 0.0)`` and counts its non-NULL rows, here
    by :func:`kernels.rolling.window_sums` over the channel-sorted flat
    array, and the root of ``sum / count`` is NULL when the count is 0.
    The frames that cross a channel boundary belong to warm-up rows,
    which are dropped.  Rows, NULLs, NaNs and infinities equal the
    window plan's; values are within ``(n.bit_length() + 2) * 2**-51``
    relative of the exact root (``tests/test_mov_rms_kernel.py``).
    """
    codes, cids = planner.channel_codes(pdf["channel_id"].to_numpy())
    keys = []
    for c in reversed(order_cols):
        key = pdf[c].to_numpy()
        if key.dtype == object:
            key = pd.factorize(key, sort=True)[0]
        keys.append(key)
        null = pdf[f"_null_{c}"].to_numpy()
        if null.any():
            keys.append(~null)
    order = np.lexsort([*keys, codes])
    codes = codes[order]
    v = pdf["value"].to_numpy(dtype=np.float64)[order]
    v_null = pdf["_null_value"].to_numpy()[order]
    with np.errstate(over="ignore"):
        acc = window_sums(np.where(v_null, 0.0, v * v), n)
    cnt = window_sums(~v_null, n)
    # Row i (of the flat array) owns frame i-n+1 .. i; keep the rows at
    # channel position n-1 or later (and not the channel's last row).
    sizes = np.bincount(codes, minlength=len(cids))
    pos = np.arange(len(codes)) - (np.cumsum(sizes) - sizes)[codes]
    keep = pos >= n - 1
    if drop_last:
        keep &= pos < sizes[codes] - 1
    rows = np.flatnonzero(keep)
    k = rows - (n - 1)
    null = cnt[k] == 0
    with np.errstate(invalid="ignore", divide="ignore"):
        val = np.sqrt(acc[k] / cnt[k])
    t = pdf["t"].to_numpy(dtype=np.float64)[order][rows]
    t_null = pdf["_null_t"].to_numpy()[order][rows]
    return pd.DataFrame(
        {
            "channel_id": np.asarray(cids, dtype=object)[codes[rows]],
            "t": _nullable(t - half, t_null),
            "value": _nullable(val, null),
        }
    )


def _mov_rms_chunked(df, window, n, chunk_rows, drop_last):
    def body(pdf: pd.DataFrame, core: np.ndarray) -> pd.DataFrame:
        # The chunk arrives sorted by _i, so the body needs no order key.
        # Its first n-1 rows are the channel's warm-up (chunk 0) or the
        # previous chunk's tail: the body's warm-up trim drops them.
        # Only the channel's last row ends no other frame.
        last = drop_last and pdf["_i"].iat[-1] == pdf["_n"].iat[0] - 1
        return _mov_rms_body(pdf, n, window / 2.0, [], last)

    return planner.chunk_apply(
        _with_null_flags(df, ["t"]), body, _MOV_RMS_SCHEMA, chunk_rows, n - 1, 0
    )


def integral(
    df: DataFrame,
    tiebreak_col: str | None = None,
    chunk_rows: int | None | str = "auto",
) -> DataFrame:
    """Cumulative trapezoidal integral per channel, first sample = 0.

    Reference ``timedomain.integral`` (``extension.py:702-723``,
    ``scipy.integrate.cumulative_trapezoid(initial=0)``): lag-pair segment
    areas, then a running sum — two stacked window functions over the same
    partitioning, a single shuffle.

    ``chunk_rows="auto"``: huge channels run the distributed prefix-sum
    plan instead — per-chunk running sums with a 1-row lag overlap, plus
    a cumulative offset over the (tiny) per-chunk totals table joined
    back by broadcast.  Equal to the single-window plan up to summation
    association (~1e-15 relative); every partial sum is an ordered left
    fold, so the result is deterministic bit-for-bit on any cluster
    layout (and SQL-replayable — the driver oracle replays the same
    association).
    """
    chunk_rows = planner.resolve_chunk_rows(
        df, chunk_rows, overlap=1, tiebreak_col=tiebreak_col
    )
    if chunk_rows is not None:
        return _integral_chunked(df, int(chunk_rows))
    w = _wspec("t", tiebreak_col)
    seg = (
        (F.col("value") + F.lag("value").over(w))
        / 2.0
        * (F.col("t") - F.lag("t").over(w))
    )
    running = F.sum(F.coalesce(seg, F.lit(0.0))).over(
        w.rowsBetween(Window.unboundedPreceding, 0)
    )
    return df.withColumn("value", running).select("channel_id", "t", "value")


def _integral_chunked(df, chunk_rows):
    L = chunk_rows
    src = planner.chunked_src(df, L, back=1, fwd=0)
    wseg = Window.partitionBy("channel_id", "_seg").orderBy("_i")
    # The overlap row (previous chunk's tail) contributes lag(t/value) to
    # the chunk's first core row; its own area coalesces to 0 here — it
    # was already counted in its home chunk.
    area = F.coalesce(
        (F.col("value") + F.lag("value").over(wseg))
        / 2.0
        * (F.col("t") - F.lag("t").over(wseg)),
        F.lit(0.0),
    )
    prefix = F.sum(area).over(wseg.rowsBetween(Window.unboundedPreceding, 0))
    base = src.withColumn("_prefix", planner.grid_guard(wseg, prefix))
    # Chunk totals = the prefix at each chunk's last core row (arithmetic
    # predicate, no extra window); offsets = exclusive running sum over
    # the tiny (channel, seg) totals table, broadcast back.  Left folds
    # all the way down -> deterministic bits on any layout.  The totals
    # branch re-derives the windowed subtree (AQE reuses the shuffle
    # where it can) — deliberately so: persisting the exploded
    # intermediate would trade a second bounded pass for materializing
    # the whole corpus, the wrong trade at 100 TB.
    last_i = F.least(F.col("_n") - 1, (F.col("_seg") + 1) * L - 1)
    tots = base.filter(F.col("_i") == last_i).select(
        "channel_id", "_seg", F.col("_prefix").alias("_T")
    )
    woff = (
        Window.partitionBy("channel_id")
        .orderBy("_seg")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offs = tots.select(
        "channel_id",
        "_seg",
        F.coalesce(F.sum("_T").over(woff), F.lit(0.0)).alias("_off"),
    )
    return (
        planner.join_channel(base.filter("_core"), offs, ["channel_id", "_seg"])
        .select(
            "channel_id", "t", (F.col("_off") + F.col("_prefix")).alias("value")
        )
    )


def derivative(
    df: DataFrame,
    tiebreak_col: str | None = None,
    chunk_rows: int | None | str = "auto",
) -> DataFrame:
    """Finite difference on the midpoint time base (one fewer row).

    Reference ``timedomain.derivative`` (``extension.py:725-749``):
    ``Δy/Δt`` reported at ``(t_i + t_{i+1})/2``.

    ``chunk_rows="auto"``: huge channels chunk with a 1-row *forward*
    overlap (each chunk borrows the next chunk's first row for its tail
    ``lead``) — purely row-local arithmetic, so the chunked output is
    bit-identical to the single-window plan.
    """
    chunk_rows = planner.resolve_chunk_rows(
        df, chunk_rows, overlap=1, tiebreak_col=tiebreak_col
    )
    if chunk_rows is not None:
        return _derivative_chunked(df, int(chunk_rows))
    w = _wspec("t", tiebreak_col)
    out = (
        df.withColumn("_t2", F.lead("t").over(w))
        .withColumn("_y2", F.lead("value").over(w))
        .filter(F.col("_t2").isNotNull())
    )
    return out.select(
        "channel_id",
        ((F.col("t") + F.col("_t2")) / 2.0).alias("t"),
        ((F.col("_y2") - F.col("value")) / (F.col("_t2") - F.col("t"))).alias("value"),
    )


def _derivative_chunked(df, chunk_rows):
    src = planner.chunked_src(df, chunk_rows, back=0, fwd=1)
    wseg = Window.partitionBy("channel_id", "_seg").orderBy("_i")
    out = (
        src.withColumn("_t2", F.lead("t").over(wseg))
        .withColumn("_y2", planner.grid_guard(wseg, F.lead("value").over(wseg)))
        .filter("_core")
        .filter(F.col("_t2").isNotNull())
    )
    return out.select(
        "channel_id",
        ((F.col("t") + F.col("_t2")) / 2.0).alias("t"),
        ((F.col("_y2") - F.col("value")) / (F.col("_t2") - F.col("t"))).alias("value"),
    )


def detrend(
    df: DataFrame,
    dt_type: str = "linear",
    breakpoints=None,
    mode: str = "auto",
    uniform_grid: bool = False,
) -> DataFrame:
    """Remove the per-channel mean or the least-squares line.

    Reference ``timedomain.detrend`` (``extension.py:751-781``).
    ``constant``: ``value - avg(value) over channel``.  ``linear``:
    closed-form OLS on (t, value) from the channel's sufficient statistics
    (Σ1, Σt, Σy, Σty, Σt²) — a single window aggregation, no UDF, no
    second scan.

    ``breakpoints`` (scipy.signal.detrend ``bp`` semantics): sample
    indices splitting each channel into segments, each detrended by its
    own independent linear fit.  Still fully native: the segment id is a
    ``row_number`` bucketed by the breakpoint list, and the same OLS
    window runs partitioned by (channel, segment) — no UDF, one extra
    window pass.

    ``mode``: ``"agg"`` computes the per-channel sufficient statistics
    with partial-aggregated ``groupBy`` + broadcast joins instead of
    whole-partition windows — no channel is ever materialized in one
    task, so a 5-billion-row channel detrends as well as a 5-thousand-row
    one (the window form funnels each channel through a single task; see
    module docstring).  ``"window"`` is the one-shuffle window plan —
    measured ~30% cheaper at small scale (the agg form scans the input
    three times).  ``"auto"`` (default) picks window unless the planner
    stats show a channel above HUGE_CHANNEL_ROWS (one cached count job at
    build time).  The two agree to summation-association rounding
    (~1e-15 relative).  ``breakpoints`` defaults to the window form —
    segment membership needs the per-channel ordinal index, which has no
    sort-free equivalent on a NON-uniform grid — but callers whose
    channels sit on uniform grids can pass ``uniform_grid=True`` to get
    the agg form: the ordinal index is reconstructed arithmetically from
    one broadcast MIN/MAX/COUNT aggregate (per-channel inferred rate,
    guarded like the chunked ops), so no whole-channel sort/window
    remains anywhere in the piecewise plan either.
    """
    if breakpoints:
        if dt_type != "linear":
            raise ValueError("breakpoints require dt_type='linear'")
        bps = sorted(int(b) for b in breakpoints)
        if uniform_grid:
            return _detrend_piecewise_agg(df, bps)
        wseq = Window.partitionBy("channel_id").orderBy("t")
        idx = F.row_number().over(wseq) - 1
        seg = sum(
            (F.when(idx >= b, 1).otherwise(0) for b in bps), F.lit(0)
        )
        dfb = df.withColumn("_seg", seg)
        w = Window.partitionBy("channel_id", "_seg")
        centered = dfb.withColumn(
            "_tc", F.col("t") - F.avg("t").over(w)
        ).withColumn("_yc", F.col("value") - F.avg("value").over(w))
        # try_divide: a 1-row segment has zero t-variance (0/0 would throw
        # under ANSI mode); detrend of a single point is its mean removal.
        slope = F.try_divide(
            F.avg(F.col("_tc") * F.col("_yc")).over(w),
            F.avg(F.col("_tc") * F.col("_tc")).over(w),
        )
        safe = F.coalesce(slope, F.lit(0.0))
        return (
            centered.withColumn("value", F.col("_yc") - safe * F.col("_tc"))
            .select("channel_id", "t", "value")
        )
    if dt_type not in ("constant", "linear"):
        raise ValueError(f"unknown detrend type {dt_type!r}")
    if mode not in ("auto", "agg", "window"):
        raise ValueError(f"unknown detrend mode {mode!r}")
    if mode == "auto":
        mode = "agg" if planner.auto_window_mode(df) is not None else "window"
    if mode == "agg":
        return _detrend_agg(df, dt_type)
    w = Window.partitionBy("channel_id")
    if dt_type == "constant":
        return df.withColumn(
            "value", F.col("value") - F.avg("value").over(w)
        ).select("channel_id", "t", "value")
    # Two-pass centered OLS: E[t^2] - E[t]^2 at epoch-seconds magnitude
    # (~1.7e9) loses ~9 digits to cancellation; centering first keeps the
    # slope accurate to ~1e-13 relative.  Same partitioning both passes —
    # one shuffle, Catalyst reuses the exchange.
    centered = df.withColumn("_tc", F.col("t") - F.avg("t").over(w)).withColumn(
        "_yc", F.col("value") - F.avg("value").over(w)
    )
    # try_divide + coalesce(0): a 1-row channel (or one whose rows share
    # a single timestamp) has zero t-variance — the plain division gave
    # NULL values (or DIVIDE_BY_ZERO under ANSI) where the agg and
    # breakpoints forms, which claim parity with this path, return mean
    # removal (a review finding).  Detrend of a zero-variance channel is
    # its mean removal in all three forms.
    slope = F.coalesce(
        F.try_divide(
            F.avg(F.col("_tc") * F.col("_yc")).over(w),
            F.avg(F.col("_tc") * F.col("_tc")).over(w),
        ),
        F.lit(0.0),
    )
    return (
        centered.withColumn("value", F.col("_yc") - slope * F.col("_tc"))
        .select("channel_id", "t", "value")
    )


def _detrend_piecewise_agg(df, bps):
    """Piecewise-linear detrend with NO whole-channel window: the ordinal
    sample index is reconstructed arithmetically (uniform grids only),
    segments bucket on it, and each (channel, segment) fit comes from
    groupBy sufficient statistics + broadcast joins.

    A residual guard raises when a timestamp sits off its reconstructed
    grid slot (mixed-rate / jittered channels).  A channel with DROPPED
    samples keeps small residuals but shifts ordinal indices — gapped
    grids are not detectable here; use the window form for those.
    """
    geo = planner.channel_geometry(df)
    # planner.grid_position: 1-row channels index to slot 0 (their
    # 1-point segment fit is handled by the try_divide below, matching
    # the window form); multi-row zero-span channels raise.
    pos = planner.grid_position(F.col("t"))
    i = F.floor(pos + 0.5).cast("long")
    off_grid = F.raise_error(
        F.concat(
            F.lit("detrend(uniform_grid=True): channel "),
            F.col("channel_id"),
            F.lit(
                " is not on a uniform time grid (timestamp off its "
                "reconstructed slot); use the default window form"
            ),
        )
    )
    idx = F.when(F.abs(pos - i) > 0.25, off_grid.cast("long")).otherwise(i)
    seg = sum(
        (F.when(idx >= b, 1).otherwise(0) for b in bps), F.lit(0)
    )
    src = (
        planner.join_channel(df, geo)
        .withColumn("_seg", seg)
        .select("channel_id", "_seg", "t", "value")
    )
    means = src.groupBy("channel_id", "_seg").agg(
        F.avg("t").alias("_mt"), F.avg("value").alias("_my")
    )
    centered = planner.join_channel(src, means, ["channel_id", "_seg"]).select(
        "channel_id",
        "_seg",
        "t",
        (F.col("t") - F.col("_mt")).alias("_tc"),
        (F.col("value") - F.col("_my")).alias("_yc"),
    )
    fits = centered.groupBy("channel_id", "_seg").agg(
        F.avg(F.col("_tc") * F.col("_yc")).alias("_sxy"),
        F.avg(F.col("_tc") * F.col("_tc")).alias("_sxx"),
    )
    slope = F.coalesce(F.try_divide(F.col("_sxy"), F.col("_sxx")), F.lit(0.0))
    return (
        planner.join_channel(centered, fits, ["channel_id", "_seg"])
        .select(
            "channel_id", "t", (F.col("_yc") - slope * F.col("_tc")).alias("value")
        )
    )


def _detrend_agg(df, dt_type):
    """Scale-safe detrend: groupBy sufficient statistics + broadcast joins
    (one tiny row per channel), value-level arithmetic per row.  No
    whole-channel windows anywhere in the plan."""
    if dt_type == "constant":
        means = df.groupBy("channel_id").agg(F.avg("value").alias("_m"))
        return (
            planner.join_channel(df, means)
            .select("channel_id", "t", (F.col("value") - F.col("_m")).alias("value"))
        )
    means = df.groupBy("channel_id").agg(
        F.avg("t").alias("_mt"), F.avg("value").alias("_my")
    )
    centered = planner.join_channel(df, means).select(
        "channel_id",
        "t",
        (F.col("t") - F.col("_mt")).alias("_tc"),
        (F.col("value") - F.col("_my")).alias("_yc"),
    )
    fits = centered.groupBy("channel_id").agg(
        F.avg(F.col("_tc") * F.col("_yc")).alias("_sxy"),
        F.avg(F.col("_tc") * F.col("_tc")).alias("_sxx"),
    )
    # try_divide: a 1-row channel has zero t-variance; detrend of a single
    # point is its mean removal (slope 0), matching the window form.
    slope = F.coalesce(F.try_divide(F.col("_sxy"), F.col("_sxx")), F.lit(0.0))
    return (
        planner.join_channel(centered, fits)
        .select(
            "channel_id",
            "t",
            (F.col("_yc") - slope * F.col("_tc")).alias("value"),
        )
    )
