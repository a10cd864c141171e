"""Join-shaped operators: RSS (equi-join on time), linear interpolation
(range/as-of join), log-log interpolation, resample.

The reference's ``rss`` leans on pandas index alignment
(``extension.py:783-817``) and ``interp1d`` on SciPy over whole arrays
(``extension.py:819-851``).  Here both become relational: RSS is a
group-by on the time key; linear interpolation is the classic
union-the-grids as-of join — two ``last_value(ignorenulls)`` windows
bracket every target point, then one arithmetic expression.  No data
leaves the JVM; spline kinds (which genuinely need the whole channel) are
in the kernel tier (operators/interp_spline.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

from pandas_sigproc_spark import planner


def rss(df: DataFrame, channel_ids=None, out_channel: str = None, time_col: str = "t") -> DataFrame:
    """Root-sum-square across channels sharing a time base.

    ``sqrt(Σ value_i^2)`` grouped by ``t``.  Semantics decision (SURVEY.md
    §2.3): pandas alignment produces NaN rows for non-matching stamps; this
    engine keeps only stamps present in *some* channel and sums what's
    there (count reported so callers can filter to full alignment).

    ``n_channels`` counts DISTINCT channels with a non-null value at the
    stamp — not rows (a review finding: a channel with duplicate stamps,
    or a NULL value the sum skips, made ``n_channels == K`` certify
    "full alignment" for a stamp that wasn't).  Duplicate stamps within
    one channel still both enter the sum (documented: ``deduplicate``
    upstream decides which value a stamp carries).
    """
    src = df
    if channel_ids is not None:
        src = src.filter(F.col("channel_id").isin(list(channel_ids)))
    name = out_channel or "rss"
    return (
        src.groupBy(time_col)
        .agg(
            F.sqrt(F.sum(F.col("value") * F.col("value"))).alias("value"),
            F.count_distinct(
                F.when(F.col("value").isNotNull(), F.col("channel_id"))
            ).alias("n_channels"),
        )
        .select(F.lit(name).alias("channel_id"), F.col(time_col).alias("t"), "value", "n_channels")
    )


#: interp kinds expressible as pure relational algebra (one bracket join +
#: a CASE expression) — everything the reference's ``interp1d`` exposes
#: except the spline kinds (``extension.py:819-851``; kind list at
#: ``extension.py:832``).  Cubic stays in the kernel tier.
NATIVE_INTERP_KINDS = (
    "linear",
    "slinear",
    "nearest",
    "nearest-up",
    "previous",
    "zero",
    "next",
)


def _combine_expr(kind: str, x0, y0, x1, y1, x):
    """The per-kind two-point combiner shared by :func:`interp1d_native`
    and :func:`resample` — ONE definition (a review finding counted two
    hand-maintained copies): the nearest/nearest-up midpoint tie rule
    must stay identical to ``kernels/interp.py``'s searchsorted
    semantics, and a fix applied to one copy would silently leave the
    other diverging."""
    if kind in ("linear", "slinear"):
        return y0 + (y1 - y0) * (x - x0) / (x1 - x0)
    if kind in ("nearest", "nearest-up"):
        mid = 0.5 * (x0 + x1)
        at_or_below = x <= mid if kind == "nearest" else x < mid
        return F.when(at_or_below, y0).otherwise(y1)
    if kind in ("previous", "zero"):
        return y0
    return y1  # next


def _chunk_assign(u: DataFrame, chunk_rows: int) -> DataFrame:
    """Assign every unioned source/target row a time-RANGE chunk id and
    inject each chunk's out-of-chunk bracketing sources.

    Unlike the arithmetic-index chunking of the window ops (which needs
    a uniform grid), range chunking only needs a time axis: each channel
    is cut into ``ceil((n_src + n_targets) / chunk_rows)`` equal time
    spans — the TOTAL row count, because the bracket windows sort both
    sides and an upsampling grid can dwarf its source (a review
    finding: sizing on sources alone left per-chunk target counts
    unbounded).  Balanced when combined density is roughly even; always
    bounded per task by the span row count.  A chunk's as-of brackets
    can reach outside it, so
    for every (channel, chunk) the cumulative latest-earlier source and
    earliest-later source (tiny per-chunk table, window over chunk ids)
    are duplicated in as extra source rows — after which the bracket
    windows are correct per chunk, bit-identical to the global plan.

    NOTE: channels with duplicate source ``_x`` values have ambiguous
    brackets in the GLOBAL plan too (documented: deduplicate upstream);
    the boundary table resolves such ties by max/min value, which may
    differ from the global plan's arbitrary in-window pick.
    """
    L = int(chunk_rows)
    # _t0/_t1 span SOURCES only (targets clamp into it); _n counts ALL
    # rows — see the docstring.  A target-only channel now gets a geo
    # row with NULL span: its rows park in chunk 0 via the coalesce
    # below and bracket to NULL, exactly as the old no-geo-row path.
    src_x = F.when(F.col("_is_src") == 1, F.col("_x"))
    geo = u.groupBy("channel_id").agg(
        F.min(src_x).alias("_t0"),
        F.max(src_x).alias("_t1"),
        F.count("*").alias("_n"),
    )
    nseg = F.greatest(F.ceil(F.col("_n") / L), F.lit(1)).cast("long")
    span = F.when(
        F.col("_t1") > F.col("_t0"), (F.col("_t1") - F.col("_t0")) / nseg
    ).otherwise(F.lit(1.0))
    raw_seg = F.floor((F.col("_x") - F.col("_t0")) / span).cast("long")
    # clamp: out-of-range targets live in the first/last chunk, where
    # their (possibly one-sided) brackets resolve exactly as globally.
    # LEFT join + coalesce(0): a grid channel with no sources at all has
    # no geo row — its targets park in chunk 0 and bracket to NULL,
    # matching the global plan (inner join would silently drop them).
    seg = F.coalesce(
        F.least(F.greatest(raw_seg, F.lit(0)), nseg - 1), F.lit(0)
    )
    src2 = u.join(F.broadcast(geo), "channel_id", "left").select(
        "channel_id", "_x", "_y", "_is_src", seg.alias("_seg")
    )
    # per-chunk source extremes -> cumulative across chunks (fills chunks
    # that hold targets but no sources); the spine enumerates every chunk
    # id [0, nseg) ARITHMETICALLY from the tiny geo table (clamping pins
    # all rows into that range) — no distinct scan over the data
    spine = geo.select(
        "channel_id",
        F.explode(F.sequence(F.lit(0).cast("long"), nseg - 1)).alias("_seg"),
    )
    b = (
        src2.filter(F.col("_is_src") == 1)
        .groupBy("channel_id", "_seg")
        .agg(
            F.max(F.struct("_x", "_y")).alias("_lasts"),
            F.min(F.struct("_x", "_y")).alias("_firsts"),
        )
    )
    w_prev = (
        Window.partitionBy("channel_id")
        .orderBy("_seg")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    w_next = (
        Window.partitionBy("channel_id")
        .orderBy(F.col("_seg").desc())
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    bb = (
        spine.join(b, ["channel_id", "_seg"], "left")
        .withColumn("_prev", F.last("_lasts", ignorenulls=True).over(w_prev))
        .withColumn("_next", F.last("_firsts", ignorenulls=True).over(w_next))
    )
    inj_prev = bb.filter(F.col("_prev").isNotNull()).select(
        "channel_id",
        F.col("_prev._x").alias("_x"),
        F.col("_prev._y").alias("_y"),
        F.lit(1).alias("_is_src"),
        "_seg",
    )
    inj_next = bb.filter(F.col("_next").isNotNull()).select(
        "channel_id",
        F.col("_next._x").alias("_x"),
        F.col("_next._y").alias("_y"),
        F.lit(1).alias("_is_src"),
        "_seg",
    )
    return src2.unionByName(inj_prev).unionByName(inj_next)


def interp1d_native(
    df: DataFrame,
    grid: DataFrame,
    axis: str = "t",
    kind: str = "linear",
    bounds_null: bool = False,
    chunk_rows: int | None | str = "auto",
) -> DataFrame:
    """Interpolation of each channel onto per-channel target points, for
    every kind that reduces to the two bracketing samples.

    ``grid`` has columns ``(channel_id, {axis})``.  Implementation is an
    as-of join via grid union: tag source rows, union the target grid,
    bracket every target with the nearest source sample on each side
    (``last_value``/``first_value`` with ``ignorenulls`` over ordered
    windows), then a per-kind combiner expression:

    - ``linear``/``slinear`` — two-point formula
    - ``nearest``/``nearest-up`` — midpoint decision, half-intervals
      rounding down/up respectively (kernels/interp.py tie semantics)
    - ``previous``/``zero`` — left knot
    - ``next`` — right knot (exact hits map to their own sample)

    At scale this is one shuffle on ``channel_id`` — same cost class as
    any window op, and Catalyst prunes the union's columns into both
    scans.  No data leaves the JVM for any of these kinds.

    Out-of-range targets: SciPy raises (the reference inherits that,
    ``extension.py:986-996``); distributed engines shouldn't throw from
    executors for one bad point, so with ``bounds_null=True`` they
    yield NULL, and by default they are silently dropped (filter the
    NULL-marked form if you need to count them — an earlier docstring
    promised a validation count this function never performed; a
    review finding).

    ``chunk_rows="auto"`` (default): above ``planner.HUGE_CHANNEL_ROWS``
    — judged on the SOURCE and the GRID (an upsampling grid can dwarf
    its source, and the bracket windows sort both) — the windows run
    per (channel, time-range chunk) with boundary sources injected
    (:func:`_chunk_assign`) instead of one whole-channel sorted window
    task: bounded task memory, NO uniform-grid requirement (range
    chunking only needs the time axis), and results identical to the
    global plan except on channels with DUPLICATE source timestamps,
    where the boundary table's max/min tie pick may differ from the
    global window's arbitrary one (the :func:`_chunk_assign` note;
    deduplicate upstream for a replayable contract).
    """
    kind = kind.lower()
    if kind not in NATIVE_INTERP_KINDS:
        raise ValueError(
            f"kind {kind!r} is not relationally expressible; use "
            "interp1d_spline (kernel tier) for spline kinds"
        )
    data = df.select(
        "channel_id",
        F.col(axis).alias("_x"),
        F.col("value").alias("_y"),
        F.lit(1).alias("_is_src"),
    )
    tgt = grid.select(
        "channel_id",
        F.col(axis).alias("_x"),
        F.lit(None).cast("double").alias("_y"),
        F.lit(0).alias("_is_src"),
    )
    u = data.unionByName(tgt)
    auto = chunk_rows == "auto"
    chunk_rows = planner.resolve_chunk_rows(df, chunk_rows)
    if chunk_rows is None and auto:
        # the windows sort n_src + n_grid rows per channel, so a huge
        # TARGET grid needs chunking even under a small source (a
        # review finding: upsampling bypassed the bounded-task path)
        chunk_rows = planner.resolve_chunk_rows(grid, "auto")
    if chunk_rows is not None:
        u = _chunk_assign(u, int(chunk_rows))
        part_cols = ["channel_id", "_seg"]
    else:
        part_cols = ["channel_id"]
    # Both bracket sides are BACKWARD frames (unboundedPreceding, 0):
    # Spark evaluates unbounded-FOLLOWING frames by re-aggregating from
    # each row to the partition end — O(n^2) per channel, a stall on a
    # multi-million-sample hot channel (caught by a 5M-row skew probe).
    # The forward bracket ("first source at-or-ahead") becomes
    # last-source-so-far on the DESCENDING ordering — one extra in-
    # partition sort, O(n log n), same values.  Tie rules: ascending,
    # sources order BEFORE targets at equal _x so an exact hit brackets
    # to itself on the left; descending, sources order AFTER targets so
    # the forward bracket still excludes the co-located source (exact
    # hits resolve through _x0, identical to the old frame's semantics).
    w_back = (
        Window.partitionBy(*part_cols)
        .orderBy(F.col("_x"), F.col("_is_src").desc())
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    w_fwd = (
        Window.partitionBy(*part_cols)
        .orderBy(F.col("_x").desc(), F.col("_is_src").asc())
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    src_x = F.when(F.col("_is_src") == 1, F.col("_x"))
    src_y = F.when(F.col("_is_src") == 1, F.col("_y"))
    u = (
        u.withColumn("_x0", F.last(src_x, ignorenulls=True).over(w_back))
        .withColumn("_y0", F.last(src_y, ignorenulls=True).over(w_back))
        .withColumn("_x1", F.last(src_x, ignorenulls=True).over(w_fwd))
        .withColumn("_y1", F.last(src_y, ignorenulls=True).over(w_fwd))
        .filter(F.col("_is_src") == 0)
    )
    # Exact hit (_x == _x0): y0 directly — also covers a target sitting on
    # the channel's last source sample, where no forward source exists
    # (the equal source orders before the target, outside w_fwd's frame).
    # Correct for every kind: distance 0 / left knot / own sample.
    exact = F.col("_x0") == F.col("_x")
    x0, y0, x1, y1 = (F.col(c) for c in ("_x0", "_y0", "_x1", "_y1"))
    combine = _combine_expr(kind, x0, y0, x1, y1, F.col("_x"))
    interp = (
        F.when(exact, y0).when(x1 == x0, y0).otherwise(combine)
    )
    out = u.withColumn("value", interp)
    if not bounds_null:
        out = out.filter(
            F.col("_x0").isNotNull() & (F.col("_x1").isNotNull() | exact)
        )
    return out.select("channel_id", F.col("_x").alias(axis), "value")


def interp1d_linear(
    df: DataFrame,
    grid: DataFrame,
    axis: str = "t",
    bounds_null: bool = False,
    chunk_rows: int | None | str = "auto",
) -> DataFrame:
    """Linear interpolation — ``interp1d_native(kind='linear')``."""
    return interp1d_native(
        df, grid, axis=axis, kind="linear", bounds_null=bounds_null,
        chunk_rows=chunk_rows,
    )


def interp1d_log(
    df: DataFrame,
    grid: DataFrame,
    axis: str = "freq",
    bounds_null: bool = False,
    chunk_rows: int | None | str = "auto",
) -> DataFrame:
    """Log-log linear interpolation (PSD specs), ``extension.py:201-230``.

    ``log10`` both axes -> linear as-of interp -> ``10**y``.
    ``bounds_null`` / ``chunk_rows`` forward to :func:`interp1d_linear`
    (a review finding: they were hardcoded, so out-of-span spec
    frequencies could only be silently dropped, never NULL-marked).
    Non-positive frequencies or powers have no log point: they become
    NULL ``_x``/``_y`` and behave as out-of-range — NULL-marked or
    dropped by the same knob.
    """
    logged = df.select(
        "channel_id", F.log10(F.col(axis)).alias(axis), F.log10("power").alias("value")
    )
    tgt = grid.select("channel_id", F.log10(F.col(axis)).alias(axis))
    out = interp1d_linear(
        logged, tgt, axis=axis, bounds_null=bounds_null, chunk_rows=chunk_rows
    )
    return out.select(
        "channel_id",
        F.pow(10.0, F.col(axis)).alias(axis),
        F.pow(10.0, F.col("value")).alias("power"),
    )


def _resample_pairs_chunked(df: DataFrame, chunk_rows: int) -> DataFrame:
    """Bracket-pair assembly for resample with bounded tasks: lead()
    per (channel, time-range chunk), the chunk's earliest-later source
    injected so the last real row of every chunk still sees its true
    global successor.  Emits the same (t, value, _x1, _y1, _t0, _t1)
    pair rows as the global plan, bit-for-bit."""
    L = int(chunk_rows)
    src = df.select("channel_id", "t", "value")
    geo = src.groupBy("channel_id").agg(
        F.min("t").alias("_t0"),
        F.max("t").alias("_t1"),
        F.count("*").alias("_n"),
    )
    nseg = F.greatest(F.ceil(F.col("_n") / L), F.lit(1)).cast("long")
    span = F.when(
        F.col("_t1") > F.col("_t0"), (F.col("_t1") - F.col("_t0")) / nseg
    ).otherwise(F.lit(1.0))
    seg = F.least(
        F.greatest(F.floor((F.col("t") - F.col("_t0")) / span).cast("long"), F.lit(0)),
        nseg - 1,
    )
    s2 = planner.join_channel(src, geo).select(
        "channel_id", "t", "value", "_t0", "_t1", seg.alias("_seg")
    )
    firsts = s2.groupBy("channel_id", "_seg").agg(
        F.min(F.struct("t", "value")).alias("_firsts")
    )
    w_next = (
        Window.partitionBy("channel_id")
        .orderBy(F.col("_seg").desc())
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    nxt = firsts.withColumn(
        "_nxt", F.last("_firsts", ignorenulls=True).over(w_next)
    ).filter(F.col("_nxt").isNotNull())
    inj = (
        planner.join_channel(nxt, geo.select("channel_id", "_t0", "_t1"))
        .select(
            "channel_id",
            F.col("_nxt.t").alias("t"),
            F.col("_nxt.value").alias("value"),
            "_t0",
            "_t1",
            "_seg",
        )
    )
    w2 = Window.partitionBy("channel_id", "_seg").orderBy("t")
    return (
        s2.unionByName(inj)
        .withColumn("_x1", F.lead("t").over(w2))
        .withColumn("_y1", F.lead("value").over(w2))
        # the injected successor orders last in its chunk (its t exceeds
        # every in-chunk t), so its own lead is null and this filter
        # removes it — it exists only to complete the chunk-tail pair
        .filter(F.col("_x1") > F.col("t"))
    )


def resample(
    df: DataFrame,
    sample_rate: float,
    kind: str = "linear",
    chunk_rows: int | None | str = "auto",
) -> DataFrame:
    """Uniform-grid resampling per channel.

    Reference ``timedomain.resample`` (``extension.py:853-894``): grid
    ``arange(t0, t_end, 1/rate)`` (end-exclusive), then interpolation.

    For the relational kinds this does NOT materialize the grid and as-of
    join it (that plan window-sorts ``n_src + n_grid`` rows — when
    upsampling, the grid dwarfs the source and dominates the sort).
    Instead: one ``lead()`` window over the *source only* pairs up the
    bracketing samples, then each pair emits its own grid points
    arithmetically (``sequence``/``explode`` — a projection, no sort, no
    second shuffle).  Grid membership ``x0 <= t_g < x1`` is decided by
    float comparison after generation, so knot assignment is bit-identical
    to the as-of-join plan; candidate index ranges are widened by ±1 to
    make the ceil() arithmetic immune to rounding.

    Spline kinds need whole-channel state and go to the kernel tier with a
    materialized grid, as before.

    ``chunk_rows="auto"``: above ``planner.HUGE_CHANNEL_ROWS`` the lead
    window runs per (channel, time-range chunk), with each chunk's
    earliest-later source injected from a tiny per-chunk boundary table
    (same technique as :func:`_chunk_assign`, forward side only) — the
    pairs, and therefore every emitted grid point, are bit-identical to
    the global plan while task size stays bounded.
    """
    dt = 1.0 / float(sample_rate)
    if kind.lower() not in NATIVE_INTERP_KINDS:
        bounds = df.groupBy("channel_id").agg(
            F.min("t").alias("_t0"), F.max("t").alias("_t1")
        )
        # n = ceil((t1 - t0)/dt) points, end-exclusive like np.arange (a
        # zero-length channel yields an empty grid, same as arange).
        n = F.ceil((F.col("_t1") - F.col("_t0")) / dt).cast("long")
        bounds = bounds.filter(F.col("_t1") > F.col("_t0"))
        grid = bounds.select(
            "channel_id",
            F.explode(F.sequence(F.lit(0), n - 1)).alias("_i"),
            F.col("_t0"),
        ).select("channel_id", (F.col("_t0") + F.col("_i") * dt).alias("t"))
        from pandas_sigproc_spark.operators.interp_spline import interp1d_spline

        return interp1d_spline(df, grid, kind=kind, chunk_rows=chunk_rows)

    kind = kind.lower()
    chunk_rows = planner.resolve_chunk_rows(df, chunk_rows)
    if chunk_rows is not None:
        d = _resample_pairs_chunked(df, int(chunk_rows))
    else:
        w = Window.partitionBy("channel_id").orderBy("t")
        wp = Window.partitionBy("channel_id")
        d = (
            df.select("channel_id", "t", "value")
            .withColumn("_x1", F.lead("t").over(w))
            .withColumn("_y1", F.lead("value").over(w))
            # min/max over the same partitioning: reuses the one shuffle.
            .withColumn("_t0", F.min("t").over(wp))
            .withColumn("_t1", F.max("t").over(wp))
            # Drop the final sample (no forward bracket) and zero-width
            # pairs (duplicate stamps — deduplicate upstream defines which
            # value an exact hit sees; here the last duplicate carries the
            # interval).
            .filter(F.col("_x1") > F.col("t"))
        )
    n = F.ceil((F.col("_t1") - F.col("_t0")) / dt).cast("long")
    # Candidate grid indices whose point t0 + i*dt could land in
    # [x0, x1): ceil((x - t0)/dt) bounds, widened ±1 against float
    # rounding, clamped to the channel's [0, n-1] arange range.  The
    # exact float comparison below makes the widening harmless.
    i_lo = F.greatest(
        F.ceil((F.col("t") - F.col("_t0")) / dt).cast("long") - 1, F.lit(0)
    )
    i_hi = F.least(
        F.ceil((F.col("_x1") - F.col("_t0")) / dt).cast("long") + 1, n - 1
    )
    d = (
        d.withColumn(
            "_i",
            F.explode(
                F.when(i_hi >= i_lo, F.sequence(i_lo, i_hi)).otherwise(
                    F.array().cast("array<long>")
                )
            ),
        )
        .withColumn("_tg", F.col("_t0") + F.col("_i") * dt)
        # Half-open interval; the t_g == _t1 clause keeps a final grid
        # point that float-rounds exactly onto the channel's last sample
        # (the as-of-join plan resolves that as an exact hit).  It must
        # be CONFINED TO THE FINAL PAIR (_x1 == _t1): the ±1-widened
        # candidate ranges let a NEAR-end pair generate that same index,
        # and without the conjunct it emitted a duplicate grid row whose
        # value was a beyond-x1 extrapolation (a review finding — e.g.
        # t accumulated by repeated +0.1 makes n*dt land exactly on the
        # last sample).
        .filter(
            (F.col("_tg") >= F.col("t"))
            & (
                (F.col("_tg") < F.col("_x1"))
                | (
                    (F.col("_tg") == F.col("_t1"))
                    & (F.col("_x1") == F.col("_t1"))
                )
            )
        )
    )
    x0, y0, x1, y1, tg = (
        F.col(c) for c in ("t", "value", "_x1", "_y1", "_tg")
    )
    combine = _combine_expr(kind, x0, y0, x1, y1, tg)
    # Exact hits take their own sample (as-of-join parity): tg == x0 for
    # interior knots; tg == x1 only passes the filter in the final pair
    # (the t_g == _t1 AND _x1 == _t1 clause), where the old plan also
    # returns y1 exactly.
    interp = F.when(tg == x0, y0).when(tg == x1, y1).otherwise(combine)
    return d.select(
        "channel_id", F.col("_tg").alias("t"), interp.alias("value")
    )
