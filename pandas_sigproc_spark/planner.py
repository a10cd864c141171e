"""Catalog-driven scale-path selection for the kernel-tier operators.

SURVEY.md §7.3.1 gives every whole-channel kernel three execution modes:

- per-channel  — one Arrow group per channel (few medium channels);
- bucketed     — hash channels into K buckets, one batched matrix kernel
                 per task slot (fleets of SMALL channels: amortizes Arrow
                 dispatch ~bucket-size times).
                 ``K = P * ceil(total_rows / (P * HUGE_CHANNEL_ROWS))``,
                 capped at the channel count, with P the default
                 parallelism; bucket ``b`` is placed on shuffle
                 partition ``b mod P`` by id (Spark >= 4.1
                 ``repartitionById``), so every task runs ``K / P``
                 groups.  Fewer, larger groups are cheaper: the batched
                 IIR and SRS recursions cost per sample per group,
                 nearly independent of the group's row count;
- segmented / chunked — split ONE channel across tasks (channels too big
                 for any single task: overlap-save filtering, Welch
                 segments, rainflow residues, as-of brackets).  Two
                 primitives cut a channel, neither sorting it whole:
                 :func:`chunked_src` by arithmetic sample index on a
                 uniform grid, with halos of any length
                 (:func:`chunk_apply` runs one body over its chunks),
                 and :func:`range_chunks` by equal time spans on any
                 grid, with the neighbouring sources injected.

Per-channel and bucketed are one body with two group keys
(:func:`group_apply`): each operator writes only the bucket body, and
per-channel execution runs it with one channel per group, so a channel's
output never depends on which of the two the planner picked.

Through round 3 these were opt-in kwargs, so a naive 100 TB user got the
one-task-per-channel plan by default.  This module makes the scale path
the DEFAULT: operators pass ``"auto"`` and the planner picks the mode
from per-channel row statistics.

Cost model for the stats: ONE count aggregation over the input (a
map-side partial agg + a tiny shuffle — far cheaper than the kernel pass
that follows, and cached by the plan's semantic hash so chained operators
over the same input reuse it).  A deployment that already knows its
channel geometry can pre-register stats from its channel catalog with
:func:`register_stats` and never pay the scan.
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window, functions as F

#: Above this many rows, one channel is too big to give a single task
#: (4M float64 samples = 32 MB of values plus kernel workspace): split it.
HUGE_CHANNEL_ROWS = 1 << 22
#: At or below this many rows a channel is "small": batching many per task
#: amortizes Arrow/FFT dispatch.  One bucket of ~64 such channels stays
#: well under the per-task target.
SMALL_CHANNEL_ROWS = 1 << 16

_STATS_CACHE: dict[int, "ChannelStats"] = {}


@dataclass(frozen=True)
class ChannelStats:
    n_channels: int
    max_rows: int
    total_rows: int


def register_stats(df: DataFrame, stats: ChannelStats) -> None:
    """Pre-register known channel geometry for an input (e.g. from a
    maintained channel catalog) so auto-selection never scans it."""
    _STATS_CACHE[df.semanticHash()] = stats


def invalidate_stats(df: DataFrame | None = None) -> None:
    """Drop cached stats for ``df`` (or all of them) — call after the
    files behind a logically-identical plan change (appended partitions):
    the cache is keyed on the PLAN (``semanticHash``), not on file
    state, so refreshed inputs would otherwise serve stale geometry."""
    if df is None:
        _STATS_CACHE.clear()
    else:
        _STATS_CACHE.pop(df.semanticHash(), None)


def get_stats(df: DataFrame) -> ChannelStats:
    """Per-channel row statistics for ``df``.

    NOTE: an ``"auto"``-mode operator constructor calling this runs one
    EAGER Spark count job at plan-BUILD time (cached per plan semantic
    hash).  Callers that build plans they never execute, or that know
    their channel geometry, should pass explicit mode kwargs or
    pre-register with :func:`register_stats`; refreshed inputs need
    :func:`invalidate_stats`."""
    key = df.semanticHash()
    hit = _STATS_CACHE.get(key)
    if hit is not None:
        return hit
    row = (
        df.groupBy("channel_id")
        .agg(F.count("*").alias("n"))
        .agg(
            F.count("*").alias("n_channels"),
            F.max("n").alias("max_rows"),
            F.sum("n").alias("total_rows"),
        )
        .first()
    )
    stats = ChannelStats(
        n_channels=int(row["n_channels"] or 0),
        max_rows=int(row["max_rows"] or 0),
        total_rows=int(row["total_rows"] or 0),
    )
    if len(_STATS_CACHE) > 256:
        _STATS_CACHE.clear()
    _STATS_CACHE[key] = stats
    return stats


def group_apply(src: DataFrame, body, schema, n_buckets: int | None) -> DataFrame:
    """Run ``body(pdf) -> pdf`` over the channel groups of ``src`` — the
    one per-channel / bucketed fork of the channel operators
    (filters/psd/srs/rainflow/custom/fused/mov_rms).

    ``n_buckets=None`` keys by ``channel_id`` (one channel per group,
    hash-placed on the shuffle partitions);
    ``n_buckets=K`` keys by ``b = pmod(hash(channel_id), K)``.  ``body``
    always sees the source columns only, so it is written once, for a
    group of any number of channels.  ``pmod``, not ``abs(hash) % K``:
    ``F.hash`` is 32-bit and ``abs(Integer.MIN_VALUE)`` stays negative.

    Buckets are placed by id, not hashed a second time: one
    ``repartitionById(min(K, P), "_b")`` exchange (Spark >= 4.1) puts
    bucket ``b`` on partition ``b mod P``, ``P`` the default parallelism,
    and its partitioning satisfies the ``groupBy("_b")`` clustering, so
    the grouping adds no exchange of its own.  Each task then runs
    ``floor(K / P)`` or ``ceil(K / P)`` groups, where hashing the bucket
    ids again would put 16 buckets on 4 tasks as 3/3/4/6, and ids 0..3
    on two of them.  AQE does not coalesce this exchange, so its
    ``minPartitionSize`` floor (``session.get_spark``) does not apply.
    """
    if n_buckets is None:
        return src.groupBy("channel_id").applyInPandas(body, schema)
    k = int(n_buckets)
    slots = src.sparkSession.sparkContext.defaultParallelism
    keyed = src.withColumn("_b", F.pmod(F.hash("channel_id"), F.lit(k)))
    return (
        keyed.repartitionById(min(k, slots), "_b")
        .groupBy("_b")
        .applyInPandas(lambda pdf: body(pdf.drop(columns=["_b"])), schema)
    )


#: The chunked plans' grid-guard message, around the channel id.
_GRID_MSG = (
    "chunked plan: non-consecutive sample index in channel ",
    " (duplicate timestamps, a non-uniform grid or a rate other than the "
    "declared samplerate); chunked execution requires a uniform "
    "strictly-increasing time base — pass chunk_rows=None",
)


def channel_geometry(df: DataFrame) -> DataFrame:
    """One row per channel: ``_t0``/``_t1`` (MIN/MAX of ``t``) and
    ``_n`` (row count) — the aggregate every chunked plan indexes off."""
    return df.groupBy("channel_id").agg(
        F.min("t").alias("_t0"), F.max("t").alias("_t1"), F.count("*").alias("_n")
    )


def join_channel(df: DataFrame, small: DataFrame, keys=("channel_id",)) -> DataFrame:
    """``df`` inner-joined to the broadcast per-channel table ``small`` on
    ``keys``, NULL-safely: ``groupBy`` keeps the NULL-id channel as a
    group of its own, and a plain equi-join would drop its rows again,
    so every per-channel aggregate joins back through here."""
    renamed = {k: f"_k_{k}" for k in keys}
    cond = [F.col(k).eqNullSafe(F.col(r)) for k, r in renamed.items()]
    return df.join(
        F.broadcast(small.withColumnsRenamed(renamed)), cond
    ).drop(*renamed.values())


def grid_position(t, samplerate: float | None = None):
    """``t``'s unrounded position on its channel's grid, over the columns
    of :func:`channel_geometry`: ``(t - _t0) * sr`` with the declared
    rate, else the inferred ``(_n - 1) / (_t1 - _t0)`` (exact on the
    uniform grids the chunked plans require; each channel its own).  A
    1-row channel sits at 0; a multi-row channel with zero time span
    raises — its index would be NULL and every filter on it would drop
    the channel.  The span division stays behind the lazy CaseWhen
    branch: ANSI Spark throws DIVIDE_BY_ZERO eagerly otherwise."""
    sr = (
        F.lit(float(samplerate))
        if samplerate is not None
        else (F.col("_n") - 1) / (F.col("_t1") - F.col("_t0"))
    )
    zero_span = F.concat(
        F.lit("channel "),
        F.col("channel_id"),
        F.lit(
            " has multiple rows with zero time span (all timestamps equal)"
            " — no sample grid exists"
        ),
    )
    return (
        F.when(F.col("_n") <= 1, F.lit(0.0))
        .when(F.col("_t1") == F.col("_t0"), F.raise_error(zero_span).cast("double"))
        .otherwise((t - F.col("_t0")) * sr)
    )


def resolve_chunk_rows(
    df: DataFrame, chunk_rows, *, overlap: int = 0, tiebreak_col=None
):
    """Resolve a chunked operator's ``"auto"`` scale mode from channel
    statistics: huge channels chunk, everything else keeps the
    whole-channel plan.  Explicit ints/None always win; an int must
    exceed the operator's halo ``overlap``, the rows each chunk borrows
    from its neighbours.

    Two auto-mode adjustments keep ``"auto"`` from ever failing a call
    that the whole-channel plan accepts:

    - ``tiebreak_col`` set → stay on the whole-channel plan (the chunked
      path's arithmetic sample index cannot disambiguate duplicate
      timestamps; an explicit ``chunk_rows`` int with a tiebreak raises
      instead of silently dropping the tiebreak);
    - warm-up ``overlap`` at or above the planner's chunk size (a very
      long mov_rms window) → grow the chunk to ``4 * overlap``: every
      task then holds ≤ 5×overlap rows — still bounded, because no
      chunking scheme can bound a trailing-window task below the window
      length itself.
    """
    if chunk_rows == "auto":
        resolved = auto_window_mode(df)
        if tiebreak_col is not None:
            # The degradation is deliberate (see docstring) but must not
            # be SILENT: above the huge-channel threshold the caller
            # loses exactly the single-task-window protection auto mode
            # exists for, so say so once per call site.
            if resolved is not None:
                import warnings

                warnings.warn(
                    "chunk_rows='auto' detected a huge channel but "
                    "tiebreak_col forces the single-task whole-channel "
                    "window (the chunked path's arithmetic sample "
                    "index cannot disambiguate duplicate timestamps). "
                    "Deduplicate the time base (deduplicate()) or drop "
                    "tiebreak_col to regain bounded-task chunking.",
                    stacklevel=3,
                )
            return None
        if resolved is not None and overlap >= resolved:
            resolved = 4 * overlap
        return resolved
    if chunk_rows is not None and tiebreak_col is not None:
        raise ValueError(
            "chunked window ops cannot honor tiebreak_col: the arithmetic "
            "sample index requires unique uniform timestamps — pass "
            "chunk_rows=None for the whole-channel plan"
        )
    if chunk_rows is not None and overlap >= int(chunk_rows):
        raise ValueError(
            f"chunk_rows={chunk_rows} must exceed the overlap ({overlap}); "
            "pick a larger chunk or a smaller overlap"
        )
    return chunk_rows


def chunked_src(
    df: DataFrame,
    chunk_rows: int,
    back: int,
    fwd: int,
    samplerate: float | None = None,
    geo: DataFrame | None = None,
) -> DataFrame:
    """Explode ``df`` into halo'd ``(channel_id, _seg)`` chunks of a
    uniform grid — the planner's cut by sample index (SURVEY.md §7.3.1;
    :func:`range_chunks` is its cut by time span).

    Adds ``_i`` (the arithmetic sample index ``round(grid_position)``,
    off one broadcast :func:`channel_geometry` aggregate: sort-free, so
    no stage ever holds a whole channel), ``_n`` (the channel's row
    count), ``_seg`` (chunk ``_i // chunk_rows`` plus the halo
    memberships) and ``_core`` (the row is the chunk's own, not a halo
    copy).  With ``L = chunk_rows``, chunk ``s`` holds the rows ``_i``
    in ``[s * L - back, (s + 1) * L + fwd)``: its core, the ``back`` rows
    before it (trailing windows, lag, causal warm-up) and the ``fwd``
    rows after it (lead, a backward pass, a Welch segment's overlap).
    A halo may outrun a chunk, so a row can join several; only chunks
    with core rows exist, so no chunk is all halo.  ``geo``
    lets a caller that routes other rows by the same aggregate pass it
    in (exchange reuse across differently-shaped parents is not
    guaranteed).
    """
    L = int(chunk_rows)
    if geo is None:
        geo = channel_geometry(df)
    src = join_channel(df, geo).withColumn(
        "_i", F.floor(grid_position(F.col("t"), samplerate) + 0.5).cast("long")
    )
    i, seg = F.col("_i"), (F.col("_i") / L).cast("long")
    last = ((F.col("_n") - 1) / L).cast("long")
    lo = F.greatest(F.floor((i - fwd) / L), F.lit(0))
    # its own chunk always, even past the last one on a grid the declared
    # rate mis-states: the grid check then names the channel
    hi = F.greatest(F.least(F.floor((i + back) / L), last), seg)
    # explode_outer: a row with a NULL t keeps one row, in the NULL chunk
    return (
        src.withColumn("_seg", F.explode_outer(F.sequence(lo, hi)))
        .withColumn("_core", seg == F.col("_seg"))
        .drop("_t0", "_t1")
    )


def sorted_chunk(pdf: pd.DataFrame) -> pd.DataFrame:
    """A chunk group sorted by ``_i``; raises the grid message on a gap
    or a duplicate (timestamp jitter, a non-uniform grid, a rate other
    than the declared one) instead of silently mis-framing."""
    pdf = pdf.sort_values("_i")
    if (np.diff(pdf["_i"].to_numpy()) != 1).any():
        raise ValueError(f"{_GRID_MSG[0]}{pdf['channel_id'].iloc[0]}{_GRID_MSG[1]}")
    return pdf


def grid_guard(wseg, col):
    """:func:`sorted_chunk`'s check inside a native window plan over the
    chunks (``wseg`` ordered by ``_i``): ``col``, or a task error where
    ``_i`` does not step by one."""
    gap = F.col("_i") - F.lag("_i").over(wseg)
    msg = F.concat(F.lit(_GRID_MSG[0]), F.col("channel_id"), F.lit(_GRID_MSG[1]))
    bad = gap.isNotNull() & (gap != 1)
    return F.when(bad, F.raise_error(msg).cast("double")).otherwise(col)


def chunk_apply(
    df: DataFrame,
    body,
    schema,
    chunk_rows: int,
    back: int,
    fwd: int,
    samplerate: float | None = None,
) -> DataFrame:
    """Run ``body(pdf, core) -> pdf`` over the halo'd chunks of
    :func:`chunked_src` — the chunked counterpart of :func:`group_apply`
    for channels too big for one task.  Each ``(channel_id, _seg)``
    group reaches ``body`` sorted by ``_i`` and grid-checked
    (:func:`sorted_chunk`), with ``core`` the boolean mask of its own
    rows; the body emits what it computes for those.  No group holds
    more than ``chunk_rows + back + fwd`` rows."""

    def run(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = sorted_chunk(pdf)
        return body(pdf, pdf["_core"].to_numpy())

    src = chunked_src(df, chunk_rows, back, fwd, samplerate)
    return src.groupBy("channel_id", "_seg").applyInPandas(run, schema)


def range_chunks(
    df: DataFrame,
    chunk_rows: int,
    x: str = "t",
    back: bool = False,
    fwd: bool = False,
    carry: tuple = ("value",),
    src: str | None = None,
) -> DataFrame:
    """Cut each channel of ``df`` into ``ceil(_n / chunk_rows)`` equal
    spans of ``x`` — the planner's cut by time span, for grids of any
    spacing (:func:`chunked_src` is its cut by sample index).

    Adds ``_t0``/``_t1`` (the span of the channel's source rows), ``_n``
    (its row count) and ``_seg`` (the row's span, clamped into the
    channel's ``nseg`` spans; rows that tie on ``x`` share one, and a
    channel without a span puts every row in span 0), off one per-channel
    aggregate joined back through :func:`join_channel`.  ``src`` names a
    0/1 column marking source rows; rows marked 0 (interpolation targets)
    count toward ``_n`` but not toward the span.  ``None`` makes every
    row a source.  Chunks balance rows where the density is even.

    ``back`` adds to every chunk a copy of the latest source row before
    it and ``fwd`` one of the earliest source row after it, carried
    across chunks with no sources, so a chunk's as-of brackets and
    ``lead``/``lag`` pairs equal the whole channel's.  A copy holds
    ``channel_id``, ``x``, ``carry``, ``src`` (1) and ``_seg``, its other
    columns NULL; sources that tie on ``x`` give the max/min of
    ``(x, *carry)``.
    """
    L = int(chunk_rows)
    is_src = F.lit(True) if src is None else F.col(src) == 1
    geo = df.groupBy("channel_id").agg(
        F.min(F.when(is_src, F.col(x))).alias("_t0"),
        F.max(F.when(is_src, F.col(x))).alias("_t1"),
        F.count("*").alias("_n"),
    )
    nseg = F.greatest(F.ceil(F.col("_n") / L), F.lit(1)).cast("long")
    span = F.when(
        F.col("_t1") > F.col("_t0"), (F.col("_t1") - F.col("_t0")) / nseg
    ).otherwise(F.lit(1.0))
    raw_seg = F.floor((F.col(x) - F.col("_t0")) / span).cast("long")
    seg = F.coalesce(F.least(F.greatest(raw_seg, F.lit(0)), nseg - 1), F.lit(0))
    out = join_channel(df, geo).withColumn("_seg", seg)
    row = F.struct(x, *carry)
    ends = out.groupBy("channel_id", "_seg").agg(
        F.max(F.when(is_src, row)).alias("_last"),
        F.min(F.when(is_src, row)).alias("_first"),
    )
    marker = [F.lit(1).alias(src)] if src else []
    # both sides as running frames (one ascending, one descending): an
    # unbounded-following frame re-aggregates to the partition end per row
    for on, end, order in ((back, "_last", "_seg"), (fwd, "_first", F.desc("_seg"))):
        if not on:
            continue
        w = (
            Window.partitionBy("channel_id")
            .orderBy(order)
            .rowsBetween(Window.unboundedPreceding, -1)
        )
        near = ends.select(
            "channel_id", "_seg", F.last(end, ignorenulls=True).over(w).alias("_m")
        ).filter(F.col("_m").isNotNull())
        copies = near.select(
            "channel_id",
            *(F.col(f"_m.{c}").alias(c) for c in (x, *carry)),
            *marker,
            "_seg",
        )
        out = out.unionByName(copies, allowMissingColumns=True)
    return out


def channel_codes(ids: np.ndarray) -> tuple[np.ndarray, list]:
    """``(codes, cids)``: a dense code per row of a group's
    ``channel_id`` column and the channel id of each code.  A group of
    one channel (every group under the ``channel_id`` key) skips the
    string factorize; a null ``channel_id`` is a channel of its own, as
    under the ``channel_id`` group key."""
    if len(ids) and ids[0] == ids[-1] and (ids == ids[0]).all():
        return np.zeros(len(ids), dtype=np.intp), [ids[0]]
    codes, cids = pd.factorize(ids)
    cids = list(cids)
    if len(codes) and codes.min() < 0:
        codes = np.where(codes < 0, len(cids), codes)
        cids.append(None)
    return codes, cids


def channel_arrays(pdf: pd.DataFrame) -> list:
    """Split a group frame into ``(channel_id, t, value)`` arrays, one
    triple per channel, each sorted by ``t`` — the first step of the
    PSD, SRS and fused :func:`group_apply` bodies (the fused body runs
    the standalone filters too).

    NumPy argsorts instead of a ``(channel_id, t)`` frame sort: the
    frame sort factorizes the string column inside a lexsort and cost a
    one-channel group of 100,000 rows ~5x the ``t``-only sort of a
    per-channel body.  Two cheaper cases are taken first, so a
    per-channel group costs no more than that ``t``-only sort: a group
    of one channel (every group under the ``channel_id`` key) skips the
    string factorize, and rows already in ``(channel, t)`` order — the
    usual arrival, one time-ordered run per channel — skip the sorts.
    A null ``channel_id`` is a channel of its own, as under the
    ``channel_id`` group key.
    """
    t = pdf["t"].to_numpy(dtype=np.float64)
    y = pdf["value"].to_numpy(dtype=np.float64)
    codes, cids = channel_codes(pdf["channel_id"].to_numpy())
    dc, dt = np.diff(codes), np.diff(t)
    if ((dc > 0) | ((dc == 0) & (dt >= 0))).all():
        order = np.arange(len(t))
    else:
        by_t = np.argsort(t)
        order = by_t[np.argsort(codes[by_t], kind="stable")]
    cuts = np.cumsum(np.bincount(codes, minlength=len(cids)))[:-1]
    return [(cid, t[i], y[i]) for cid, i in zip(cids, np.split(order, cuts))]


def _infer_sr(t: np.ndarray) -> float:
    """A channel's samplerate from its sorted time base, the rate rule of
    the filter designs and the inferred-rate PSD.  Refuses fewer than 2
    samples, non-increasing ``t`` and a non-uniform grid (SURVEY.md
    §7.3.3); a rate within 0.01 of an integer >= 1 snaps to it."""
    dt = np.diff(t)
    if len(dt) == 0 or dt.min() <= 0:
        raise ValueError("cannot infer samplerate from <2 samples or non-increasing t")
    spread = (dt.max() - dt.min()) / dt.mean()
    if spread > 1e-4:
        raise ValueError(
            "non-uniform channel: filters require a uniform samplerate "
            "(SURVEY.md §7.3.3)"
        )
    sr = 1.0 / dt.mean()
    return float(round(sr)) if abs(sr - round(sr)) < 0.01 and sr >= 1 else sr


def _fleet_buckets(df: DataFrame, s: ChannelStats) -> int | None:
    """Bucket count for a fleet of small channels, else None (per-channel).

    One group per task slot, ``P = defaultParallelism``, and a multiple
    of ``P`` more when a group would pass HUGE_CHANNEL_ROWS rows — the
    per-task bound a single channel gets — capped at one channel per
    group (why fewer groups: the module docstring).
    """
    if s.max_rows <= SMALL_CHANNEL_ROWS and s.n_channels > 1:
        slots = df.sparkSession.sparkContext.defaultParallelism
        per_slot = -(-s.total_rows // (slots * HUGE_CHANNEL_ROWS))
        return min(slots * per_slot, s.n_channels)
    return None


def auto_filter_mode(df: DataFrame, samplerate: float | None):
    """(n_buckets, chunk_rows) for the IIR filter operators.

    Huge channels -> overlap-save chunking (needs an explicit samplerate
    for driver-side design; without one the per-channel plan stands and
    the kernel's own FFT path keeps the task O(n log n)).  Small-channel
    fleets -> bucketed batch kernels.  Else per-channel.
    """
    s = get_stats(df)
    if s.max_rows > HUGE_CHANNEL_ROWS and samplerate is not None:
        return None, HUGE_CHANNEL_ROWS // 4
    return _fleet_buckets(df, s), None


def auto_rainflow_mode(df: DataFrame):
    """(n_buckets, chunk_rows) for rainflow: a channel above the per-task
    bound takes the segmented residue-merge plan, small-channel fleets
    bucket, else per-channel."""
    s = get_stats(df)
    if s.max_rows > HUGE_CHANNEL_ROWS:
        return None, HUGE_CHANNEL_ROWS // 4
    return _fleet_buckets(df, s), None


def auto_psd_mode(df: DataFrame, samplerate: float | None, window_length):
    """(n_buckets, segmented) for get_psd."""
    s = get_stats(df)
    if (
        s.max_rows > HUGE_CHANNEL_ROWS
        and samplerate is not None
        and window_length is not None
    ):
        return None, True
    return _fleet_buckets(df, s), False


def auto_window_mode(df: DataFrame):
    """chunk_rows for the ordered-window operators (mov_rms / integral /
    derivative), or None for the whole-channel plan (a window per
    channel; for mov_rms a kernel group per channel or fleet bucket).  A
    channel above HUGE_CHANNEL_ROWS would otherwise pass whole through
    ONE task (a 5M-row hot channel measured ~50x its peers);
    the overlap-chunked plan bounds every task at chunk_rows + overlap
    rows."""
    s = get_stats(df)
    if s.max_rows > HUGE_CHANNEL_ROWS:
        return HUGE_CHANNEL_ROWS // 4
    return None


def auto_srs_mode(df: DataFrame):
    """(n_buckets, 1) for get_srs: small-channel fleets bucket, else one
    group per channel, a huge channel included — a frequency slice of it
    would still walk every sample.  The second value, the slice count,
    is always 1; the pair stays for callers that unpack it."""
    return _fleet_buckets(df, get_stats(df)), 1
