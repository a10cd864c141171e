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
                 for any single task: overlap-save filtering, relational
                 Welch segmentation).

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
from pyspark.sql import DataFrame, functions as F

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
    ONE task (SKEW.md measures a 5M-row hot channel at ~50x its peers);
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
