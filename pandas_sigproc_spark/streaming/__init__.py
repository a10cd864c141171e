"""Structured Streaming surface (SURVEY.md §2.9 — the reference is
batch-only; this tier is the engine's streaming extension).

Streamable operators (aggregations over event-time windows):

- :func:`streaming_rms` / :func:`streaming_spl` — tumbling-window RMS /
  sound-pressure-level per channel with a watermark for late data.
- :func:`streaming_mov_rms` — sliding-window RMS (the streaming analogue
  of ``timedomain.mov_rms``, extension.py:664-700).
- :func:`streaming_lfilter` — CAUSAL IIR filtering as a stateful
  operator: the filter's delay line (the z^-1 registers) is the state
  carried across micro-batches per channel via ``applyInPandasWithState``.
  This is exactly the reference's ``filt_a`` / ``lfilter`` semantics
  (extension.py:541-567) applied to an unbounded stream.
- :func:`streaming_incremental_dedup` — ingestion dedup over an
  unbounded document stream: stream-static band-key probes against a
  static corpus plus one ``applyInPandasWithState`` op for
  stream-vs-earlier-stream duplicates (state keyed by LSH band key).
- :func:`streaming_phash_dedup` — the media twin: an unbounded IMAGE
  stream screened against a static pHash store (stream-static exact
  banded Hamming probes) plus the same one-stateful-op
  stream-vs-earlier-stream compare, state keyed by Hamming bit-band.
- :func:`streaming_domain_cap` — stateful URL-level curation: the
  first-N-per-host admission cap over an unbounded crawl stream, one
  long of state per distinct host.

NOT streamable (documented, not worked around): zero-phase ``filtfilt``
ops need future samples; whole-signal PSD/SRS/rainflow need the entire
channel.  Those remain batch (SURVEY.md §2.9).

All functions accept either a streaming or a batch DataFrame — the plans
are identical, which is how the equivalence tests pin stream == batch.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F
from pyspark.sql.types import (
    ArrayType,
    BooleanType,
    DoubleType,
    IntegerType,
    LongType,
    StructField,
    StructType,
    StringType,
)


def _with_event_time(df: DataFrame, time_col: str = "t") -> DataFrame:
    """signals(t DOUBLE seconds) -> event-time TIMESTAMP column ``ets``."""
    return df.withColumn("ets", F.timestamp_seconds(F.col(time_col)))


def streaming_rms(
    df: DataFrame,
    window_sec: float,
    watermark_sec: float = 0.0,
    time_col: str = "t",
) -> DataFrame:
    """Per-channel tumbling-window RMS over event time.

    Late rows beyond the watermark are dropped by Spark's state cleanup —
    the knob the batch reference never needed (its files were complete).

    A tumbling window is the ``slide == width`` special case of the
    sliding form, so this delegates to :func:`streaming_mov_rms` (one
    body to maintain — a review finding: the two hand-kept copies
    differed only in the slide argument).
    """
    return streaming_mov_rms(
        df, window_sec, window_sec, watermark_sec, time_col
    )


def streaming_spl(
    df: DataFrame,
    window_sec: float,
    p_ref: float = 20e-6,
    watermark_sec: float = 0.0,
    time_col: str = "t",
) -> DataFrame:
    """Tumbling-window SPL: ``20*log10(rms/p_ref)`` (tools.py:204-224)."""
    out = streaming_rms(df, window_sec, watermark_sec, time_col)
    return out.select(
        "channel_id",
        "t0",
        "t1",
        (20.0 * F.log10(F.col("rms") / F.lit(p_ref))).alias("spl"),
    )


def streaming_mov_rms(
    df: DataFrame,
    window_sec: float,
    slide_sec: float,
    watermark_sec: float = 0.0,
    time_col: str = "t",
) -> DataFrame:
    """Sliding-window RMS — streaming analogue of ``mov_rms``.

    The batch op is sample-count-based (n trailing rows); unbounded streams
    have no global row order, so the streaming semantic is time-based
    sliding windows — the standard Structured Streaming translation.
    """
    src = _with_event_time(df, time_col)
    if df.isStreaming:
        src = src.withWatermark("ets", f"{watermark_sec} seconds")
    win = F.window("ets", f"{window_sec} seconds", f"{slide_sec} seconds")
    return (
        src.groupBy(F.col("channel_id"), win.alias("w"))
        .agg(F.sqrt(F.avg(F.col("value") * F.col("value"))).alias("rms"))
        .select(
            "channel_id",
            F.col("w.start").cast("double").alias("t0"),
            F.col("w.end").cast("double").alias("t1"),
            "rms",
        )
    )


_LFILTER_OUT_SCHEMA = StructType(
    [
        StructField("channel_id", StringType()),
        StructField("t", DoubleType()),
        StructField("value", DoubleType()),
    ]
)


def _check_batch_bound(n_rows: int, max_batch_rows: int | None, op: str) -> None:
    """Enforce the documented per-(channel, micro-batch) memory contract.

    The stateful ops hold one state group's micro-batch in task memory
    (see :func:`_channel_runs`); the SIZE of each channel's share is
    controlled upstream (trigger interval, maxFilesPerTrigger /
    maxOffsetsPerTrigger).  When the caller declares the per-channel
    bound they sized those knobs for, exceeding it fails LOUDLY with the
    tuning guidance instead of silently ballooning an executor toward
    OOM.
    """
    if max_batch_rows is not None and n_rows > max_batch_rows:
        raise ValueError(
            f"{op}: one channel received {n_rows} rows in a single "
            f"micro-batch, above the declared max_batch_rows="
            f"{max_batch_rows}. Bound the batch upstream — shorten the "
            "processing-time trigger, or set maxFilesPerTrigger / "
            "maxBytesPerTrigger (file sources) / maxOffsetsPerTrigger "
            "(Kafka/rate) — so rate x interval stays under the bound."
        )


def _drain_bounded(pdf_iter, max_batch_rows: int | None, op: str) -> list:
    """Drain the Arrow chunk iterator, enforcing the bound INCREMENTALLY:
    the guard fires on the first chunk that crosses the limit — before
    ``pd.concat`` would have doubled the oversized batch's footprint in
    task memory (the allocation spike the contract exists to prevent)."""
    chunks, n = [], 0
    for pdf in pdf_iter:
        n += len(pdf)
        _check_batch_bound(n, max_batch_rows, op)
        chunks.append(pdf)
    return chunks


def _channel_runs(pdf_iter, order_cols, max_batch_rows: int | None, op: str):
    """Drain one state group's Arrow chunks into per-channel runs.

    Returns ``(cids, offs, t, value)``: rows ``offs[i]:offs[i + 1]`` of
    the ``t`` and ``value`` arrays are channel ``cids[i]``'s micro-batch,
    in ``order_cols`` order.  Chunks arrive in arbitrary relative order
    after the shuffle, and threading state through a mis-ordered series
    would corrupt it, so the columns are concatenated and sorted ONCE
    with a stable ``np.lexsort`` over (channel, *order_cols): channels
    come out contiguous in ascending id order, tied rows keep their
    arrival order (the mergesort order of a pandas ``sort_values``).
    A NULL ``channel_id`` is a channel of its own, as under per-channel
    keying.

    ``max_batch_rows`` is a per-channel bound counted chunk by chunk:
    the chunk that pushes any one channel over it raises before the
    next chunk is drained or anything is concatenated.
    """
    chunks, seen = [], {}
    for pdf in pdf_iter:
        if max_batch_rows is not None:
            for cid, n in pdf["channel_id"].value_counts(dropna=False).items():
                seen[cid] = seen.get(cid, 0) + n
                _check_batch_bound(seen[cid], max_batch_rows, op)
        chunks.append(pdf)
    if not chunks:
        return [], np.zeros(1, np.int64), np.empty(0), np.empty(0)
    cols = {
        c: np.concatenate([pdf[c].to_numpy() for pdf in chunks])
        for c in dict.fromkeys(("channel_id", "t", "value", *order_cols))
    }
    codes, uniq = pd.factorize(
        cols["channel_id"], sort=True, use_na_sentinel=False
    )
    order = np.lexsort([cols[c] for c in reversed(order_cols)] + [codes])
    offs = np.zeros(len(uniq) + 1, np.int64)
    np.cumsum(np.bincount(codes, minlength=len(uniq)), out=offs[1:])
    cids = [None if pd.isna(c) else c for c in uniq]
    return (
        cids,
        offs,
        cols["t"].astype(np.float64)[order],
        cols["value"].astype(np.float64)[order],
    )


def _bucket_key(n_buckets: int):
    """Deterministic channel -> bucket key for bucket-level state ops.

    ``pmod(xxhash64(channel_id), n)`` — stable across micro-batches and
    restarts (xxhash64 is seed-pinned), never derived from rand()
    (guide §2.5: retried tasks must reproduce the assignment)."""
    return F.pmod(F.xxhash64(F.col("channel_id")), F.lit(int(n_buckets)))


def _channel_state_op(
    df: DataFrame,
    kernel,
    out_schema: StructType,
    state_name: str,
    order_cols: tuple[str, ...],
    max_batch_rows: int | None,
    channel_buckets: int | None,
    op: str,
) -> DataFrame:
    """One stateful per-channel fold, keyed by channel or by channel bucket.

    ``kernel(st, cids, offs, t, value)`` gets a group's sorted channel
    runs (:func:`_channel_runs`) and ``st``, the carried state of each
    channel (a list of doubles; absent for a new channel).  It folds
    every run into ``st`` in place and returns, per output column after
    ``channel_id``, one array per channel.

    The state op emits ONE packed row per channel (``channel_id`` plus
    array columns) and a native ``inline(arrays_zip(...))`` restores
    ``out_schema``: per-sample rows never cross the Python boundary,
    where PySpark pads the state columns to the output row count.

    Keying: per channel (state ``{state_name}`` per key), or with
    ``channel_buckets=n`` by ``pmod(xxhash64(channel_id), n)`` with a
    dict of per-channel states per group plus ``n_buckets`` — the bucket
    is part of the state key, so a restart with another ``n`` raises
    instead of remapping every channel.  A batch DataFrame runs the same
    kernel once per channel from empty state.
    """
    vals = out_schema.names[1:]
    packed = StructType(
        [StructField("channel_id", StringType())]
        + [StructField(c, ArrayType(DoubleType())) for c in vals]
    )

    def fold(st, pdf_iter, tag):
        cids, offs, t, value = _channel_runs(
            pdf_iter, order_cols, max_batch_rows, tag
        )
        outs = kernel(st, cids, offs, t, value)
        return pd.DataFrame({"channel_id": cids, **dict(zip(vals, outs))})

    def saved(v) -> list:
        return np.asarray(v, np.float64).tolist()

    if not df.isStreaming:
        out = df.groupBy("channel_id").applyInPandas(
            lambda pdf: fold({}, [pdf], f"{op}[batch]"), packed
        )
    elif channel_buckets is None:

        def step(key, pdf_iter, state):
            (cid,) = key
            st = {cid: state.get[0]} if state.exists else {}
            out = fold(st, pdf_iter, op)
            if cid in st:
                state.update((saved(st[cid]),))
            yield out

        out = df.groupBy("channel_id").applyInPandasWithState(
            step,
            outputStructType=packed,
            stateStructType=StructType(
                [StructField(state_name, ArrayType(DoubleType()))]
            ),
            outputMode="append",
            timeoutConf="NoTimeout",
        )
    else:
        n_buckets = int(channel_buckets)
        if n_buckets < 1:
            raise ValueError("need channel_buckets >= 1")

        def step(key, pdf_iter, state):
            st = {}
            if state.exists:
                chans, states, n_saved = state.get
                if n_saved != n_buckets:
                    raise ValueError(
                        f"{op}: the checkpoint's state was written with "
                        f"channel_buckets={n_saved}, but this query runs "
                        f"with channel_buckets={n_buckets}. The bucket is "
                        "part of the state key, so a different count "
                        "would remap every channel away from its carried "
                        f"state; restart with channel_buckets={n_saved} "
                        "or from a fresh checkpoint."
                    )
                st = dict(zip(chans, states))
            out = fold(st, pdf_iter, op)
            state.update(
                (list(st), [saved(v) for v in st.values()], n_buckets)
            )
            yield out

        out = (
            df.withColumn("_bkt", _bucket_key(n_buckets))
            .groupBy("_bkt")
            .applyInPandasWithState(
                step,
                outputStructType=packed,
                stateStructType=StructType(
                    [
                        StructField("channels", ArrayType(StringType())),
                        StructField(
                            f"{state_name}s", ArrayType(ArrayType(DoubleType()))
                        ),
                        StructField("n_buckets", IntegerType()),
                    ]
                ),
                outputMode="append",
                timeoutConf="NoTimeout",
            )
        )
    return out.select("channel_id", F.inline(F.arrays_zip(*vals)))


def streaming_lfilter(
    df: DataFrame, b, a, order_cols: tuple[str, ...] = ("t",),
    max_batch_rows: int | None = None,
    channel_buckets: int | None = None,
) -> DataFrame:
    """Causal IIR filter over a stream: per-channel delay-line state.

    Each micro-batch filters its rows (sorted by t) starting from the
    saved final state of the previous batch, then persists the new final
    state — bit-identical to filtering the concatenated stream in one
    shot (asserted in tests/test_streaming.py).  Requires rows to arrive
    time-ordered across micro-batches per channel (true for replayed
    logs and file sources; out-of-order data needs a watermark+sort
    stage first).  Within a batch all Arrow chunks are concatenated and
    sorted by ``order_cols`` (pass ``("t", "seq")`` for tie-broken
    ordering when timestamps can repeat).

    State size is ``max(len(a), len(b)) - 1`` doubles per channel — a
    6th-order filter on a million channels is ~48 MB of state total,
    trivially scalable in the state store.

    Shape: the state op returns ONE packed row per channel
    (``channel_id``, ``t`` and ``value`` arrays) and a native
    ``inline(arrays_zip)`` expands it to the public
    ``(channel_id, t, value)`` rows, so the Python boundary carries one
    row per channel, not one per sample (see :func:`_channel_state_op`).
    Inside a group the channels are split with one stable ``lexsort``
    and filtered by ONE ``kernels.iir_batch.lfilter_batch_ragged`` call
    seeded with each channel's delay line: runs at or below the
    exact-recursion cutover share one DF2T recursion (bit-identical per
    row to the 1-D loop), longer runs take the 1-D ``lfilter``'s FFT
    path — the numerics stay a function of each channel's own run
    length, never of its neighbours.

    Memory bound: a task holds ONE micro-batch of ONE state group in
    memory (not the whole stream) — the chunk iterator's streaming
    property is traded for ordering correctness.  For high-rate
    channels bound the batch upstream: file sources →
    ``maxFilesPerTrigger`` / ``maxBytesPerTrigger``; rate/Kafka →
    ``maxOffsetsPerTrigger``; or a processing-time trigger short enough
    that rate × interval × 16 B/row fits comfortably per task.
    ``max_batch_rows`` turns that contract into an ENFORCED per-channel
    guard, counted chunk by chunk: the chunk that pushes one channel
    past the bound fails the batch loudly with the tuning guidance
    before the group is concatenated
    (tests/test_streaming.py::test_oversized_batch_guard).

    ``channel_buckets=n`` keys the state op by
    ``pmod(xxhash64(channel_id), n)`` instead of by channel: each group
    carries a dict of per-channel delay lines, so many small channels
    share one group's fixed protocol cost (a state row round trip and a
    pandas frame each way per group and micro-batch).  Output rows and
    carried per-channel state are bit-identical to per-channel keying
    (pinned in tests/test_streaming.py).  Pick n a few times the core
    count (keys spread over the state partitions, guide §2.5);
    per-channel keying remains the default.  ``n`` is stored in the
    state, and a restart from a checkpoint written with another ``n``
    raises a ``ValueError`` naming both.
    """
    from pandas_sigproc_spark.kernels.iir import _normalize_ba
    from pandas_sigproc_spark.kernels.iir_batch import lfilter_batch_ragged

    b = np.asarray(b, dtype=np.float64)
    a = np.asarray(a, dtype=np.float64)
    bn, an = _normalize_ba(b, a)
    zero = np.zeros(max(len(bn), len(an)) - 1)

    def kernel(st, cids, offs, t, x):
        spans = [slice(offs[i], offs[i + 1]) for i in range(len(cids))]
        ys, zfs = lfilter_batch_ragged(
            b, a, [x[s] for s in spans], [st.get(c, zero) for c in cids]
        )
        st.update(zip(cids, zfs))
        return [t[s] for s in spans], ys

    return _channel_state_op(
        df, kernel, _LFILTER_OUT_SCHEMA, "zi", tuple(order_cols),
        max_batch_rows, channel_buckets, "streaming_lfilter",
    )


def streaming_psd(
    df: DataFrame,
    window_sec: float,
    samplerate: float,
    watermark_sec: float = 0.0,
    window_type: str = "hann",
    time_col: str = "t",
) -> DataFrame:
    """Windowed spectral monitoring: one periodogram per (channel,
    event-time tumbling window) — the streaming counterpart of
    ``get_psd`` for live vibration/acoustic dashboards.

    Shape: the windowed aggregation buffers each window's samples
    (``collect_list``, state bounded by ``window_sec * samplerate`` rows
    per open window, cleaned up at the watermark), and a scalar Arrow
    UDF runs the one-shot FFT on each CLOSED window — stateless after
    the agg, so it composes with append mode.  Whole-signal Welch
    averaging stays batch-only (SURVEY §2.9: not streamable without
    semantics the reference doesn't define); this is the per-window
    periodogram that IS well-defined on a stream.

    Output: (channel_id, t0, t1, freq, power) — positive-frequency bins
    per closed window (``extension.py:619-620`` mask).
    """
    from pandas_sigproc_spark.kernels import spectral as _spectral
    from pyspark.sql.functions import pandas_udf

    out_t = ArrayType(
        StructType(
            [
                StructField("freq", DoubleType()),
                StructField("power", DoubleType()),
            ]
        )
    )

    @pandas_udf(out_t)
    def fft_window(vals: pd.Series) -> pd.Series:
        out = []
        for arr in vals:
            y = np.asarray(arr, dtype=np.float64)
            freq, pxx = _spectral.periodogram(
                y, samplerate, window=window_type, detrend="constant"
            )
            keep = freq > 0
            out.append(
                [
                    {"freq": float(f), "power": float(p)}
                    for f, p in zip(freq[keep], pxx[keep])
                ]
            )
        return pd.Series(out)

    src = _with_event_time(df, time_col)
    if df.isStreaming:
        src = src.withWatermark("ets", f"{watermark_sec} seconds")
    win = F.window("ets", f"{window_sec} seconds")
    seg = src.groupBy(F.col("channel_id"), win.alias("w")).agg(
        F.array_sort(F.collect_list(F.struct(time_col, "value"))).alias("rows")
    )
    return seg.select(
        "channel_id",
        F.col("w.start").cast("double").alias("t0"),
        F.col("w.end").cast("double").alias("t1"),
        F.explode(
            fft_window(F.col("rows").getField("value"))
        ).alias("bin"),
    ).select(
        "channel_id", "t0", "t1", F.col("bin.freq").alias("freq"),
        F.col("bin.power").alias("power"),
    )


def streaming_deduplicate(
    df: DataFrame, watermark: str = "30 seconds"
) -> DataFrame:
    """Streaming duplicate-stamp drop on ``(channel_id, t)`` with bounded
    state.

    Batch ``deduplicate`` (reference ``extension.py:394-408``) averages
    the values of duplicate stamps — that needs every duplicate before
    emitting, which an unbounded stream cannot wait for.  The streaming
    form keeps the FIRST arrival per ``(channel_id, t)`` and expires key
    state once event time passes the watermark
    (``dropDuplicatesWithinWatermark``), the standard bounded-state
    trade; a duplicate arriving later than the watermark delay is passed
    through as a new row.  Documented deviation from the batch mean —
    identical whenever duplicate stamps carry identical values.

    State is one key per distinct ``(channel_id, t)`` inside the
    watermark horizon, independent of total stream length.
    """
    src = _with_event_time(df)
    if not df.isStreaming:
        # Batch fallback: first arrival per stamp (deterministic tiebreak
        # not needed — batch callers wanting the reference mean use
        # operators.deduplicate instead).  Projected to the streaming
        # path's exact schema (a review finding: extra input columns
        # leaked through in batch mode only, breaking schema parity).
        return df.dropDuplicates(["channel_id", "t"]).select(
            "channel_id", "t", "value"
        )
    return (
        src.withWatermark("ets", watermark)
        .dropDuplicatesWithinWatermark(["channel_id", "ets"])
        .select("channel_id", "t", "value")
    )


_RAINFLOW_OUT_SCHEMA = StructType(
    [
        StructField("channel_id", StringType()),
        StructField("rng", DoubleType()),
        StructField("cnt", DoubleType()),
    ]
)


def streaming_rainflow(
    df: DataFrame, order_cols: tuple[str, ...] = ("t",),
    max_batch_rows: int | None = None,
    channel_buckets: int | None = None,
) -> DataFrame:
    """Streaming fatigue monitoring: rainflow FULL-cycle counting with
    per-channel residue state across micro-batches.

    The 4-point segment-safe rule (kernels/rainflow.py
    extract_full_cycles_4pt) makes rainflow mergeable: fold each batch as
    ``fulls, residue = 4pt(residue ++ batch_samples)``, emit the fulls,
    carry the residue — the same residue-decomposition theorem behind the
    batch scale path (operators/rainflow.py rainflow_chunked, SURVEY.md
    §7.3.1), applied as an unbounded stream fold.  Emitted cycles are the
    stream's full cycles so far; the E1049 half cycles of the final
    residue are only defined when the signal ENDS, so a live stream never
    emits them (close out a finished channel by running
    count_cycles_from_values over its last residue).

    State per channel is the divergent reversal envelope — typically a
    few dozen doubles regardless of stream length.  Requires time-ordered
    arrival per channel across micro-batches (like streaming_lfilter);
    within a batch, all Arrow chunks are concatenated and sorted by
    ``order_cols`` (pass ``("t", "seq")`` when timestamps can tie —
    rainflow is order-sensitive, so untie-broken equal stamps would make
    counts vary run to run).

    Shape, memory bound, ``max_batch_rows`` and ``channel_buckets``
    (including the restart check on the stored bucket count) are those
    of :func:`streaming_lfilter`: one packed row of ``rng`` / ``cnt``
    arrays per channel crosses the Python boundary and is expanded
    natively, and emitted cycles and carried residues are bit-identical
    under either keying.
    """
    from pandas_sigproc_spark.kernels.rainflow import extract_full_cycles_4pt

    def kernel(st, cids, offs, t, x):
        rngs, cnts = [], []
        for i, cid in enumerate(cids):
            fulls, st[cid] = extract_full_cycles_4pt(
                np.concatenate(
                    [np.asarray(st.get(cid, ()), np.float64),
                     x[offs[i]: offs[i + 1]]]
                )
            )
            rc = np.array(fulls, np.float64).reshape(-1, 2)
            rngs.append(rc[:, 0].copy())
            cnts.append(rc[:, 1].copy())
        return rngs, cnts

    return _channel_state_op(
        df, kernel, _RAINFLOW_OUT_SCHEMA, "residue", tuple(order_cols),
        max_batch_rows, channel_buckets, "streaming_rainflow",
    )


def streaming_corpus_filter(
    df: DataFrame,
    min_quality: float = 0.6,
    dedup: bool = True,
) -> DataFrame:
    """Streaming corpus ingestion filter: score + language-ID + token
    count + quality gate + exact-dup drop over an unbounded document
    stream (the streaming front of the batch ``corpus_prep`` /
    ``training_mix`` pipelines).

    Composes the SAME expression trees as the batch queries
    (``operators/text.py``), so a document scores identically whether it
    arrives in a stream or a batch scan — everything except the dedup is
    stateless map-side work.  The exact-dup drop keeps the FIRST arrival
    per ``md5(text)`` digest; on a stream this holds one digest per
    distinct document in state (no event-time horizon exists for "the
    same text arriving much later"), the standard trade for global
    exact dedup — bound it upstream by sharding or time-bucketing the
    digest when the corpus is unbounded.
    """
    from pandas_sigproc_spark.operators import text as _text

    scored = df.select(
        "doc_id",
        "text",
        _text.words_expr().alias("ws"),
        _text.quality_expr().alias("quality"),
        F.md5(F.col("text")).alias("digest"),
    ).select(
        "doc_id",
        "text",
        "quality",
        _text.lang_pred_expr("ws").alias("pred_lang"),
        F.size("ws").alias("n_tokens"),
        "digest",
    )
    out = scored.filter(F.col("quality") >= min_quality)
    if dedup:
        out = out.dropDuplicates(["digest"])
    return out.drop("digest")


def streaming_curation_filter(
    df: DataFrame,
    bloom_bitmap: list[int] | None = None,
    threshold: float = 0.5,
    scrub: bool = True,
    decon_n: int = 5,
) -> DataFrame:
    """Streaming curation front (round-6 tier): logistic quality
    classifier + optional PII scrub + optional Bloom decontamination
    over an unbounded document stream.

    Entirely STATELESS map-side work — every stage is the same
    expression tree as its batch twin (``operators/curation.py``), so a
    document scores, scrubs, and probes identically in stream and
    batch.  That is the point of the Bloom design for streams:
    join-form decontamination would need the whole benchmark gram set
    as a join side, but the bitmap rides along as one broadcast
    static row (stream-static equi-join on a constant key — evaluated
    map-side per micro-batch), so decontamination becomes a pure
    per-row filter with NO state store at all.  Documents failing the
    quality gate or flagged by the probe are dropped; survivors carry
    ``score`` (and ``masked_chars`` when scrubbing).

    Output: ``(doc_id long, text string, score double[, masked_chars
    long])`` — ``text`` is the scrubbed text when ``scrub=True``.
    """
    from pandas_sigproc_spark.operators import curation as _cur
    from pandas_sigproc_spark.operators import text as _text

    out = df.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        "text",
        _cur.quality_score_expr().alias("score"),
    ).filter(F.col("score") >= F.lit(float(threshold)))

    if bloom_bitmap is not None:
        bm_df = df.sparkSession.createDataFrame(
            [([int(x) for x in bloom_bitmap],)], "_bm array<bigint>"
        ).withColumn("_k", F.lit(1))
        n_ngrams, n_flagged = _cur.bloom_hit_exprs(F.col("_bm"), F.col("_gs"))
        out = (
            out.withColumn("_gs", _text.gram_hash_expr(decon_n))
            .withColumn("_k", F.lit(1))
            .join(F.broadcast(bm_df), "_k")
            .withColumn("_nf", n_flagged)
            .filter(F.col("_nf") == 0)
            .select("doc_id", "text", "score")
        )

    if scrub:
        out = _cur.scrub_pii(out, "text").select(
            "doc_id",
            F.col("text_scrubbed").alias("text"),
            "score",
            F.col("text_masked_chars").alias("masked_chars"),
        )
    return out


_INCR_PAIR_SCHEMA = StructType(
    [
        StructField("band", IntegerType()),
        StructField("d_id", LongType()),
        StructField("match_id", LongType()),
        StructField("src", StringType()),
        StructField("is_exact", BooleanType()),
        StructField("est_j", DoubleType()),
    ]
)


def streaming_incremental_dedup(
    df: DataFrame,
    existing,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    near_threshold: float = 0.5,
    ngram: int = 3,
    max_state_rows_per_key: int = 100_000,
    max_bucket_rows: int | None = 100_000,
) -> DataFrame:
    """Streaming ingestion dedup: the cross-micro-batch form of batch
    ``curation.incremental_dedup`` — screen an unbounded document stream
    against a STATIC existing corpus and against its own earlier
    arrivals, touching the corpus only as a compact band-key table.

    Emits a DUPLICATE-PAIR stream ``(band int, d_id long, match_id long,
    src string, is_exact boolean, est_j double)``: one row per (band,
    candidate) where the new document ``d_id`` shares an LSH band key
    with ``match_id`` and the MinHash-estimated Jaccard >=
    ``near_threshold`` (``is_exact`` = md5 digests equal — identical
    text implies identical signature, so exact twins always co-bucket).
    ``src`` is ``'corpus'`` or ``'stream'``.  A pair can appear once per
    shared band (up to n_bands rows); consumers dedupe on (d_id,
    match_id, src) — per-doc verdicts (``kept`` etc.) are then one batch
    aggregation over this stream's sink, mirroring the batch operator's
    columns (tests/test_streaming_incr_dedup.py replays it).

    Scale shape, one stateful operator total:

    - corpus probes are a STATELESS stream-static equi-join on (band,
      key) against the derived corpus band-key table — dozens of bytes
      per corpus doc, the table a production deployment keeps
      materialized (never the corpus text).  Pass ``existing`` as a
      raw document DataFrame (signatures derived inline, re-evaluated
      per micro-batch) or as an ``operators.sigstore.SignatureStore``
      — the materialized tables themselves, the production path: the
      static side is then a parquet scan of ~150 B/doc;
    - stream-vs-earlier-stream probes run in ONE
      ``applyInPandasWithState`` keyed by (band, key); the state is
      exactly the band-key table of the documents seen so far under
      that key (ids + digests + signatures).  Within a micro-batch,
      docs compare in ``id_col`` order against state + earlier in-batch
      rows — the batch operator's deterministic first-wins rule with
      arrival order standing in for id order across batches.
    - state per key grows with the docs that SHARE that band key;
      ``max_state_rows_per_key`` is the hot-bucket guard
      (dedup.guard_bucket_rows' streaming twin): a degenerate key
      raises loudly with the exact-dedup-first remediation instead of
      accreting unbounded state.  The check runs BEFORE the pairwise
      compare (state + incoming rows), so it refuses the O(m^2) work
      rather than reporting it after the grind; the batch-fallback path
      applies the same per-key cap.

    State lifecycle at production scale: keys accumulate for the
    stream's lifetime (dropping state would silently drop duplicate
    detections, so no TTL is applied).  The production pattern is
    epochal: periodically fold the admitted documents into the
    materialized signature store (``sigstore.write_signature_store(...,
    mode="append")``), restart the query with fresh state, and pass the
    grown store as ``existing`` — state then only ever holds the
    CURRENT epoch's arrivals.
    """
    if not 0.0 < near_threshold <= 1.0:
        raise ValueError("need 0 < near_threshold <= 1")
    from pandas_sigproc_spark.operators import curation as _cur

    n_perms = len(_cur.INCR_MINHASH_PERMS)

    def _prep(src_df: DataFrame, role: str) -> DataFrame:
        # NULL text coalesces to '' BEFORE hashing — the batch core's
        # rule (curation._incremental_dedup_core): without it a single
        # NULL-text document produced a NULL signature whose rows
        # reached the stateful op and crash-looped the whole query from
        # checkpoint (a review finding).  Band keys come from
        # curation._band_keys itself, not a third copy of the formula.
        sig = src_df.select(
            F.col(id_col).cast("long").alias("doc_id"),
            F.coalesce(F.col(text_col), F.lit("")).alias("_txt"),
        ).select(
            "doc_id",
            F.md5("_txt").alias("digest"),
            _cur.minhash_sig_expr("_txt", ngram).alias("sig"),
        )
        return _cur._band_keys(
            sig, f"{role}_id", extra=(("digest", f"{role}_digest"),)
        ).select(
            f"{role}_id",
            f"{role}_digest",
            F.col(f"sig_{role}_id").alias(f"{role}_sig"),
            F.col("band").cast("int").alias("band"),
            "key",
        )

    d_bk = _prep(df, "d")
    from pandas_sigproc_spark.operators.sigstore import SignatureStore

    if isinstance(existing, SignatureStore):
        if existing.ngram != ngram:
            raise ValueError(
                f"store was built with ngram={existing.ngram}, stream asked"
                f" for ngram={ngram} — signatures would not be comparable"
            )
        ex_bk = existing.bands.select(
            F.col("doc_id").alias("e_id"),
            F.col("digest").alias("e_digest"),
            F.col("sig").alias("e_sig"),
            "band",
            "key",
        )
    else:
        ex_bk = _prep(existing, "e")
    # Static-side hot-bucket guard (the media twin already carried it;
    # a review finding: a degenerate corpus band key would otherwise
    # emit O(m x matches) rows from one bucket EVERY micro-batch with
    # no error).  Window-based — static side only; the stream side's
    # guard is max_state_rows_per_key.
    from pandas_sigproc_spark.operators.dedup import guard_bucket_rows

    ex_bk = guard_bucket_rows(
        ex_bk,
        ["band", "key"],
        guarded_col="e_id",
        max_bucket_rows=max_bucket_rows,
        op_name="streaming_incremental_dedup[existing]",
    )

    est = _cur._est_jaccard(F.col("d_sig"), F.col("e_sig"))
    corpus_pairs = (
        d_bk.join(ex_bk, ["band", "key"])
        .select(
            "band",
            F.col("d_id"),
            F.col("e_id").alias("match_id"),
            F.lit("corpus").alias("src"),
            (F.col("d_digest") == F.col("e_digest")).alias("is_exact"),
            est.alias("est_j"),
        )
        .filter(F.col("est_j") >= F.lit(float(near_threshold)))
    )

    state_schema = StructType(
        [
            StructField("ids", ArrayType(LongType())),
            StructField("digests", ArrayType(StringType())),
            StructField("sigs", ArrayType(ArrayType(LongType()))),
        ]
    )
    thr = float(near_threshold)
    cap = int(max_state_rows_per_key)

    def _emit_pairs(band, new_rows, seen):
        """Compare each new (id, digest, sig) against ``seen`` (earlier
        arrivals), in id order; extend ``seen``; return pair tuples."""
        out = []
        for nid, ndig, nsig in new_rows:
            for oid, odig, osig in seen:
                agree = sum(1 for a, b in zip(nsig, osig) if a == b)
                ej = agree / float(n_perms)
                if ej >= thr:
                    out.append((band, nid, oid, "stream", ndig == odig, ej))
            seen.append((nid, ndig, nsig))
        return out

    def _cap_check(band, key_val, n_total):
        # BEFORE the quadratic compare, not after: the guard must refuse
        # the O(m^2) work, not report it once it is already done
        if n_total > cap:
            raise RuntimeError(
                f"streaming_incremental_dedup: band key ({band}, {key_val})"
                f" would hold {n_total} documents, above"
                f" max_state_rows_per_key={cap} — degenerate band key"
                " (near-identical documents). Run exact/hash dedup"
                " upstream to collapse identical items, or raise the cap."
            )

    def step(key, pdf_iter, state):
        band, _k = int(key[0]), key[1]
        if state.exists:
            ids, digests, sigs = state.get
            seen = list(zip(list(ids), list(digests), [list(s) for s in sigs]))
        else:
            seen = []
        # incremental drain (the _drain_bounded rule): the cap must fire
        # on the first Arrow chunk that crosses it — BEFORE pd.concat
        # doubles the oversized batch's footprint in task memory, not
        # after the whole batch is buffered (a review finding)
        chunks, n = [], len(seen)
        for c in pdf_iter:
            n += len(c)
            _cap_check(band, _k, n)
            chunks.append(c)
        pdf = pd.concat(chunks, ignore_index=True) if chunks else pd.DataFrame()
        pairs = []
        if len(pdf):
            pdf = pdf.sort_values("d_id", kind="mergesort")
            new_rows = [
                (int(r.d_id), r.d_digest, [int(x) for x in r.d_sig])
                for r in pdf.itertuples()
            ]
            pairs = _emit_pairs(band, new_rows, seen)
        state.update(
            (
                [s[0] for s in seen],
                [s[1] for s in seen],
                [s[2] for s in seen],
            )
        )
        yield pd.DataFrame(
            pairs, columns=["band", "d_id", "match_id", "src", "is_exact", "est_j"]
        )

    grouped_cols = ["band", "key", "d_id", "d_digest", "d_sig"]
    if not df.isStreaming:
        # Batch fallback: identical comparisons with earlier == smaller
        # id (the batch operator's rule); one applyInPandas per band key.
        def kernel(kdf: pd.DataFrame) -> pd.DataFrame:
            kdf = kdf.sort_values("d_id", kind="mergesort")
            band = int(kdf["band"].iloc[0])
            _cap_check(band, kdf["key"].iloc[0], len(kdf))
            new_rows = [
                (int(r.d_id), r.d_digest, [int(x) for x in r.d_sig])
                for r in kdf.itertuples()
            ]
            return pd.DataFrame(
                _emit_pairs(band, new_rows, []),
                columns=["band", "d_id", "match_id", "src", "is_exact", "est_j"],
            )

        stream_pairs = (
            d_bk.select(*grouped_cols)
            .groupBy("band", "key")
            .applyInPandas(kernel, _INCR_PAIR_SCHEMA)
        )
    else:
        stream_pairs = (
            d_bk.select(*grouped_cols)
            .groupBy("band", "key")
            .applyInPandasWithState(
                step,
                outputStructType=_INCR_PAIR_SCHEMA,
                stateStructType=state_schema,
                outputMode="append",
                timeoutConf="NoTimeout",
            )
        )
    return corpus_pairs.unionByName(stream_pairs)


_PHASH_PAIR_SCHEMA = StructType(
    [
        StructField("band_id", IntegerType()),
        StructField("d_id", LongType()),
        StructField("match_id", LongType()),
        StructField("src", StringType()),
        StructField("hamming", IntegerType()),
    ]
)


def streaming_phash_dedup(
    df: DataFrame,
    existing: DataFrame,
    *,
    max_hamming: int = 3,
    id_col: str = "media_id",
    payload_col: str = "payload",
    max_state_rows_per_key: int = 100_000,
    max_bucket_rows: int | None = 100_000,
) -> DataFrame:
    """Streaming IMAGE ingestion dedup — the media twin of
    :func:`streaming_incremental_dedup`: screen an unbounded image
    stream against a STATIC existing corpus and against its own earlier
    arrivals, touching the corpus only as its 8 B/image pHash table
    (``sigstore.read_media_hash_store(kind="phash")`` — image bytes
    never rescanned).

    Emits a DUPLICATE-PAIR stream ``(band_id int, d_id long, match_id
    long, src string, hamming int)``: one row per (band, candidate)
    where the new image shares a Hamming bit-band with ``match_id`` and
    ``bit_count(xor) <= max_hamming`` — banding is pigeonhole-EXACT, so
    no true pair is missed.  ``src`` is ``'corpus'`` or ``'stream'``;
    ``hamming == 0`` marks hash-identical twins.  A pair can appear
    once per shared band; consumers dedupe on (d_id, match_id, src) —
    per-image verdicts are one batch aggregation over the sink,
    mirroring ``imagedup.incremental_phash_dedup``'s columns
    (tests/test_streaming_media_dedup.py replays it).

    Scale shape, one stateful operator total: corpus probes are a
    STATELESS stream-static equi-join on (band_id, band_bits) int keys
    (the static side carries the window-based hot-bucket guard;
    ``max_bucket_rows=None`` disables); stream-vs-earlier-stream probes
    run in ONE ``applyInPandasWithState`` keyed by the band key, whose
    state is exactly the (id, phash) rows seen under that key —
    ``max_state_rows_per_key`` is the guard's streaming twin and
    refuses BEFORE the pairwise compare.  The hash pass itself is the
    stateless zero-shuffle mapInPandas stage of the batch tier.  Same
    epochal state lifecycle as the text operator: periodically fold
    admitted hashes into the media hash store
    (``write_media_hash_store(..., mode="append")``) and restart with
    the grown store as ``existing``.

    ``df``/``existing`` accept raw media (``payload`` decoded via the
    engine codecs) or a precomputed ``(media_id, phash)`` table — a
    ``phash`` column short-circuits the decode.
    """
    from pandas_sigproc_spark.operators.imagedup import (
        PHASH_BITS,
        phash_band_keys,
        phash_images,
    )

    if not 0 <= max_hamming < PHASH_BITS:
        raise ValueError(f"need 0 <= max_hamming < {PHASH_BITS}")
    def _hashes(src: DataFrame) -> DataFrame:
        if "phash" in src.columns:
            # a precomputed table keys on the caller's id_col when it
            # carries one, else on the documented store shape's
            # 'media_id' (a review finding: the store path crashed for
            # any non-default id_col because read_media_hash_store
            # always emits 'media_id')
            key = id_col if id_col in src.columns else "media_id"
            h = src.select(
                F.col(key).cast("long").alias("media_id"),
                F.col("phash").cast("long").alias("phash"),
            )
        else:
            h = phash_images(src, id_col=id_col, payload_col=payload_col)
        # a NULL phash (e.g. a corrupt precomputed row) identifies
        # nothing: it can neither match nor be matched, and its rows
        # would crash-loop the stateful op from checkpoint (a review
        # finding) — pass such rows over explicitly.  Decode failures
        # surface through the decode path's own error contract, never
        # as silent NULLs here.
        return h.filter(F.col("phash").isNotNull())

    hd = _hashes(df)
    he = _hashes(existing)
    # stream side: NO window guard (not stream-safe) — the state cap is
    # the guard; static side keeps the batch guard.
    d_bk = phash_band_keys(hd, max_hamming, max_bucket_rows=None).select(
        F.col("media_id").alias("d_id"),
        F.col("phash").alias("d_phash"),
        "band_id",
        "band_bits",
    )
    ex_bk = phash_band_keys(
        he,
        max_hamming,
        max_bucket_rows=max_bucket_rows,
        op_name="streaming_phash_dedup[existing]",
    ).select(
        F.col("media_id").alias("e_id"),
        F.col("phash").alias("e_phash"),
        "band_id",
        "band_bits",
    )
    ham = F.bit_count(F.col("d_phash").bitwiseXOR(F.col("e_phash")))
    corpus_pairs = (
        d_bk.join(ex_bk, ["band_id", "band_bits"])
        .filter(ham <= max_hamming)
        .select(
            "band_id",
            "d_id",
            F.col("e_id").alias("match_id"),
            F.lit("corpus").alias("src"),
            ham.cast("int").alias("hamming"),
        )
    )

    state_schema = StructType(
        [
            StructField("ids", ArrayType(LongType())),
            StructField("phashes", ArrayType(LongType())),
        ]
    )
    radius = int(max_hamming)
    cap = int(max_state_rows_per_key)
    mask64 = (1 << 64) - 1

    def _hamming(a: int, b: int) -> int:
        return bin((a ^ b) & mask64).count("1")

    def _emit_pairs(band, new_rows, seen):
        """Compare each new (id, phash) against ``seen`` (earlier
        arrivals) in id order; extend ``seen``; return pair tuples."""
        out = []
        for nid, nh in new_rows:
            for oid, oh in seen:
                hm = _hamming(nh, oh)
                if hm <= radius:
                    out.append((band, nid, oid, "stream", hm))
            seen.append((nid, nh))
        return out

    def _cap_check(band, key_val, n_total):
        # BEFORE the quadratic compare, not after
        if n_total > cap:
            raise RuntimeError(
                f"streaming_phash_dedup: band key ({band}, {key_val})"
                f" would hold {n_total} images, above"
                f" max_state_rows_per_key={cap} — degenerate band key"
                " (near-identical images). Run exact/hash dedup upstream"
                " to collapse identical items, or raise the cap."
            )

    def step(key, pdf_iter, state):
        band, _k = int(key[0]), key[1]
        if state.exists:
            ids, hashes = state.get
            seen = list(zip(list(ids), list(hashes)))
        else:
            seen = []
        # incremental drain (the _drain_bounded rule): fail on the first
        # chunk that crosses the cap, before pd.concat doubles the
        # oversized batch in task memory (a review finding)
        chunks, n = [], len(seen)
        for c in pdf_iter:
            n += len(c)
            _cap_check(band, _k, n)
            chunks.append(c)
        pdf = pd.concat(chunks, ignore_index=True) if chunks else pd.DataFrame()
        pairs = []
        if len(pdf):
            pdf = pdf.sort_values("d_id", kind="mergesort")
            new_rows = [
                (int(r.d_id), int(r.d_phash)) for r in pdf.itertuples()
            ]
            pairs = _emit_pairs(band, new_rows, seen)
        state.update(([s[0] for s in seen], [s[1] for s in seen]))
        yield pd.DataFrame(
            pairs, columns=["band_id", "d_id", "match_id", "src", "hamming"]
        )

    grouped_cols = ["band_id", "band_bits", "d_id", "d_phash"]
    if not df.isStreaming:
        # Batch fallback: identical comparisons with earlier == smaller
        # id; one applyInPandas per band key.
        def kernel(kdf: pd.DataFrame) -> pd.DataFrame:
            kdf = kdf.sort_values("d_id", kind="mergesort")
            band = int(kdf["band_id"].iloc[0])
            _cap_check(band, kdf["band_bits"].iloc[0], len(kdf))
            new_rows = [
                (int(r.d_id), int(r.d_phash)) for r in kdf.itertuples()
            ]
            return pd.DataFrame(
                _emit_pairs(band, new_rows, []),
                columns=["band_id", "d_id", "match_id", "src", "hamming"],
            )

        stream_pairs = (
            d_bk.select(*grouped_cols)
            .groupBy("band_id", "band_bits")
            .applyInPandas(kernel, _PHASH_PAIR_SCHEMA)
        )
    else:
        stream_pairs = (
            d_bk.select(*grouped_cols)
            .groupBy("band_id", "band_bits")
            .applyInPandasWithState(
                step,
                outputStructType=_PHASH_PAIR_SCHEMA,
                stateStructType=state_schema,
                outputMode="append",
                timeoutConf="NoTimeout",
            )
        )
    return corpus_pairs.unionByName(stream_pairs)


_DOMCAP_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("uri", StringType()),
        StructField("host", StringType()),
        StructField("kept", BooleanType()),
    ]
)


def streaming_domain_cap(
    df: DataFrame,
    max_docs: int,
    *,
    id_col: str = "doc_id",
    uri_col: str = "uri",
    max_batch_rows: int | None = None,
) -> DataFrame:
    """Streaming per-domain document cap — the stateful twin of
    ``webcrawl.cap_per_domain``: over an unbounded crawl stream, keep
    the first ``max_docs`` documents PER HOST in arrival/id order and
    mark the rest dropped, with the running per-host admission count as
    the only state.

    Emits ``(doc_id, uri, host, kept)``.  One ``applyInPandasWithState``
    keyed by the parse_url host; state is a single long per host (the
    admitted count), so a 100 TB crawl's state store is one counter per
    distinct host — megabytes, not documents.  Within a micro-batch,
    documents admit in ``id_col`` order (the batch operator's
    deterministic rule with arrival order standing in across batches);
    the batch fallback (df not streaming) is exactly
    ``cap_per_domain``'s ranked window, so stream==batch equality is
    testable on replayed batches.
    """
    if max_docs < 1:
        raise ValueError("need max_docs >= 1")
    from pandas_sigproc_spark.operators.webcrawl import url_host

    keyed = df.select(
        F.col(id_col).cast("long").alias("doc_id"),
        F.col(uri_col).alias("uri"),
        url_host(F.col(uri_col)).alias("host"),
    )
    if not df.isStreaming:
        from pyspark.sql import Window

        w = Window.partitionBy("host").orderBy("doc_id")
        return keyed.withColumn(
            "kept", F.row_number().over(w) <= max_docs
        ).select("doc_id", "uri", "host", "kept")

    state_schema = StructType([StructField("admitted", LongType())])
    cap = int(max_docs)

    def step(key, pdf_iter, state):
        admitted = state.get[0] if state.exists else 0
        # bounded drain (a review finding: every other stateful op in
        # this module enforces the declared per-(key, micro-batch)
        # memory contract; a hot host's unbounded micro-batch would
        # otherwise creep this concat toward task OOM silently)
        chunks = _drain_bounded(
            pdf_iter, max_batch_rows, "streaming_domain_cap"
        )
        pdf = pd.concat(chunks, ignore_index=True) if chunks else pd.DataFrame()
        rows = []
        if len(pdf):
            pdf = pdf.sort_values("doc_id", kind="mergesort")
            for r in pdf.itertuples():
                keep = admitted < cap
                if keep:
                    admitted += 1
                rows.append((int(r.doc_id), r.uri, r.host, keep))
        state.update((admitted,))
        yield pd.DataFrame(rows, columns=["doc_id", "uri", "host", "kept"])

    return (
        keyed.groupBy("host")
        .applyInPandasWithState(
            step,
            outputStructType=_DOMCAP_SCHEMA,
            stateStructType=state_schema,
            outputMode="append",
            timeoutConf="NoTimeout",
        )
    )


__all__ = [
    "streaming_rms",
    "streaming_spl",
    "streaming_mov_rms",
    "streaming_lfilter",
    "streaming_deduplicate",
    "streaming_psd",
    "streaming_corpus_filter",
    "streaming_curation_filter",
    "streaming_incremental_dedup",
    "streaming_phash_dedup",
    "streaming_domain_cap",
    "streaming_rainflow",
]
