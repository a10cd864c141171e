"""Structured Streaming tier tests: stream == batch equivalence.

Strategy: write a fixture channel to N parquet files (time-ordered),
read them back as a file-source stream with maxFilesPerTrigger=1 +
trigger(availableNow) so Spark replays them as N micro-batches, run the
streaming operator into a memory sink, and assert the result equals the
same operator applied to the whole data as one batch.  The multi-batch
replay is what proves watermarking/state-carry actually work — a single
batch would pass trivially.
"""

import os

import numpy as np
import pandas as pd
import pytest

from pandas_sigproc_spark.kernels.design import butter
from pandas_sigproc_spark.kernels.iir import lfilter
from pandas_sigproc_spark.streaming import (
    streaming_lfilter,
    streaming_mov_rms,
    streaming_rms,
    streaming_spl,
)

SCHEMA = "channel_id string, t double, value double"


@pytest.fixture(scope="module")
def stream_dir(spark, tmp_path_factory):
    """3 channels x 40 s @ 10 Hz, split into 4 time-ordered parquet files."""
    root = str(tmp_path_factory.mktemp("stream_src"))
    rng = np.random.default_rng(7)
    t = np.arange(0, 40.0, 0.1)
    frames = []
    for cid in ("ch0", "ch1", "ch2"):
        v = np.sin(2 * np.pi * 0.5 * t) + 0.3 * rng.standard_normal(len(t))
        frames.append(pd.DataFrame({"channel_id": cid, "t": t, "value": v}))
    full = pd.concat(frames, ignore_index=True)
    n_files = 4
    for i, (lo, hi) in enumerate([(0, 10), (10, 20), (20, 30), (30, 40)]):
        part = full[(full["t"] >= lo) & (full["t"] < hi)]
        path = os.path.join(root, f"part-{i:03d}.parquet")
        part.to_parquet(path, index=False)
        # file source orders micro-batches by mod time: make it explicit
        os.utime(path, (1_700_000_000 + i, 1_700_000_000 + i))
    return root, full


def _run_stream(spark, out_df, query_name, output_mode):
    q = (
        out_df.writeStream.format("memory")
        .queryName(query_name)
        .outputMode(output_mode)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    n_batches = len(q.recentProgress)
    return spark.sql(f"SELECT * FROM {query_name}"), n_batches


def _read_stream(spark, root):
    return (
        spark.readStream.schema(SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(root)
    )


def test_streaming_rms_equals_batch(spark, stream_dir):
    root, full = stream_dir
    stream = _read_stream(spark, root)
    out, n_batches = _run_stream(
        spark, streaming_rms(stream, 5.0, watermark_sec=0.0), "t_rms", "append"
    )
    assert n_batches >= 4  # really replayed as multiple micro-batches
    got = out.toPandas().sort_values(["channel_id", "t0"]).reset_index(drop=True)
    batch = spark.createDataFrame(full, SCHEMA)
    exp = (
        streaming_rms(batch, 5.0)
        .toPandas()
        .sort_values(["channel_id", "t0"])
        .reset_index(drop=True)
    )
    # append mode with watermark 0 emits every closed window; the final
    # window (t0=35) closes because file 4's max event time passes it
    # only if watermark advanced beyond it — allow it to be missing.
    merged = exp.merge(got, on=["channel_id", "t0", "t1"], suffixes=("_b", "_s"))
    assert len(merged) >= len(exp) - 3  # at most the last window per channel open
    assert np.allclose(merged["rms_b"], merged["rms_s"], rtol=1e-12)


def test_streaming_spl_complete_mode_equals_batch(spark, stream_dir):
    root, full = stream_dir
    stream = _read_stream(spark, root)
    out, _ = _run_stream(
        spark, streaming_spl(stream, 10.0, p_ref=1.0), "t_spl", "complete"
    )
    got = out.toPandas().sort_values(["channel_id", "t0"]).reset_index(drop=True)
    batch = spark.createDataFrame(full, SCHEMA)
    exp = (
        streaming_spl(batch, 10.0, p_ref=1.0)
        .toPandas()
        .sort_values(["channel_id", "t0"])
        .reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(got, exp, rtol=1e-12)


def test_streaming_mov_rms_sliding_complete(spark, stream_dir):
    root, full = stream_dir
    stream = _read_stream(spark, root)
    out, _ = _run_stream(
        spark,
        streaming_mov_rms(stream, 10.0, 5.0),
        "t_movrms",
        "complete",
    )
    got = out.toPandas().sort_values(["channel_id", "t0"]).reset_index(drop=True)
    batch = spark.createDataFrame(full, SCHEMA)
    exp = (
        streaming_mov_rms(batch, 10.0, 5.0)
        .toPandas()
        .sort_values(["channel_id", "t0"])
        .reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(got, exp, rtol=1e-12)


def test_streaming_lfilter_state_carries_across_batches(spark, stream_dir):
    root, full = stream_dir
    b, a = butter(2, 0.2, "lowpass")
    stream = _read_stream(spark, root)
    out, n_batches = _run_stream(
        spark, streaming_lfilter(stream, b, a), "t_lfilt", "append"
    )
    assert n_batches >= 4
    got = out.toPandas().sort_values(["channel_id", "t"]).reset_index(drop=True)
    # golden: one-shot causal lfilter over each full channel
    exp_rows = []
    for cid, grp in full.groupby("channel_id"):
        grp = grp.sort_values("t")
        y, _ = lfilter(b, a, grp["value"].to_numpy(), zi=np.zeros(max(len(a), len(b)) - 1))
        exp_rows.append(
            pd.DataFrame({"channel_id": cid, "t": grp["t"].to_numpy(), "value": y})
        )
    exp = (
        pd.concat(exp_rows, ignore_index=True)
        .sort_values(["channel_id", "t"])
        .reset_index(drop=True)
    )
    assert len(got) == len(exp)
    # bit-level agreement proves the delay line really crossed micro-batches
    assert np.allclose(got["value"], exp["value"], atol=1e-12, rtol=0)


def test_streaming_lfilter_batch_fallback(spark, stream_dir):
    _, full = stream_dir
    b, a = butter(2, 0.2, "lowpass")
    batch = spark.createDataFrame(full, SCHEMA)
    got = (
        streaming_lfilter(batch, b, a)
        .toPandas()
        .sort_values(["channel_id", "t"])
        .reset_index(drop=True)
    )
    assert len(got) == len(full)


def test_streaming_deduplicate_across_batches(spark, tmp_path):
    # Duplicates within one file AND across consecutive files (inside the
    # watermark horizon) must be dropped; the multi-batch replay proves
    # the key state survives micro-batch boundaries.
    from pandas_sigproc_spark.streaming import streaming_deduplicate

    root = str(tmp_path / "dedup_src")
    os.makedirs(root)
    t1 = np.arange(1000.0, 1010.0, 0.5)
    f1 = pd.DataFrame({"channel_id": "d0", "t": t1, "value": np.cos(t1)})
    f1 = pd.concat([f1, f1.iloc[:5]], ignore_index=True)  # in-file dups
    t2 = np.arange(1010.0, 1020.0, 0.5)
    f2 = pd.DataFrame({"channel_id": "d0", "t": t2, "value": np.cos(t2)})
    # cross-batch dups: repeat the last 4 stamps of file 1 in file 2
    f2 = pd.concat([f1.iloc[-9:-5], f2], ignore_index=True)
    for i, part in enumerate((f1, f2)):
        p = os.path.join(root, f"part-{i:03d}.parquet")
        part.to_parquet(p, index=False)
        os.utime(p, (1_700_000_000 + i, 1_700_000_000 + i))

    stream = (
        spark.readStream.schema(SCHEMA).option("maxFilesPerTrigger", 1).parquet(root)
    )
    out = streaming_deduplicate(stream, watermark="1000 seconds")
    got = _run_stream(spark, out, "dedup_stream", "append")
    assert got[1] >= 2  # really replayed as multiple micro-batches
    rows = spark.sql("select * from dedup_stream").collect()
    stamps = sorted(r.t for r in rows)
    expect = sorted(set(t1) | set(t2))
    assert stamps == expect, f"{len(stamps)} rows vs {len(expect)} unique stamps"
    for r in rows:
        assert abs(r.value - np.cos(r.t)) < 1e-12


def test_streaming_psd_equals_kernel_per_window(spark, stream_dir):
    # Each closed 10 s event-time window must carry the same periodogram
    # the NumPy kernel computes on that window's samples — across a
    # multi-file replay, so windows assemble from streamed micro-batches.
    from pandas_sigproc_spark.kernels.spectral import periodogram
    from pandas_sigproc_spark.streaming import streaming_psd

    root, full = stream_dir
    stream = (
        spark.readStream.schema(SCHEMA).option("maxFilesPerTrigger", 1).parquet(root)
    )
    out = streaming_psd(stream, window_sec=10.0, samplerate=10.0, watermark_sec=0.0)
    got = _run_stream(spark, out, "psd_stream", "append")
    assert got[1] >= 2
    rows = spark.sql("select * from psd_stream").collect()
    assert rows, "no closed windows emitted"
    by_win = {}
    for r in rows:
        by_win.setdefault((r.channel_id, r.t0), []).append((r.freq, r.power))
    # 3 channels x at least 3 fully-closed 10 s windows
    assert len(by_win) >= 9
    for (cid, t0), bins in by_win.items():
        seg = full[(full.channel_id == cid) & (full.t >= t0) & (full.t < t0 + 10.0)]
        y = seg.sort_values("t")["value"].to_numpy(np.float64)
        freq, pxx = periodogram(y, 10.0, window="hann", detrend="constant")
        keep = freq > 0
        want = sorted(zip(freq[keep], pxx[keep]))
        got_bins = sorted(bins)
        assert len(got_bins) == len(want), (cid, t0)
        for (gf, gp), (wf, wp) in zip(got_bins, want):
            assert abs(gf - wf) < 1e-12 and abs(gp - wp) < 1e-9, (cid, t0, gf)


def test_streaming_rainflow_fulls_equal_batch(spark, stream_dir):
    # Residue-carry stream fold == whole-signal 4-point counting: the
    # union of full cycles emitted across micro-batches, PLUS the fulls
    # still derivable from the final carried residue... is exactly the
    # whole signal's fulls (the carried residue is irreducible, so
    # nothing more is derivable).  Multiset equality, bit-exact ranges.
    from pandas_sigproc_spark.streaming import streaming_rainflow

    root, full = stream_dir
    stream = _read_stream(spark, root)
    out, n_batches = _run_stream(
        spark, streaming_rainflow(stream), "t_rainflow", "append"
    )
    assert n_batches >= 4
    got = out.toPandas()
    batch = spark.createDataFrame(full, SCHEMA)
    exp = streaming_rainflow(batch).toPandas()  # batch fallback: whole-signal 4pt
    for cid in full["channel_id"].unique():
        g = sorted(got[got.channel_id == cid]["rng"].tolist())
        e = sorted(exp[exp.channel_id == cid]["rng"].tolist())
        assert g == e, cid  # bit-exact: same subtractions on same doubles
    assert (got["cnt"] == 1.0).all() and len(got) > 0


def test_streaming_rainflow_residue_closeout_matches_e1049(spark, stream_dir):
    # Closing out a finished channel: emitted fulls + count_cycles over
    # the final residue == the standard whole-signal E1049 counts.  The
    # final residue is reconstructed here by re-folding the channel's
    # data in the same batch splits the stream replay used.
    import numpy as np

    from pandas_sigproc_spark.kernels.rainflow import (
        count_cycles,
        count_cycles_from_values,
        extract_full_cycles_4pt,
    )

    root, full = stream_dir
    cid = "ch0"
    ch = full[full.channel_id == cid].sort_values("t")
    vals = ch["value"].to_numpy()
    # replay the stream fold over the 4 file splits
    residue: list = []
    stream_fulls: list = []
    for lo, hi in [(0, 10), (10, 20), (20, 30), (30, 40)]:
        seg = ch[(ch["t"] >= lo) & (ch["t"] < hi)]["value"].to_numpy()
        fulls, residue = extract_full_cycles_4pt(
            np.concatenate([np.asarray(residue), seg])
        )
        stream_fulls.extend(fulls)
    closed = {}
    for rng, cnt in stream_fulls:
        closed[rng] = closed.get(rng, 0.0) + cnt
    for rng, cnt in count_cycles_from_values(residue):
        closed[rng] = closed.get(rng, 0.0) + cnt
    want = dict(count_cycles(vals))
    assert closed == want


def test_streaming_lfilter_bucketed_equals_per_channel(spark, stream_dir):
    # channel_buckets (r16): bucket-level state (a dict of per-channel
    # delay lines per group) must be BIT-identical to per-channel keying
    # — same one-shot whole-channel golden as the per-channel test, so a
    # green run proves the z-state carried per channel across batches
    # inside the shared bucket state rows.
    root, full = stream_dir
    b, a = butter(2, 0.2, "lowpass")
    for nb in (1, 2, 7):  # 1 = all channels one group; 7 > #channels
        stream = _read_stream(spark, root)
        out, n_batches = _run_stream(
            spark,
            streaming_lfilter(stream, b, a, channel_buckets=nb),
            f"t_lfilt_bkt{nb}",
            "append",
        )
        assert n_batches >= 4
        got = (
            out.toPandas()
            .sort_values(["channel_id", "t"])
            .reset_index(drop=True)
        )
        exp_rows = []
        for cid, grp in full.groupby("channel_id"):
            grp = grp.sort_values("t")
            y, _ = lfilter(
                b, a, grp["value"].to_numpy(),
                zi=np.zeros(max(len(a), len(b)) - 1),
            )
            exp_rows.append(
                pd.DataFrame(
                    {"channel_id": cid, "t": grp["t"].to_numpy(), "value": y}
                )
            )
        exp = (
            pd.concat(exp_rows, ignore_index=True)
            .sort_values(["channel_id", "t"])
            .reset_index(drop=True)
        )
        assert len(got) == len(exp), nb
        assert list(got["channel_id"]) == list(exp["channel_id"]), nb
        assert np.array_equal(
            got["value"].to_numpy(), exp["value"].to_numpy()
        ), nb  # bit-exact


def test_streaming_rainflow_bucketed_equals_per_channel(spark, stream_dir):
    # Bucketed rainflow state: the per-channel residue dict must emit
    # the exact full-cycle multiset of the per-channel keying.
    from pandas_sigproc_spark.streaming import streaming_rainflow

    root, full = stream_dir
    stream = _read_stream(spark, root)
    out, n_batches = _run_stream(
        spark,
        streaming_rainflow(stream, channel_buckets=2),
        "t_rainflow_bkt",
        "append",
    )
    assert n_batches >= 4
    got = out.toPandas()
    ref_stream = _read_stream(spark, root)
    exp, _ = _run_stream(
        spark, streaming_rainflow(ref_stream), "t_rainflow_ref", "append"
    )
    exp = exp.toPandas()
    for cid in full["channel_id"].unique():
        g = sorted(got[got.channel_id == cid]["rng"].tolist())
        e = sorted(exp[exp.channel_id == cid]["rng"].tolist())
        assert g == e, cid  # bit-exact: same subtractions on same doubles
    assert (got["cnt"] == 1.0).all() and len(got) > 0


def test_bucketed_guard_still_per_channel(spark, stream_dir):
    # max_batch_rows stays a PER-CHANNEL bound under bucketing: each
    # source file carries 100 rows/channel, so a 150-row bound must PASS
    # even though a bucket holding all 3 channels sees 300 rows/batch —
    # and a 50-row bound must still fail loudly.
    root, _full = stream_dir
    b, a = butter(2, 0.2, "lowpass")
    ok, _ = _run_stream(
        spark,
        streaming_lfilter(
            _read_stream(spark, root), b, a,
            max_batch_rows=150, channel_buckets=1,
        ),
        "t_bkt_guard_ok",
        "append",
    )
    assert ok.count() > 0
    q = (
        streaming_lfilter(
            _read_stream(spark, root), b, a,
            max_batch_rows=50, channel_buckets=1,
        )
        .writeStream.format("memory")
        .queryName("t_bkt_guard_bad")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    with pytest.raises(Exception) as ei:
        q.awaitTermination(120)
    assert "max_batch_rows" in str(ei.value)


def test_oversized_batch_guard(spark, stream_dir):
    # The documented per-(channel, micro-batch) memory contract is
    # ENFORCED when declared: each source file carries 100 rows/channel,
    # so max_batch_rows=50 must fail the query loudly with the upstream
    # tuning guidance, while a bound sized for the trigger passes.
    root, _full = stream_dir
    b, a = butter(2, 0.2, "lowpass")
    stream = _read_stream(spark, root)
    q = (
        streaming_lfilter(stream, b, a, max_batch_rows=50)
        .writeStream.format("memory")
        .queryName("t_guard")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    with pytest.raises(Exception) as ei:
        q.awaitTermination(120)
    assert "max_batch_rows" in str(ei.value)
    assert "maxFilesPerTrigger" in str(ei.value)

    ok, _ = _run_stream(
        spark,
        streaming_lfilter(_read_stream(spark, root), b, a, max_batch_rows=1000),
        "t_guard_ok",
        "append",
    )
    assert ok.count() > 0


def test_batch_fallbacks_enforce_max_batch_rows(spark, stream_dir):
    # Both operators' batch fallbacks run the streaming state-op body, so
    # a declared per-channel bound holds there too (each channel has 400
    # rows): streaming_rainflow's batch form ignored it before the two
    # operators shared one body.
    from pandas_sigproc_spark.streaming import streaming_rainflow

    _, full = stream_dir
    b, a = butter(2, 0.2, "lowpass")
    batch = spark.createDataFrame(full, SCHEMA)
    for out in (
        streaming_lfilter(batch, b, a, max_batch_rows=300),
        streaming_rainflow(batch, max_batch_rows=300),
    ):
        with pytest.raises(Exception, match="max_batch_rows=300"):
            out.collect()
    assert streaming_rainflow(batch, max_batch_rows=400).count() > 0


def test_lfilter_batch_fallback_honors_order_cols(spark):
    # Tied timestamps with a seq tiebreak: the batch fallback must sort
    # exactly like the streaming step (order_cols, stable mergesort) —
    # the old delegation ignored order_cols (a review finding), so the
    # filtered series depended on arbitrary row order.
    b, a = butter(2, 0.2, "lowpass")
    vals = [1.0, -1.0, 2.0, -2.0, 3.0, -3.0]
    pdf = pd.DataFrame(
        {
            "channel_id": "c",
            "t": [0.0, 0.0, 1.0, 1.0, 2.0, 2.0],
            "seq": [0, 1, 0, 1, 0, 1],
            "value": vals,
        }
    )
    df = spark.createDataFrame(pdf)
    out = (
        streaming_lfilter(df, b, a, order_cols=("t", "seq"))
        .toPandas()
        .reset_index(drop=True)
    )
    expect, _ = lfilter(
        np.asarray(b), np.asarray(a), np.array(vals), zi=np.zeros(2)
    )
    np.testing.assert_allclose(np.sort(out["value"]), np.sort(expect))
    # schema parity with the streaming path
    assert list(out.columns) == ["channel_id", "t", "value"]


def test_streaming_deduplicate_batch_schema_parity(spark):
    from pandas_sigproc_spark.streaming import streaming_deduplicate

    df = spark.createDataFrame(
        pd.DataFrame(
            {
                "channel_id": ["c", "c"],
                "t": [1.0, 1.0],
                "value": [2.0, 2.0],
                "seq": [0, 1],
            }
        )
    )
    out = streaming_deduplicate(df)
    assert out.columns == ["channel_id", "t", "value"]
    assert out.count() == 1


def test_streaming_rms_is_tumbling_mov_rms(spark):
    # rms delegates to mov_rms with slide == width; values must be the
    # tumbling aggregation (one window per 2 s, no overlap)
    t = np.arange(0, 4.0, 0.5)
    df = spark.createDataFrame(
        pd.DataFrame({"channel_id": "c", "t": t, "value": np.ones_like(t)})
    )
    out = streaming_rms(df, 2.0).orderBy("t0").toPandas()
    assert list(out["t0"]) == [0.0, 2.0]
    np.testing.assert_allclose(out["rms"], 1.0)


def test_channel_runs_guard_fires_before_next_chunk():
    # max_batch_rows is counted per channel, chunk by chunk: the chunk
    # that pushes one channel over the bound raises before the next
    # chunk is drained (and before anything is concatenated), while a
    # group whose channels each stay under the bound passes however
    # many rows it holds in total.
    from pandas_sigproc_spark.streaming import _channel_runs

    def chunk(cid, n, t0=0.0):
        t = t0 + np.arange(n, dtype=np.float64)
        return pd.DataFrame({"channel_id": cid, "t": t, "value": t})

    def chunks():
        yield chunk("a", 60)
        yield chunk("b", 90)
        yield chunk("a", 60, 60.0)  # a: 120 rows > 100
        raise AssertionError("drained past the chunk that crossed the bound")

    with pytest.raises(ValueError, match="max_batch_rows=100"):
        _channel_runs(chunks(), ("t",), 100, "op")

    parts = [chunk(c, 90) for c in ("a", "b", "c")]
    cids, offs, t, value = _channel_runs(iter(parts[::-1]), ("t",), 100, "op")
    assert cids == ["a", "b", "c"] and offs.tolist() == [0, 90, 180, 270]
    assert np.array_equal(t, np.tile(np.arange(90.0), 3))


def _write_parts(root, parts, first=0):
    for i, part in enumerate(parts, first):
        path = os.path.join(root, f"part-{i:03d}.parquet")
        part.to_parquet(path, index=False)
        os.utime(path, (1_700_000_000 + i, 1_700_000_000 + i))


def _ragged_parts(n_files, lens=(2500, 100, 37), seed=11):
    """n_files slices of channels whose per-file lengths differ; the
    first is above the exact-recursion cutover (the FFT path)."""
    rng = np.random.default_rng(seed)
    parts = []
    for i in range(n_files):
        frames = []
        for j, n in enumerate(lens):
            t = i * n + np.arange(n, dtype=np.float64)
            frames.append(
                pd.DataFrame(
                    {"channel_id": f"r{j}", "t": t,
                     "value": rng.standard_normal(n)}
                )
            )
        parts.append(pd.concat(frames, ignore_index=True))
    return parts


def _chained_lfilter(b, a, parts, cid):
    """The 1-D kernel over each file's slice in turn, carrying zi."""
    zi = np.zeros(max(len(a), len(b)) - 1)
    ys = []
    for part in parts:
        x = part[part.channel_id == cid].sort_values("t")["value"].to_numpy()
        y, zi = lfilter(b, a, x, zi=zi)
        ys.append(y)
    return np.concatenate(ys)


def test_bucketed_lfilter_ragged_runs_and_fft_path(spark, tmp_path):
    # One bucket holds three channels of unequal length in every
    # micro-batch, one of them above the 2,048-sample cutover.  Each
    # channel's output must be bit-identical to the 1-D kernel chained
    # over the same batches — which for the short channels IS one-shot
    # lfilter over the whole series — and the public schema survives
    # the packed-row round trip.
    from pandas_sigproc_spark.streaming import _LFILTER_OUT_SCHEMA

    root = str(tmp_path / "src")
    os.makedirs(root)
    parts = _ragged_parts(2)
    _write_parts(root, parts)
    b, a = butter(2, 0.2, "lowpass")
    out_df = streaming_lfilter(_read_stream(spark, root), b, a, channel_buckets=1)
    assert out_df.schema == _LFILTER_OUT_SCHEMA
    out, n_batches = _run_stream(spark, out_df, "t_lfilt_ragged", "append")
    assert n_batches >= 2
    got = out.toPandas()
    full = pd.concat(parts, ignore_index=True)
    for cid in ("r0", "r1", "r2"):
        g = got[got.channel_id == cid].sort_values("t")
        want = _chained_lfilter(b, a, parts, cid)
        assert np.array_equal(g["value"].to_numpy(), want), cid
        assert np.array_equal(
            g["t"].to_numpy(), np.sort(full[full.channel_id == cid]["t"])
        ), cid
        if cid != "r0":
            x = full[full.channel_id == cid].sort_values("t")["value"]
            assert np.array_equal(want, lfilter(b, a, x.to_numpy())), cid


def _start_to_sink(df, root, name):
    return (
        df.writeStream.format("parquet")
        .option("path", os.path.join(root, "sink", name))
        .option("checkpointLocation", os.path.join(root, "ck", name))
        .trigger(availableNow=True)
        .start()
    )


def test_stateful_ops_restart_from_checkpoint(spark, tmp_path):
    # Both operators stop after batch 2 and restart from their
    # checkpoints for batches 3-4: the delay lines and residues carried
    # through the state store must make the whole output bit-identical
    # to one-shot filtering / counting of each channel.
    from pandas_sigproc_spark.kernels.rainflow import extract_full_cycles_4pt
    from pandas_sigproc_spark.streaming import streaming_rainflow

    root = str(tmp_path)
    src = os.path.join(root, "src")
    os.makedirs(src)
    parts = _ragged_parts(4, lens=(120, 80, 80, 33))
    b, a = butter(2, 0.2, "lowpass")

    def run():
        for name, op in (
            ("lfilter", lambda s: streaming_lfilter(s, b, a, channel_buckets=2)),
            ("rainflow", lambda s: streaming_rainflow(s, channel_buckets=2)),
        ):
            q = _start_to_sink(op(_read_stream(spark, src)), root, name)
            q.awaitTermination(120)
            assert q.exception() is None

    _write_parts(src, parts[:2])
    run()
    _write_parts(src, parts[2:], first=2)
    run()
    filt = spark.read.parquet(os.path.join(root, "sink", "lfilter")).toPandas()
    cyc = spark.read.parquet(os.path.join(root, "sink", "rainflow")).toPandas()
    full = pd.concat(parts, ignore_index=True)
    for cid, g in full.groupby("channel_id"):
        x = g.sort_values("t")["value"].to_numpy()
        got = filt[filt.channel_id == cid].sort_values("t")["value"].to_numpy()
        assert np.array_equal(got, lfilter(b, a, x)), cid
        fulls, _ = extract_full_cycles_4pt(x)
        assert sorted(cyc[cyc.channel_id == cid]["rng"]) == sorted(
            r for r, _ in fulls
        ), cid


def test_restart_with_other_channel_buckets_is_refused(spark, tmp_path):
    # The bucket count is part of the state key: a checkpoint written at
    # channel_buckets=2 restarted at 3 must fail naming both counts
    # instead of silently re-zeroing the remapped channels' state.
    root = str(tmp_path)
    src = os.path.join(root, "src")
    os.makedirs(src)
    parts = _ragged_parts(3, lens=(50,) * 6)
    b, a = butter(2, 0.2, "lowpass")
    _write_parts(src, parts[:2])
    q = _start_to_sink(
        streaming_lfilter(_read_stream(spark, src), b, a, channel_buckets=2),
        root, "lf",
    )
    q.awaitTermination(120)
    assert q.exception() is None and len(q.recentProgress) >= 2
    _write_parts(src, parts[2:], first=2)
    q = _start_to_sink(
        streaming_lfilter(_read_stream(spark, src), b, a, channel_buckets=3),
        root, "lf",
    )
    with pytest.raises(Exception) as ei:
        q.awaitTermination(120)
    msg = str(ei.value)
    assert "channel_buckets=2" in msg and "channel_buckets=3" in msg, msg
