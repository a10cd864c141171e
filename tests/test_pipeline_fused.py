"""Fused kernel pipeline == chained standalone operators, with fewer
Python-UDF plan nodes (the SURVEY §4.2 fusion gap)."""

import numpy as np

from pandas_sigproc_spark.operators.filters import filt_a, filt_butter, filt_cfc
from pandas_sigproc_spark.pipeline import KernelPipeline
from tests.conftest import make_signals


def _mk(spark):
    rng = np.random.default_rng(7)
    t = np.arange(0, 1.0, 1 / 4000.0)
    chans = {f"ch{i}": (t, rng.standard_normal(len(t))) for i in range(3)}
    return make_signals(spark, chans)


def _collect(df):
    rows = df.select("channel_id", "t", "value").collect()
    return sorted((r.channel_id, round(r.t, 12), r.value) for r in rows)


def test_fused_equals_chained(spark):
    # n_buckets=None on the standalone side matches apply()'s per-channel
    # default: same kernels in the same order -> bit-identical.  (These
    # 4000-sample channels take the FFT path, where the bucketed BATCH
    # kernels are rtol-close but not bit-equal — the auto default is
    # compared separately below.)
    sig = _mk(spark)
    chained = filt_cfc(
        filt_butter(sig, 600.0, 4, "lowpass", n_buckets=None), 180.0, n_buckets=None
    )
    fused = (
        KernelPipeline().filt_butter(600.0, 4, "lowpass").filt_cfc(180.0).apply(sig)
    )
    a, b = _collect(chained), _collect(fused)
    assert len(a) == len(b) > 0
    for (ca, ta, va), (cb, tb, vb) in zip(a, b):
        assert (ca, ta) == (cb, tb)
        assert va == vb  # same kernels in the same order: bit-identical


def test_auto_mode_close_on_fft_path(spark):
    # Long channels: auto picks the bucketed batch kernels, which take
    # the FFT path — pinned to the per-channel result at 1e-9 (the same
    # tolerance the batch kernels document).
    sig = _mk(spark)
    auto = _collect(filt_butter(sig, 600.0, 4, "lowpass"))
    per = _collect(filt_butter(sig, 600.0, 4, "lowpass", n_buckets=None))
    assert len(auto) == len(per) > 0
    for (ca, ta, va), (cb, tb, vb) in zip(auto, per):
        assert (ca, ta) == (cb, tb)
        assert abs(va - vb) <= 1e-9 * max(1.0, abs(vb))


def test_fused_single_python_stage(spark):
    sig = _mk(spark)
    fused = KernelPipeline().filt_butter(600.0, 4, "lowpass").filt_cfc(180.0).apply(sig)
    chained = filt_cfc(
        filt_butter(sig, 600.0, 4, "lowpass", n_buckets=None), 180.0, n_buckets=None
    )
    plan_f = fused._jdf.queryExecution().executedPlan().toString()
    plan_c = chained._jdf.queryExecution().executedPlan().toString()
    assert plan_f.count("FlatMapGroupsInPandas") == 1
    assert plan_c.count("FlatMapGroupsInPandas") == 2


def test_fused_bucketed_equals_per_channel(spark):
    sig = _mk(spark)
    pipe = KernelPipeline().filt_butter(600.0, 4, "lowpass").filt_a()
    per_ch = _collect(pipe.apply(sig))
    bucketed = _collect(pipe.apply(sig, n_buckets=4))
    assert per_ch == bucketed


def test_fused_decimation_equals_chained(spark):
    # filt -> resample fused (anti-aliased decimation in one kernel) vs
    # the standalone operators chained: relational linear interp vs the
    # NumPy kernel interp share the same formula up to summation order,
    # so compare with a float tolerance rather than bit equality.
    from pandas_sigproc_spark.operators.joins import resample

    sig = _mk(spark)
    chained = {
        (r.channel_id, round(r.t, 9)): r.value
        for r in resample(filt_butter(sig, 400.0, 4, "lowpass"), 1000.0).collect()
    }
    fused = {
        (r.channel_id, round(r.t, 9)): r.value
        for r in (
            KernelPipeline()
            .filt_butter(400.0, 4, "lowpass")
            .resample(1000.0)
            .apply(sig)
        ).collect()
    }
    assert fused.keys() == chained.keys() and len(fused) > 0
    for k, v in fused.items():
        assert abs(v - chained[k]) <= 1e-9 * max(1.0, abs(v)), k


def test_fused_decimation_bucketed_equals_per_channel(spark):
    sig = _mk(spark)
    pipe = KernelPipeline().filt_butter(400.0, 4, "lowpass").resample(1000.0)
    assert _collect(pipe.apply(sig)) == _collect(pipe.apply(sig, n_buckets=4))


def test_lineage_name():
    pipe = KernelPipeline().filt_butter(600.0, 4, "lowpass").filt_a()
    assert pipe.lineage_name("x") == "a_weighting(butter(x))"
    pipe2 = KernelPipeline().filt_cfc(100.0).resample(50.0)
    assert pipe2.lineage_name("x") == "resample(cfc(x))"


def test_fused_window_math_stages_equal_native(spark):
    # detrend / mov_rms / integral / derivative as fused stages match the
    # standalone operators: the same math, and for mov_rms the same
    # window-sum kernel; the others sum in a different order.
    from pandas_sigproc_spark.operators.windows import (
        derivative,
        detrend,
        integral,
        mov_rms,
    )

    sig = _mk(spark)
    filt = filt_butter(sig, 600.0, 4, "lowpass")
    cases = {
        "detrend": (
            detrend(filt, "linear"),
            KernelPipeline().filt_butter(600.0, 4, "lowpass").detrend("linear"),
        ),
        "mov_rms": (
            mov_rms(filt, 0.05, samplerate=4000.0),
            KernelPipeline()
            .filt_butter(600.0, 4, "lowpass")
            .mov_rms(0.05, samplerate=4000.0),
        ),
        "integral": (
            integral(filt),
            KernelPipeline().filt_butter(600.0, 4, "lowpass").integral(),
        ),
        "derivative": (
            derivative(filt),
            KernelPipeline().filt_butter(600.0, 4, "lowpass").derivative(),
        ),
    }
    for name, (native_df, pipe) in cases.items():
        a, b = _collect(native_df), _collect(pipe.apply(sig, n_buckets=4))
        assert len(a) == len(b) > 0, name
        for (ca, ta, va), (cb, tb, vb) in zip(a, b):
            assert (ca, ta) == (cb, tb), name
            if name == "mov_rms":
                # one window-sum kernel behind both: the same bits
                assert va == vb, (name, ta, va, vb)
            else:
                assert abs(va - vb) <= 1e-9 * max(1.0, abs(va)), (name, ta, va, vb)


def test_fused_detrend_breakpoints_equals_native(spark):
    from pandas_sigproc_spark.operators.windows import detrend

    sig = _mk(spark)
    filt = filt_butter(sig, 600.0, 4, "lowpass")
    native = _collect(detrend(filt, "linear", breakpoints=[1000, 2500]))
    fused = _collect(
        KernelPipeline()
        .filt_butter(600.0, 4, "lowpass")
        .detrend("linear", breakpoints=[1000, 2500])
        .apply(sig)
    )
    assert len(native) == len(fused) > 0
    for (ca, ta, va), (cb, tb, vb) in zip(native, fused):
        assert (ca, ta) == (cb, tb)
        assert abs(va - vb) <= 1e-9 * max(1.0, abs(va))


def test_emptying_stage_propagates_clean(spark):
    # r14 review finding: mov_rms with a window longer than a short
    # channel empties it; a following integral built a length-1 [0.0]
    # against a length-0 time base (pandas ValueError) and resample
    # crashed on t[0] — one short channel would kill a 100 TB fused job.
    import numpy as np

    from pandas_sigproc_spark.pipeline.fused import KernelPipeline

    rows = [("short", float(i) / 10.0, float(i)) for i in range(3)] + [
        ("long", float(i) / 10.0, float(np.sin(i / 5.0))) for i in range(200)
    ]
    df = spark.createDataFrame(rows, "channel_id string, t double, value double")
    for build in (
        lambda p: p.mov_rms(5.0).integral(),
        lambda p: p.mov_rms(5.0).resample(10.0),
        lambda p: p.mov_rms(5.0).derivative(),
    ):
        out = build(KernelPipeline()).apply(df).collect()
        cids = {r["channel_id"] for r in out}
        assert cids == {"long"}, cids  # short channel empties, long survives


def test_emptying_stage_before_filter_propagates_clean(spark):
    # r14 high-effort review: the first empty guard landed only in
    # integral/resample — a FILTER stage after the emptying mov_rms
    # still crashed (filtfilt: input length 0 < padlen).  The guard now
    # lives in the stage loop, covering every stage.
    import numpy as np

    from pandas_sigproc_spark.pipeline.fused import KernelPipeline

    rows = [("short", float(i) / 10.0, float(i)) for i in range(3)] + [
        ("long", float(i) / 100.0, float(np.sin(i / 5.0))) for i in range(500)
    ]
    df = spark.createDataFrame(rows, "channel_id string, t double, value double")
    for build in (
        lambda p: p.mov_rms(0.5).filt_butter(2.0, 2, "lowpass"),
        lambda p: p.mov_rms(0.5).filt_cfc(60.0),
        lambda p: p.mov_rms(0.5).detrend("linear"),
    ):
        # short: 3 samples at sr 10 -> n=5 window empties it; long: 500
        # samples at sr 100 -> n=50 window leaves plenty
        out = build(KernelPipeline()).apply(df).collect()
        assert {r["channel_id"] for r in out} == {"long"}
        # bucketed path takes the same guard
        out_b = build(KernelPipeline()).apply(df, n_buckets=2).collect()
        assert {r["channel_id"] for r in out_b} == {"long"}


def test_short_channel_filter_error_is_located(spark):
    # r14 third review pass: a channel SHRUNK (not emptied) below the
    # filter's padlen mid-chain raises the kernel's reference-parity
    # refusal — but it must name the stage and the channel, not abort
    # the task with an anonymous 'input length must exceed padlen'.
    import pytest as _pytest

    from pandas_sigproc_spark.pipeline.fused import KernelPipeline

    rows = [("tiny", float(i) / 10.0, float(i)) for i in range(8)]
    df = spark.createDataFrame(rows, "channel_id string, t double, value double")
    pipe = KernelPipeline().mov_rms(0.5).filt_butter(2.0, 2, "lowpass")
    with _pytest.raises(Exception, match="fused stage.*tiny.*rows at this stage"):
        pipe.apply(df).collect()
    # a leading filter stage runs batched: the error names every channel
    # of the group with its row count, under either group key.  The
    # standalone zero-phase filters run the same body (filt_a is causal:
    # lfilter has no padlen to refuse)
    for nb in (None, 2):
        for run in (
            lambda d: KernelPipeline()
            .filt_butter(2.0, 2, "lowpass")
            .apply(d, n_buckets=nb),
            lambda d: filt_butter(d, 2.0, 2, "lowpass", n_buckets=nb),
            lambda d: filt_cfc(d, 60.0, n_buckets=nb),
        ):
            with _pytest.raises(Exception, match=r"fused stage.*'tiny' \(5 rows\)"):
                run(df.limit(5)).collect()


def test_infer_sr_error_is_located(spark):
    # r15 review finding: _infer_sr's refusals (1-row channel,
    # non-uniform grid) escaped from OUTSIDE the stage wrapper as
    # anonymous ValueErrors — a straggler channel aborted the task with
    # no channel name.  Both apply() paths must locate them.
    import pytest as _pytest

    from pandas_sigproc_spark.pipeline.fused import KernelPipeline

    rows = [("lonely", 0.0, 1.0)] + [
        ("ok", float(i) / 100.0, float(i)) for i in range(300)
    ]
    df = spark.createDataFrame(rows, "channel_id string, t double, value double")
    pipe = KernelPipeline().filt_butter(2.0, 2, "lowpass")
    with _pytest.raises(Exception, match="samplerate for channel 'lonely'"):
        pipe.apply(df).collect()
    with _pytest.raises(Exception, match="samplerate for channel 'lonely'"):
        KernelPipeline().filt_butter(2.0, 2, "lowpass").apply(
            df, n_buckets=2
        ).collect()
    # the standalone filters run the same body
    for nb in (None, 2):
        for run in (
            lambda d: filt_butter(d, 2.0, 2, "lowpass", n_buckets=nb),
            lambda d: filt_cfc(d, 60.0, n_buckets=nb),
            lambda d: filt_a(d, n_buckets=nb),
        ):
            with _pytest.raises(Exception, match="samplerate for channel 'lonely'"):
                run(df).collect()


def test_window_math_chain_accepts_nonuniform(spark):
    # r15 review finding: sr was inferred EAGERLY even when no stage in
    # the chain reads it, so a detrend -> integral chain refused
    # non-uniform channels that the standalone window-math operators
    # accept (SURVEY §7.3.3).  Inference is now lazy at first use.
    import numpy as np

    from pandas_sigproc_spark.pipeline.fused import KernelPipeline

    # deliberately non-uniform spacing
    ts = np.cumsum(np.tile([0.1, 0.3, 0.2], 20))
    rows = [("nu", float(t), float(np.sin(t))) for t in ts]
    df = spark.createDataFrame(rows, "channel_id string, t double, value double")
    out = (
        KernelPipeline()
        .detrend("linear")
        .integral()
        .apply(df)
        .orderBy("t")
        .collect()
    )
    assert len(out) == len(rows)
    assert out[0]["value"] == 0.0  # integral's first-sample zero
    # bucketed path too
    out_b = (
        KernelPipeline()
        .detrend("linear")
        .integral()
        .apply(df, n_buckets=2)
        .orderBy("t")
        .collect()
    )
    assert [r["value"] for r in out_b] == [r["value"] for r in out]
    # a filter appended to the chain still refuses, by name
    import pytest as _pytest

    with _pytest.raises(Exception, match="non-uniform|samplerate"):
        KernelPipeline().detrend("linear").filt_butter(
            2.0, 2, "lowpass"
        ).apply(df).collect()
