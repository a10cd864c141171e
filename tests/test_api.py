"""Fluent accessor: reference-style chains == operator composition, and
consecutive filter stages auto-fuse into one applyInPandas."""

import re

import numpy as np
from pyspark.sql import functions as F

from pandas_sigproc_spark.api import sigproc
from pandas_sigproc_spark.operators import between, filt_butter, filt_cfc, mov_rms
from tests.conftest import make_signals


def _mk(spark):
    rng = np.random.default_rng(11)
    t = np.arange(0, 2.0, 1 / 2000.0)
    chans = {f"a{i}": (t, rng.standard_normal(len(t))) for i in range(3)}
    return make_signals(spark, chans)


def _vals(df):
    return sorted(
        (r.channel_id, round(r.t, 12), r.value)
        for r in df.select("channel_id", "t", "value").collect()
    )


def test_chain_equals_operator_composition(spark):
    sig = _mk(spark)
    fluent = (
        sigproc(sig)
        .between(0.25, 1.75)
        .filt_butter(300.0, 4, "lowpass")
        .filt_cfc(100.0)
        .mov_rms(0.05, samplerate=2000.0)
        .df
    )
    manual = mov_rms(
        filt_cfc(
            filt_butter(between(sig, 0.25, 1.75), 300.0, 4, "lowpass"),
            100.0,
        ),
        0.05,
        samplerate=2000.0,
    )
    # The filters are the same kernels fused or standalone, and the fused
    # mov_rms stage and the operator share one window-sum kernel.
    a, b = _vals(fluent), _vals(manual)
    assert len(a) == len(b) > 0
    assert a == b


def test_inferred_rate_mov_rms_equals_operator(spark):
    # Without a rate the accessor runs the fused stage (rate inferred per
    # channel); with one it runs the operator's whole-channel body.
    sig = _mk(spark)
    fused = sigproc(sig).mov_rms(0.05).df
    body = sigproc(sig).mov_rms(0.05, samplerate=2000.0).df
    plans = [d._jdf.queryExecution().executedPlan().toString() for d in (fused, body)]
    assert ["_null_value" in p for p in plans] == [False, True]
    a = _vals(fused)
    assert len(a) > 0
    assert a == _vals(body)


def test_consecutive_filters_fuse_to_one_udf_node(spark):
    sig = _mk(spark)
    chained = sigproc(sig).filt_butter(300.0, 4, "lowpass").filt_cfc(100.0).df
    plan = chained._jdf.queryExecution().executedPlan().toString()
    assert plan.count("FlatMapGroupsInPandas") == 1


def test_resample_joins_pending_filter_chain(spark):
    sig = _mk(spark)
    dec = sigproc(sig).filt_butter(300.0, 4, "lowpass").resample(500.0).df
    plan = dec._jdf.queryExecution().executedPlan().toString()
    assert plan.count("FlatMapGroupsInPandas") == 1  # fused decimation
    n = dec.count()
    # ~1000 grid points per channel x 3 channels (end-exclusive grid)
    assert abs(n - 3 * 1000) <= 3


def test_reduction_flushes_pending_stages(spark):
    sig = _mk(spark)
    r = sigproc(sig).filt_butter(300.0, 4, "lowpass").rms()
    got = {x.channel_id: x.rms for x in r.collect()}
    want = {
        x.channel_id: x.rms
        for x in (
            filt_butter(sig, 300.0, 4, "lowpass")
            .groupBy("channel_id")
            .agg(F.sqrt(F.avg(F.col("value") * F.col("value"))).alias("rms"))
            .collect()
        )
    }
    assert got.keys() == want.keys()
    for k in got:
        assert abs(got[k] - want[k]) < 1e-12


def test_rss_through_accessor(spark):
    sig = _mk(spark)
    out = sigproc(sig).rss().df.collect()
    byt = {round(r.t, 12): (r.value, r.n_channels) for r in out}
    rows = _vals(sigproc(sig).df)
    import collections
    want = collections.defaultdict(float)
    for cid, t, v in rows:
        want[t] += v * v
    assert len(byt) == len(want)
    for t, (v, n) in byt.items():
        assert n == 3
        assert abs(v - np.sqrt(want[t])) < 1e-9


def test_sandwiched_window_math_fuses_to_one_udf_node(spark):
    # filt -> detrend -> filt -> mov_rms: the window-math ops join the
    # fused kernel, so the whole chain is ONE applyInPandas.
    sig = _mk(spark)
    out = (
        sigproc(sig)
        .filt_butter(300.0, 4, "lowpass")
        .detrend("linear")
        .filt_cfc(100.0)
        .mov_rms(0.05, samplerate=2000.0)
        .df
    )
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert plan.count("FlatMapGroupsInPandas") == 1

    from pandas_sigproc_spark.operators import detrend, filt_cfc as _cfc

    manual = mov_rms(
        _cfc(detrend(filt_butter(sig, 300.0, 4, "lowpass"), "linear"), 100.0),
        0.05,
        samplerate=2000.0,
    )
    a, b = _vals(out), _vals(manual)
    assert len(a) == len(b) > 0
    for (ca, ta, va), (cb, tb, vb) in zip(a, b):
        assert (ca, ta) == (cb, tb)
        assert abs(va - vb) <= 1e-9 * max(1.0, abs(vb))


def test_standalone_window_math_stays_native(spark):
    sig = _mk(spark)
    out = sigproc(sig).detrend("linear").df
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "FlatMapGroupsInPandas" not in plan


def test_freqdomain_accessor_surface(spark):
    # A spectra DataFrame wraps in the same accessor: between on the freq
    # axis, log-log interp, and the two spectrum-RMS reductions mirror the
    # reference's freqdomain accessor (extension.py:19-230).
    import pandas as pd

    from pandas_sigproc_spark.operators import interp1d_log, rms_lin, rms_log

    freq = np.array([10.0, 20.0, 40.0, 80.0, 160.0])
    power = 100.0 * freq ** -1.0
    spectra = spark.createDataFrame(
        pd.DataFrame(
            {"channel_id": "ch0", "freq": freq, "power": power}
        )
    )
    acc = sigproc(spectra)

    kept = acc.between(15.0, 90.0, axis="freq").df.collect()
    assert sorted(r.freq for r in kept) == [20.0, 40.0, 80.0]

    got = acc.rms_lin().collect()[0]
    want = rms_lin(spectra).collect()[0]
    assert got.rms_lin == want.rms_lin

    got = acc.rms_log().collect()[0]
    want = rms_log(spectra).collect()[0]
    assert got.rms_log == want.rms_log

    grid = spark.createDataFrame(
        pd.DataFrame({"channel_id": "ch0", "freq": [30.0, 60.0]})
    )
    fluent = acc.interp1d_log(grid).df
    manual = interp1d_log(spectra, grid)
    fv = {round(r.freq, 9): r.power for r in fluent.collect()}
    mv = {round(r.freq, 9): r.power for r in manual.collect()}
    assert fv == mv
    # power ~ f^-1 is a straight line in log-log: interp is exact there
    for f0, p0 in fv.items():
        assert abs(p0 - 100.0 / f0) < 1e-9


def test_default_bucket_count_comes_from_the_planner(spark):
    # Two small channels: the planner caps the buckets at one channel per
    # group, so the flushed chain plans one id-passthrough exchange with
    # min(2, P) partitions (a fixed default of 32 buckets planned P).
    t = np.arange(0, 0.5, 1 / 2000.0)
    sig = make_signals(spark, {"u": (t, np.sin(t)), "v": (t, np.cos(t))})
    out = sigproc(sig).filt_butter(300.0, 4, "lowpass").filt_a().df
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert re.findall(r"Exchange (\w+)\(", plan) == ["shufflepartitionidpassthrough"]
    n_parts = re.search(r"direct_shuffle_partition_id\(_b#\d+\), (\d+)\)", plan)
    assert int(n_parts.group(1)) == min(2, spark.sparkContext.defaultParallelism)
    # Explicit counts keep their meaning.
    plan32 = sigproc(sig, 32).filt_a().df._jdf.queryExecution().executedPlan().toString()
    n32 = re.search(r"direct_shuffle_partition_id\(_b#\d+\), (\d+)\)", plan32)
    assert int(n32.group(1)) == min(32, spark.sparkContext.defaultParallelism)
    assert "Exchange hashpartitioning(channel_id" in (
        sigproc(sig, None).filt_a().df._jdf.queryExecution().executedPlan().toString()
    )
