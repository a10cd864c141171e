"""Kernel-tier (applyInPandas) operator tests: filters, PSD, SRS, rainflow,
spline interp — Spark results vs the NumPy kernels run directly (shuffle-
invariance: Spark must reproduce the single-process kernel bit-for-bit-ish),
plus analytic anchors."""

import re

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from pandas_sigproc_spark import kernels as K
from pandas_sigproc_spark.operators import (
    filt_a,
    filt_butter,
    filt_cfc,
    get_psd,
    get_srs,
    interp1d_spline,
    rainflow,
)
from tests.conftest import make_signals


def one_channel(df, cid, xcol="t"):
    pdf = df.filter(F.col("channel_id") == cid).orderBy(xcol).toPandas()
    return pdf[xcol].to_numpy(), pdf.iloc[:, -1].to_numpy()


@pytest.fixture(scope="module")
def two_tone(spark):
    fs = 8000.0
    t = np.arange(0, 1.0, 1 / fs)
    v = np.sin(2 * np.pi * 50 * t) + 0.5 * np.sin(2 * np.pi * 2000 * t)
    return make_signals(spark, {"a": (t, v), "b": (t, 2 * v)}), t, v, fs


class TestFilters:
    def test_butter_lowpass_splits_tones(self, spark, two_tone):
        df, t, v, fs = two_tone
        out = filt_butter(df, 500.0, 2, "lowpass")
        tt, y = one_channel(out, "a")
        # Only the 50 Hz tone survives: RMS ~ 1/sqrt2, and matches kernel.
        assert np.sqrt(np.mean(y**2)) == pytest.approx(1 / np.sqrt(2), rel=1e-2)
        b, a = K.butter(1, 500.0 / (fs / 2), "lowpass")
        np.testing.assert_allclose(y, K.filtfilt(b, a, v), rtol=1e-9, atol=1e-12)
        # Channel b is 2x channel a: linearity across groups.
        _, y2 = one_channel(out, "b")
        np.testing.assert_allclose(y2, 2 * y, rtol=1e-9)

    def test_butter_odd_order_bumped(self, spark, two_tone):
        df, t, v, fs = two_tone
        out3 = filt_butter(df, 500.0, 3, "lowpass")
        out4 = filt_butter(df, 500.0, 4, "lowpass")
        _, y3 = one_channel(out3, "a")
        _, y4 = one_channel(out4, "a")
        np.testing.assert_allclose(y3, y4, rtol=1e-12)

    def test_cfc_matches_kernel(self, spark, two_tone):
        df, t, v, fs = two_tone
        tt, y = one_channel(filt_cfc(df, 180.0), "a")
        b, a = K.cfc_coefficients(180.0, fs)
        np.testing.assert_allclose(y, K.filtfilt(b, a, v), rtol=1e-9, atol=1e-12)

    def test_filt_a_causal(self, spark):
        fs = 48000.0
        t = np.arange(0, 0.5, 1 / fs)
        v = np.sin(2 * np.pi * 1000 * t)
        df = make_signals(spark, {"c": (t, v)})
        tt, y = one_channel(filt_a(df), "c")
        b, a = K.a_weighting(fs)
        np.testing.assert_allclose(y, K.lfilter(b, a, v), rtol=1e-9, atol=1e-12)
        # 0 dB at 1 kHz once settled.
        assert np.sqrt(np.mean(y[4000:] ** 2)) == pytest.approx(
            1 / np.sqrt(2), rel=2e-2
        )

    def test_nonuniform_channel_rejected(self, spark):
        t = np.sort(np.random.default_rng(0).uniform(0, 1, 500))
        df = make_signals(spark, {"c": (t, np.ones_like(t))})
        with pytest.raises(Exception, match="non-uniform"):
            filt_butter(df, 10.0, 2, "lowpass").collect()


class TestPsd:
    def test_periodogram_path_parseval(self, spark, two_tone):
        df, t, v, fs = two_tone
        out = get_psd(df, samplerate=fs)
        f, p = one_channel(out.filter(F.col("channel_id") == "a"), "a", "freq")
        rms_psd = np.sqrt(np.trapz(p, f))
        assert rms_psd == pytest.approx(np.sqrt(np.mean(v**2)), rel=1e-2)
        assert np.all(f > 0)

    def test_welch_matches_kernel(self, spark, two_tone):
        df, t, v, fs = two_tone
        out = get_psd(df, window_length=0.25, overlap=0.5, samplerate=fs)
        f, p = one_channel(out.filter(F.col("channel_id") == "a"), "a", "freq")
        fg, pg = K.welch_psd(v, fs, 0.25, 0.5)
        np.testing.assert_allclose(f, fg)
        np.testing.assert_allclose(p, pg, rtol=1e-9)

    def test_segmented_scale_path_matches_whole(self, spark, two_tone):
        df, t, v, fs = two_tone
        whole = get_psd(df, window_length=0.25, overlap=0.5, samplerate=fs)
        seg = get_psd(
            df, window_length=0.25, overlap=0.5, samplerate=fs, segmented=True
        )
        w = whole.orderBy("channel_id", "freq").toPandas()
        s = seg.orderBy("channel_id", "freq").toPandas()
        np.testing.assert_allclose(s["freq"], w["freq"])
        np.testing.assert_allclose(s["power"], w["power"], rtol=1e-9)

    @pytest.mark.parametrize("summarize", ["mean", "all"])
    def test_segmented_halo_over_several_steps_matches_whole(
        self, spark, two_tone, summarize
    ):
        # overlap 0.75: every sample sits in 4 segments, so a segment's
        # halo reaches 3 chunks past its own
        df, t, v, fs = two_tone
        kw = dict(window_length=0.25, overlap=0.75, samplerate=fs, summarize=summarize)
        keys = ["channel_id", "freq"] + (["seg"] if summarize == "all" else [])
        w = get_psd(df, **kw).orderBy(*keys).toPandas()
        s = get_psd(df, segmented=True, **kw).orderBy(*keys).toPandas()
        assert len(s) == len(w)
        np.testing.assert_allclose(s["freq"], w["freq"])
        np.testing.assert_allclose(s["power"], w["power"], rtol=1e-9)
        if summarize == "all":
            assert (s["seg"].to_numpy() == w["seg"].to_numpy()).all()

    @pytest.mark.parametrize("grid", ["jitter", "gap"])
    def test_segmented_refuses_a_non_uniform_grid(self, spark, grid):
        fs = 1000.0
        t = np.arange(4000) / fs
        if grid == "jitter":
            t = t + np.random.default_rng(5).uniform(-0.6, 0.6, t.size) / fs
        else:
            t = np.delete(t, np.arange(1500, 1510))
        df = make_signals(spark, {"c": (t, np.sin(2 * np.pi * 40 * t))})
        with pytest.raises(Exception, match="non-consecutive sample index"):
            get_psd(
                df, window_length=0.5, samplerate=fs, segmented=True
            ).collect()

    @pytest.mark.parametrize("mode", ["median", "max", "min", "max rms", "damage"])
    def test_segmented_summarize_modes_match_kernel(self, spark, mode):
        fs = 2000.0
        t = np.arange(0, 4.0, 1 / fs)
        rng = np.random.default_rng(7)
        v = rng.standard_normal(len(t)) * np.linspace(0.5, 2.0, len(t))
        df = make_signals(spark, {"c": (t, v)})
        out = get_psd(
            df, window_length=0.5, overlap=0.5, summarize=mode,
            samplerate=fs, segmented=True,
        )
        f, p = one_channel(out, "c", "freq")
        fg, pg = K.welch_psd(v, fs, 0.5, 0.5, summarize=mode)
        np.testing.assert_allclose(f, fg)
        np.testing.assert_allclose(p, pg, rtol=1e-8)


class TestSrs:
    def test_half_sine_asymptote(self, spark):
        fs = 20000.0
        t = np.arange(0, 0.3, 1 / fs)
        pulse = np.where(t < 0.011, 10.0 * np.sin(np.pi * t / 0.011), 0.0)
        df = make_signals(spark, {"shock": (t, pulse)})
        out1 = get_srs(df).orderBy("freq").toPandas()
        fn = K.build_freq_array()
        assert len(out1) == len(fn)
        pos, neg = K.srs(t, pulse, fn)
        np.testing.assert_allclose(out1["power"], np.maximum(pos, neg), rtol=1e-9)

    def test_remove_bias_matches_unbiased(self, spark):
        # Reference tools.py:305,345-348: remove_bias subtracts the signal
        # mean before the Smallwood recursion.  A constant-offset pulse with
        # remove_bias=True must reproduce the zero-mean pulse's SRS.
        fs = 20000.0
        t = np.arange(0, 0.3, 1 / fs)
        pulse = np.where(t < 0.011, 10.0 * np.sin(np.pi * t / 0.011), 0.0)
        centered = pulse - pulse.mean()
        df_biased = make_signals(spark, {"shock": (t, centered + 5.0)})
        df_clean = make_signals(spark, {"shock": (t, centered)})
        want = get_srs(df_clean).orderBy("freq").toPandas()
        for nb in ("auto", 3):
            out = get_srs(df_biased, remove_bias=True, n_buckets=nb)
            # the mean is taken in the kernel body: no exchange of its
            # own before the channel (or bucket) exchange
            plan = out._jdf.queryExecution().executedPlan().toString()
            assert len(re.findall(r"Exchange \w+\(", plan)) == 1, plan
            got = out.orderBy("freq").toPandas()
            np.testing.assert_allclose(got["power"], want["power"], rtol=1e-9)
        # and WITHOUT the flag the bias dominates the low-freq asymptote,
        # proving the flag actually changes the computation.
        raw = get_srs(df_biased).orderBy("freq").toPandas()
        assert raw["power"].iloc[0] > 2 * want["power"].iloc[0]


class TestRainflow:
    def test_astm_sequence_per_channel(self, spark):
        seq = np.array([-2, 1, -3, 5, -1, 3, -4, 4, -2], dtype=float)
        t = np.arange(len(seq), dtype=float)
        df = make_signals(spark, {"c1": (t, seq), "c2": (t, 2 * seq)})
        out = rainflow(df).orderBy("channel_id", "bin").toPandas()
        c1 = out[out.channel_id == "c1"]
        assert list(zip(c1["bin"], c1["cycles"])) == [
            (3.0, 0.5), (4.0, 1.5), (6.0, 0.5), (8.0, 1.0), (9.0, 0.5),
        ]
        c2 = out[out.channel_id == "c2"]
        np.testing.assert_allclose(c2["bin"], 2 * c1["bin"].to_numpy())

    def test_binned(self, spark):
        seq = np.array([-2, 1, -3, 5, -1, 3, -4, 4, -2], dtype=float)
        t = np.arange(len(seq), dtype=float)
        df = make_signals(spark, {"c": (t, seq)})
        out = rainflow(df, nbins=3).toPandas()
        assert out["cycles"].sum() == pytest.approx(4.0)


class TestSplineInterp:
    def test_cubic_via_spark(self, spark):
        x = np.linspace(0, 5, 25)
        y = x**3 - 2 * x**2 + 3
        x2 = np.linspace(0, 5, 101)
        df = make_signals(spark, {"c": (x, y)})
        grid = spark.createDataFrame(
            pd.DataFrame({"channel_id": "c", "t": x2}), "channel_id string, t double"
        )
        out = interp1d_spline(df, grid, "cubic").orderBy("t").toPandas()
        np.testing.assert_allclose(
            out["value"], x2**3 - 2 * x2**2 + 3, atol=1e-8
        )

    def test_missing_grid_channel_empty(self, spark):
        x = np.linspace(0, 5, 10)
        df = make_signals(spark, {"c": (x, x)})
        grid = spark.createDataFrame(
            pd.DataFrame({"channel_id": "other", "t": [1.0]}),
            "channel_id string, t double",
        )
        assert interp1d_spline(df, grid, "cubic").count() == 0
