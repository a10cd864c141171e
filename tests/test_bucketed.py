"""Bucketed (many-channels-per-task) execution must be numerically
identical to per-channel execution — one body, different group keys.
This is the shuffle-invariance scale test of SURVEY.md §5.2.5: every
operator case runs the per-channel side with ``n_buckets=None`` (the
``"auto"`` default buckets these fleets too)."""

import re

import numpy as np
import pytest
from pyspark.sql import functions as F

from pandas_sigproc_spark import kernels as K
from pandas_sigproc_spark.kernels.iir_batch import (
    filtfilt_batch_ragged,
    lfilter_batch_ragged,
)
from pandas_sigproc_spark.operators import filt_a, filt_butter, get_psd, get_srs
from pandas_sigproc_spark.planner import group_apply
from tests.conftest import make_signals


@pytest.fixture(scope="module")
def many_channels(spark):
    rng = np.random.default_rng(42)
    fs = 500.0
    t = np.arange(0, 2.0, 1 / fs)
    chans = {f"ch{i:02d}": (t, rng.standard_normal(len(t))) for i in range(12)}
    # One odd-length channel to exercise the leftover (non-batchable) path.
    t_odd = np.arange(0, 1.5, 1 / fs)
    chans["odd"] = (t_odd, rng.standard_normal(len(t_odd)))
    return make_signals(spark, chans), fs


class TestBatchKernels:
    def test_lfilter_batch_matches_rows(self):
        # equal-length rows above the 2,048-sample loop cutover keep the
        # 1-D kernel's bits whatever else shares the call
        rng = np.random.default_rng(0)
        X = list(rng.standard_normal((5, 4000)))
        b, a = K.butter(3, 0.2, "lowpass")
        Y = lfilter_batch_ragged(b, a, X)
        for i in range(5):
            np.testing.assert_array_equal(Y[i], K.lfilter(b, a, X[i]))

    def test_filtfilt_batch_matches_rows(self):
        rng = np.random.default_rng(1)
        X = list(rng.standard_normal((7, 3000)))
        b, a = K.butter(2, 0.1, "lowpass")
        Y = filtfilt_batch_ragged(b, a, X)
        for i in range(7):
            np.testing.assert_array_equal(Y[i], K.filtfilt(b, a, X[i]))

    def test_srs_multi_matches_single(self):
        rng = np.random.default_rng(2)
        fs = 1000.0
        t = np.arange(0, 1.0, 1 / fs)
        X = rng.standard_normal((4, len(t)))
        fn = K.build_freq_array(10, 100)
        from pandas_sigproc_spark.kernels.srs import srs_multi

        pos_m, neg_m = srs_multi(X, 1 / fs, fn)
        for i in range(4):
            pos, neg = K.srs(t, X[i], fn)
            np.testing.assert_array_equal(pos_m[i], pos)
            np.testing.assert_array_equal(neg_m[i], neg)


def test_channel_arrays_sorts_each_channel_and_keeps_null_ids():
    import pandas as pd

    from pandas_sigproc_spark.planner import channel_arrays

    pdf = pd.DataFrame(
        {"channel_id": ["b", None, "a", "b", None, "a"],
         "t": [2.0, 1.0, 1.0, 1.0, 0.0, 0.0],
         "value": [1.0, 2.0, 3.0, 4.0, 5.0, 6.0]}
    )
    got = {cid: (t.tolist(), y.tolist()) for cid, t, y in channel_arrays(pdf)}
    assert got == {
        "a": ([0.0, 1.0], [6.0, 3.0]),
        "b": ([1.0, 2.0], [4.0, 1.0]),
        None: ([0.0, 1.0], [5.0, 2.0]),
    }
    # one channel (the per-channel key), and rows already in (channel, t)
    # order, take the shortcuts: same triples
    for cids, ts in (
        (["a", "a", "a"], [2.0, 0.0, 1.0]),
        ([None, None, None], [2.0, 0.0, 1.0]),
        (["b", "b", "a", "a"], [0.0, 1.0, 0.0, 1.0]),
        (["b", "b", "a", "b"], [0.0, 1.0, 0.0, 2.0]),
    ):
        pdf = pd.DataFrame({"channel_id": cids, "t": ts,
                            "value": np.arange(len(ts), dtype=float)})
        got = {cid: (t.tolist(), y.tolist()) for cid, t, y in channel_arrays(pdf)}
        want = {
            cid: (g["t"].tolist(), g["value"].tolist())
            for cid, g in pdf.sort_values("t").groupby("channel_id", dropna=False)
        }
        want = {None if cid is None or cid != cid else cid: v for cid, v in want.items()}
        assert got == want, (cids, ts)


class TestBucketPlacement:
    """``group_apply`` places bucket ``b`` on shuffle partition ``b mod P``
    through one id-passthrough exchange, so each task slot runs the same
    number of groups (a hash exchange would place the bucket ids again)."""

    @staticmethod
    def _placed(df, k):
        schema = "channel_id string, t double, value double"
        out = group_apply(df, lambda pdf: pdf, schema, k)
        return out, out.select(
            "channel_id",
            F.pmod(F.hash("channel_id"), F.lit(k)).alias("b"),
            F.spark_partition_id().alias("pid"),
        )

    @pytest.mark.parametrize("ratio", ["below", "equal", "above"])
    def test_one_passthrough_exchange(self, spark, many_channels, ratio):
        p = spark.sparkContext.defaultParallelism
        k = {"below": max(p // 2, 1), "equal": p, "above": 2 * p + 1}[ratio]
        out, _ = self._placed(many_channels[0], k)
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert re.findall(r"Exchange (\w+)\(", plan) == [
            "shufflepartitionidpassthrough"
        ], plan
        n_parts = re.search(r"direct_shuffle_partition_id\(_b#\d+\), (\d+)\)", plan)
        assert int(n_parts.group(1)) == min(k, p), plan

    @pytest.mark.parametrize("ratio", ["equal", "above"])
    def test_bucket_b_sits_in_partition_b_mod_p(self, spark, ratio):
        p = spark.sparkContext.defaultParallelism
        # K = P, and a K > P that is not a multiple of P (for P > 1)
        k = {"equal": p, "above": 2 * p + 1}[ratio]
        t = np.arange(8.0)
        df = make_signals(spark, {f"c{i:03d}": (t, t * i) for i in range(6 * k)})
        _, placed = self._placed(df.drop("ts"), k)
        rows = placed.toPandas()
        assert len(rows) == 6 * k * len(t)
        pids = rows.groupby("b")["pid"].unique()
        assert sorted(pids.index) == list(range(k))
        for b, pid in pids.items():
            assert list(pid) == [b % p], (b, list(pid))


class TestBucketedOperators:
    def _same(self, a_df, b_df, keys):
        a = a_df.orderBy(*keys).toPandas()
        b = b_df.orderBy(*keys).toPandas()
        assert len(a) == len(b)
        assert a.equals(b), "bucketed output differs from per-channel bits"

    def test_filt_butter_bucketed(self, spark, many_channels):
        df, fs = many_channels
        # 3 buckets, and one per task slot (the planner's fleet count)
        for nb in (3, spark.sparkContext.defaultParallelism):
            self._same(
                filt_butter(df, 50.0, 2, "lowpass", n_buckets=None),
                filt_butter(df, 50.0, 2, "lowpass", n_buckets=nb),
                ["channel_id", "t"],
            )

    def test_filt_a_bucketed(self, spark, many_channels):
        df, fs = many_channels
        # A-weighting needs audio-ish rates; rescale time to pretend 48k.
        fast = df.select("channel_id", (F.col("t") / 96.0).alias("t"), "value")
        self._same(
            filt_a(fast, n_buckets=None),
            filt_a(fast, n_buckets=3),
            ["channel_id", "t"],
        )

    def test_psd_bucketed(self, spark, many_channels):
        df, fs = many_channels
        for nb in (3, spark.sparkContext.defaultParallelism):
            self._same(
                get_psd(df, window_length=0.5, samplerate=fs, n_buckets=None),
                get_psd(df, window_length=0.5, samplerate=fs, n_buckets=nb),
                ["channel_id", "freq"],
            )

    @pytest.mark.parametrize("mode", ["median", "max rms", "damage"])
    def test_psd_bucketed_summarize(self, spark, many_channels, mode):
        df, fs = many_channels
        self._same(
            get_psd(df, window_length=0.5, summarize=mode, samplerate=fs,
                    n_buckets=None),
            get_psd(df, window_length=0.5, summarize=mode, samplerate=fs, n_buckets=4),
            ["channel_id", "freq"],
        )

    @pytest.mark.parametrize("window_length", [0.5, None])
    def test_psd_all_bucketed(self, spark, many_channels, window_length):
        df, fs = many_channels
        bucketed = get_psd(df, window_length=window_length, summarize="all",
                           samplerate=fs, n_buckets=3)
        # 'all' used to force per-channel keying whatever n_buckets said
        assert "_b" in bucketed._jdf.queryExecution().analyzed().toString()
        self._same(
            get_psd(df, window_length=window_length, summarize="all",
                    samplerate=fs, n_buckets=None),
            bucketed,
            ["channel_id", "seg", "freq"],
        )

    def test_srs_bucketed(self, spark, many_channels):
        df, fs = many_channels
        # a NULL channel_id is a channel of its own under both keys
        t = np.arange(0, 1.0, 1 / fs)
        null = spark.createDataFrame(
            [(None, float(x), float(np.sin(40.0 * x))) for x in t],
            "channel_id string, t double, value double",
        )
        df = df.select("channel_id", "t", "value").unionByName(null)
        fn = [20.0, 50.0, 100.0]
        per_channel = get_srs(df, freq=fn, n_buckets=None)
        assert per_channel.filter(F.col("channel_id").isNull()).count() == len(fn)
        self._same(
            per_channel,
            get_srs(df, freq=fn, n_buckets=3),
            ["channel_id", "freq"],
        )
        # 48 kHz: mean(diff(t)) carries more than 9 decimals, so a
        # rounded rate would move the bucketed bits
        rng = np.random.default_rng(8)
        t48 = np.arange(4800) / 48000.0
        fast = make_signals(
            spark, {f"k{i}": (t48, rng.standard_normal(len(t48))) for i in range(6)}
        )
        self._same(
            get_srs(fast, n_buckets=None),
            get_srs(fast, n_buckets=3),
            ["channel_id", "freq"],
        )

    def test_psd_explicit_rate_is_used_as_given(self, spark):
        # int(round(1/3, 9) * 30) is 9, int(1/3 * 30) is 10: the bucketed
        # body must segment with the caller's samplerate, not a rounded one
        rng = np.random.default_rng(5)
        t = np.arange(100) * 3.0
        chans = {f"s{i:02d}": (t, rng.standard_normal(len(t))) for i in range(12)}
        df = make_signals(spark, chans)
        per = get_psd(df, window_length=30.0, samplerate=1 / 3, n_buckets=None)
        assert per.count() == 12 * 5
        self._same(
            per,
            get_psd(df, window_length=30.0, samplerate=1 / 3, n_buckets=3),
            ["channel_id", "freq"],
        )

    @pytest.fixture(scope="class")
    def hourly(self, spark):
        # epoch-magnitude hourly grid: every diff is exactly 3600.0
        rng = np.random.default_rng(6)
        t = 1.7e9 + np.arange(300) * 3600.0
        chans = {f"h{i:02d}": (t, rng.standard_normal(len(t))) for i in range(12)}
        return make_signals(spark, chans)

    def test_hourly_filt_butter_bit_equal(self, spark, hourly):
        hz = 1.0 / 3600.0
        self._same(
            filt_butter(hourly, 0.3 * hz / 2, 4, "lowpass", n_buckets=None),
            filt_butter(hourly, 0.3 * hz / 2, 4, "lowpass", n_buckets=3),
            ["channel_id", "t"],
        )

    def test_hourly_psd_bit_equal(self, spark, hourly):
        self._same(
            get_psd(hourly, window_length=64 * 3600.0, n_buckets=None),
            get_psd(hourly, window_length=64 * 3600.0, n_buckets=3),
            ["channel_id", "freq"],
        )

    def test_long_channels_in_bucket(self, spark, many_channels):
        # Three equal-length channels above the 2,048-sample loop cutover
        # share one bucket with the short ones; each must keep its
        # per-channel bits (long rows used to batch through an FFT helper
        # that matched the 1-D kernel only to rtol 1e-9).
        df, fs = many_channels
        rng = np.random.default_rng(7)
        t = np.arange(5000) / fs
        long = make_signals(
            spark, {f"long{i}": (t, rng.standard_normal(len(t))) for i in range(3)}
        )
        mixed = df.unionByName(long)
        fast = mixed.select("channel_id", (F.col("t") / 96.0).alias("t"), "value")
        for op, src in (
            (lambda d, nb: filt_butter(d, 50.0, 2, "lowpass", n_buckets=nb), mixed),
            (lambda d, nb: filt_a(d, n_buckets=nb), fast),
        ):
            self._same(op(src, None), op(src, 1), ["channel_id", "t"])


class TestBucketedTable:
    def test_bucketed_table_removes_exchange(self, spark, tmp_path):
        # SURVEY §4.2 mitigation (a): a signals table persisted with
        # bucketBy(channel_id) must let per-channel aggregations and
        # grouped kernels run with NO shuffle at all.
        from pandas_sigproc_spark.sources.bucketed import (
            read_signals_bucketed,
            write_signals_bucketed,
        )

        rng = np.random.default_rng(3)
        t = np.arange(0, 1.0, 1 / 200.0)
        chans = {f"b{i}": (t, rng.standard_normal(len(t))) for i in range(6)}
        df = make_signals(spark, chans).drop("ts")
        spark.sql(f"CREATE DATABASE IF NOT EXISTS bucketdb LOCATION '{tmp_path}'")
        try:
            write_signals_bucketed(df, "bucketdb.signals_b", n_buckets=4)
            tbl = read_signals_bucketed(spark, "bucketdb.signals_b")

            agg = tbl.groupBy("channel_id").agg(
                F.sqrt(F.avg(F.col("value") * F.col("value"))).alias("rms")
            )
            plan = agg._jdf.queryExecution().executedPlan().toString()
            assert "Exchange" not in plan, plan

            # The unbucketed equivalent DOES shuffle — the contrast that
            # proves the bucket metadata (not the data size) removed it.
            plain = df.groupBy("channel_id").agg(
                F.sqrt(F.avg(F.col("value") * F.col("value"))).alias("rms")
            )
            assert "Exchange" in plain._jdf.queryExecution().executedPlan().toString()

            # A grouped kernel keyed per channel rides the bucketing too;
            # a bucketed kernel groups by its own ``_b`` and still
            # shuffles, so the layout helps per-channel keying only.
            from pandas_sigproc_spark.operators import rainflow

            def shape(out):
                return out._jdf.queryExecution().executedPlan().toString()

            assert "Exchange" not in shape(rainflow(tbl, n_buckets=None))
            assert "Exchange" in shape(rainflow(tbl, n_buckets=3))

            got = {r.channel_id: r.rms for r in agg.collect()}
            want = {
                cid: float(np.sqrt(np.mean(v**2))) for cid, (_t, v) in chans.items()
            }
            for cid in want:
                assert abs(got[cid] - want[cid]) < 1e-9
        finally:
            spark.sql("DROP TABLE IF EXISTS bucketdb.signals_b")
            spark.sql("DROP DATABASE IF EXISTS bucketdb")
