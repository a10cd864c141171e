"""Property-based tests (SURVEY.md §5.2 item 3), hypothesis-driven at the
kernel level (fast, no JVM) plus a few seeded Spark-level invariants."""

import math

import numpy as np
import pytest
from hypothesis import example, given, settings, strategies as st

from pandas_sigproc_spark.kernels.design import butter
from pandas_sigproc_spark.kernels.iir import filtfilt, lfilter
from pandas_sigproc_spark.kernels.rainflow import count_cycles, reversals
from pandas_sigproc_spark.kernels.spectral import welch_psd
from pandas_sigproc_spark.kernels.interp import interp1d

finite = st.floats(
    min_value=-1e6, max_value=1e6, allow_nan=False, allow_infinity=False
)


def _reversals_loop(series):
    """The per-sample loop ``kernels.rainflow.reversals`` replaced."""
    n = len(series)
    if n == 0:
        return []
    if n == 1:
        return [(0, float(series[0]))]
    out = [(0, float(series[0]))]
    prev_sign = 0
    for i in range(1, n):
        d = series[i] - series[i - 1]
        sign = 0 if d == 0 else (1 if d > 0 else -1)
        if sign == 0:
            continue
        if prev_sign != 0 and sign != prev_sign:
            out.append((i - 1, float(series[i - 1])))
        prev_sign = sign
    if out[-1][0] != n - 1:
        out.append((n - 1, float(series[n - 1])))
    return out


class TestKernelProperties:
    @given(
        st.lists(finite, min_size=8, max_size=200),
        st.floats(min_value=0.05, max_value=0.45),
        st.floats(min_value=-5, max_value=5),
    )
    @settings(max_examples=60, deadline=None)
    def test_filter_linearity(self, xs, wn, alpha):
        # L(a*x + y) == a*L(x) + L(y) for IIR filtering
        x = np.asarray(xs)
        y = np.sin(np.arange(len(x)))
        b, a = butter(2, wn, "lowpass")
        lhs = lfilter(b, a, alpha * x + y)
        rhs = alpha * lfilter(b, a, x) + lfilter(b, a, y)
        scale = max(1.0, np.abs(lhs).max())
        np.testing.assert_allclose(lhs / scale, rhs / scale, atol=5e-9)

    @given(st.integers(min_value=0, max_value=150), st.integers(8, 64))
    @settings(max_examples=30, deadline=None)
    def test_filter_time_invariance(self, shift, n):
        # shifting input shifts output (on zero-padded support)
        rng = np.random.default_rng(n)
        x = rng.standard_normal(n)
        b, a = butter(2, 0.25, "lowpass")
        y = lfilter(b, a, np.concatenate([x, np.zeros(shift)]))
        y_shifted = lfilter(b, a, np.concatenate([np.zeros(shift), x]))
        np.testing.assert_allclose(y_shifted[shift:], y[: len(x)], atol=1e-9)

    @given(st.lists(finite, min_size=2, max_size=300))
    @settings(max_examples=60, deadline=None)
    def test_rainflow_count_conservation(self, xs):
        # total half-cycle count == number of reversal intervals
        x = np.asarray(xs)
        revs = reversals(x)
        pairs = count_cycles(x)
        total_halves = round(2 * sum(c for _, c in pairs))
        assert total_halves == max(len(revs) - 1, 0)

    @given(
        st.lists(
            st.one_of(
                st.integers(-3, 3).map(float),
                st.sampled_from([np.nan, np.inf, -np.inf, -0.0]),
                finite,
            ),
            max_size=60,
        )
    )
    @settings(max_examples=300, deadline=None)
    def test_reversals_matches_scalar_loop(self, xs):
        # Plateaus (small integers), NaN, +-inf and -0.0 included.
        x = np.asarray(xs, dtype=np.float64)
        with np.errstate(invalid="ignore"):  # inf - inf in the loop
            got, want = reversals(x), _reversals_loop(x)
        assert [i for i, _ in got] == [i for i, _ in want]
        np.testing.assert_array_equal([v for _, v in got], [v for _, v in want])

    @given(st.integers(2, 6), st.integers(100, 1000))
    @settings(max_examples=20, deadline=None)
    def test_welch_summarize_ordering(self, nwin, n):
        rng = np.random.default_rng(nwin * n)
        x = rng.standard_normal(n)
        fs = 100.0
        wl = n // nwin
        args = dict(window_length=wl / fs, overlap=0.5)
        _, pmin = welch_psd(x, fs, summarize="min", **args)
        _, pmean = welch_psd(x, fs, summarize="mean", **args)
        _, pmax = welch_psd(x, fs, summarize="max", **args)
        assert np.all(pmin <= pmean + 1e-15) and np.all(pmean <= pmax + 1e-15)

    @given(st.lists(finite, min_size=2, max_size=100, unique=True))
    @settings(max_examples=60, deadline=None)
    def test_interp_identity_on_own_grid(self, xs):
        x = np.sort(np.asarray(xs))
        y = np.cos(np.arange(len(x)))
        out = interp1d(x, y, x, kind="linear")
        np.testing.assert_allclose(out, y, rtol=1e-12, atol=1e-12)


class TestSparkInvariants:
    def test_between_timeshift_commute(self, spark):
        from pandas_sigproc_spark.operators import between, timeshift
        from tests.conftest import make_signals

        rng = np.random.default_rng(2)
        t = np.sort(rng.uniform(0, 100, 500))
        df = make_signals(spark, {"c": (t, rng.standard_normal(500))})
        a = (
            timeshift(between(df, 20.0, 60.0), 5.0)
            .toPandas()
            .sort_values("t")
            .reset_index(drop=True)
        )
        b = (
            between(timeshift(df, 5.0), 25.0, 65.0)
            .toPandas()
            .sort_values("t")
            .reset_index(drop=True)
        )
        assert np.allclose(a["t"], b["t"]) and np.allclose(a["value"], b["value"])

    def test_resample_roundtrip_identity(self, spark):
        from pandas_sigproc_spark.operators import resample
        from tests.conftest import make_signals

        # resampling a uniform channel at its own rate ~ identity
        t = np.arange(0, 2.0, 0.01)
        v = np.sin(2 * np.pi * 3 * t)
        df = make_signals(spark, {"c": (t, v)})
        out = resample(df, 100.0).toPandas().sort_values("t")
        np.testing.assert_allclose(out["value"], np.sin(2 * np.pi * 3 * out["t"]), atol=1e-9)

    def test_shuffle_partition_invariance(self, spark):
        from pandas_sigproc_spark.operators import mov_rms
        from tests.conftest import make_signals

        rng = np.random.default_rng(4)
        t = np.arange(0, 5.0, 0.01)
        chans = {f"c{i}": (t, rng.standard_normal(len(t))) for i in range(4)}
        df = make_signals(spark, chans)
        a = (
            mov_rms(df.repartition(1), 0.1, samplerate=100.0)
            .toPandas()
            .sort_values(["channel_id", "t"])
            .reset_index(drop=True)
        )
        b = (
            mov_rms(df.repartition(16), 0.1, samplerate=100.0)
            .toPandas()
            .sort_values(["channel_id", "t"])
            .reset_index(drop=True)
        )
        np.testing.assert_allclose(a["value"], b["value"], rtol=1e-12)


class TestFusedStageProperties:
    """NumPy-level invariants of the fused window-math stages (no Spark)."""

    @given(
        st.lists(st.floats(-1e3, 1e3), min_size=20, max_size=400),
        st.integers(2, 10),
    )
    # A near-silent window just after a spike: a difference of running
    # sums cancels here (5e-6 relative); a sum of the window's own
    # samples does not.
    @example([1e3] * 3 + [1e-3] * 17, 5)
    @settings(max_examples=60, deadline=None)
    def test_mov_rms_within_bound_of_exact_root(self, xs, n):
        from pandas_sigproc_spark.pipeline.fused import _MovRmsStage

        y = np.asarray(xs, dtype=np.float64)
        sr = 100.0
        t = np.arange(len(y)) / sr
        tt, m, _ = _MovRmsStage(n / sr, drop_last=False, samplerate=sr).run(t, y, sr)
        exact = np.array(
            [math.sqrt(math.fsum(y[i - n + 1 : i + 1] ** 2) / n) for i in range(n - 1, len(y))]
        )
        assert len(m) == len(exact)
        # The bound of tests/test_mov_rms_kernel.py, which derives it.
        bound = (n.bit_length() + 2) * 2.0**-51
        assert (np.abs(m - exact) <= bound * exact).all()

    @given(st.lists(st.floats(-1e3, 1e3), min_size=4, max_size=300))
    @settings(max_examples=60, deadline=None)
    def test_detrend_linear_removes_any_line(self, xs):
        from pandas_sigproc_spark.pipeline.fused import _DetrendStage

        y = np.asarray(xs, dtype=np.float64)
        t = np.arange(len(y)) / 50.0
        stage = _DetrendStage("linear")
        _, base, _ = stage.run(t, y, 50.0)
        _, shifted, _ = stage.run(t, y + 3.5 + 2.0 * t, 50.0)
        np.testing.assert_allclose(base, shifted, rtol=1e-7, atol=1e-7)

    @given(st.lists(st.floats(-100, 100), min_size=3, max_size=200))
    @settings(max_examples=60, deadline=None)
    def test_derivative_of_integral_recovers_midpoint_mean(self, xs):
        from pandas_sigproc_spark.pipeline.fused import (
            _DerivativeStage,
            _IntegralStage,
        )

        y = np.asarray(xs, dtype=np.float64)
        t = np.arange(len(y)) / 10.0
        ti, I, _ = _IntegralStage().run(t, y, 10.0)
        tm, d, _ = _DerivativeStage().run(ti, I, 10.0)
        # d/dt of the cumulative trapezoid at midpoints = segment mean
        np.testing.assert_allclose(d, (y[1:] + y[:-1]) / 2.0, rtol=1e-9, atol=1e-9)


class TestConnectedComponentsProperties:
    def test_partition_invariance_and_random_graphs(self, spark):
        # Iterative min-label propagation must give identical components
        # however the edges are partitioned, and must agree with a plain
        # union-find golden on random graphs.
        import pandas as pd

        from pandas_sigproc_spark.operators import connected_components

        rng = np.random.default_rng(9)
        for trial in range(3):
            n = 60
            m = 45
            src = rng.integers(0, n, m)
            dst = rng.integers(0, n, m)
            edges_pd = pd.DataFrame({"src": src, "dst": dst})

            # union-find golden
            parent = list(range(n))

            def find(x):
                while parent[x] != x:
                    parent[x] = parent[parent[x]]
                    x = parent[x]
                return x

            for s, d in zip(src, dst):
                rs, rd = find(int(s)), find(int(d))
                if rs != rd:
                    parent[max(rs, rd)] = min(rs, rd)
            golden = {}
            for v in set(src) | set(dst):
                golden[int(v)] = find(int(v))
            # canonical: min id per component
            comp_min = {}
            for v, r in golden.items():
                comp_min.setdefault(r, v)
                comp_min[r] = min(comp_min[r], v)
            golden = {v: comp_min[r] for v, r in golden.items()}

            edges = spark.createDataFrame(edges_pd)
            # local_threshold=0 forces the iterative min-propagation path;
            # the default exercises the single-task union-find collapse —
            # both must agree with the golden under any partitioning.
            for parts in (1, 16):
                for thresh in (0, 1_000_000):
                    got = {
                        r.id: r.component
                        for r in connected_components(
                            edges.repartition(parts), local_threshold=thresh
                        ).collect()
                    }
                    assert got == golden, (trial, parts, thresh)
