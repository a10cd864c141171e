"""Pure-NumPy kernel tests against analytic anchors (no Spark needed).

Anchors per FIXTURES.md / SURVEY.md §5.2: Butterworth -3 dB at cutoff,
A-weighting curve values from IEC 61672, Parseval for the periodogram,
the ASTM E1049-85 worked rainflow example, spline exactness on cubics.
"""

import numpy as np
import pytest

from pandas_sigproc_spark.kernels import (
    a_weighting,
    bilinear_tf,
    butter,
    cfc_coefficients,
    count_cycles,
    filtfilt,
    get_window,
    interp1d,
    interp1d_loglog,
    lfilter,
    lfilter_zi,
    periodogram,
    srs,
    build_freq_array,
    welch_psd,
)
from pandas_sigproc_spark.kernels.iir import _lfilter_loop
from pandas_sigproc_spark.kernels.rainflow import extract_cycles
from pandas_sigproc_spark.kernels.srs import (
    _BLOCK_BYTES,
    smallwood_coefficients,
    srs_multi,
)


def freq_response(b, a, w):
    """|H(e^jw)| evaluated at normalized radian frequencies w."""
    zinv = np.exp(-1j * np.asarray(w))
    num = np.polyval(b[::-1], zinv)
    den = np.polyval(a[::-1], zinv)
    return np.abs(num / den)


class TestButter:
    def test_lowpass_dc_and_cutoff(self):
        for order in (1, 2, 3, 4, 6):
            b, a = butter(order, 0.3, "lowpass")
            h = freq_response(b, a, [0.0, 0.3 * np.pi, np.pi])
            assert h[0] == pytest.approx(1.0, abs=1e-9)
            assert h[1] == pytest.approx(1.0 / np.sqrt(2.0), rel=1e-6)
            assert h[2] < 1e-3

    def test_highpass(self):
        b, a = butter(4, 0.4, "highpass")
        h = freq_response(b, a, [0.0, 0.4 * np.pi, np.pi])
        assert h[0] < 1e-9
        assert h[1] == pytest.approx(1.0 / np.sqrt(2.0), rel=1e-6)
        assert h[2] == pytest.approx(1.0, abs=1e-9)

    def test_bandpass_and_bandstop(self):
        b, a = butter(2, [0.2, 0.5], "bandpass")
        # -3 dB at both edges, ~unity in the middle (geometric center).
        edges = freq_response(b, a, [0.2 * np.pi, 0.5 * np.pi])
        assert edges == pytest.approx([1 / np.sqrt(2)] * 2, rel=1e-5)
        b, a = butter(2, [0.2, 0.5], "bandstop")
        edges = freq_response(b, a, [0.2 * np.pi, 0.5 * np.pi])
        assert edges == pytest.approx([1 / np.sqrt(2)] * 2, rel=1e-5)
        assert freq_response(b, a, [0.0, np.pi]) == pytest.approx([1.0, 1.0], abs=1e-9)

    def test_monotone_passband(self):
        b, a = butter(5, 0.25, "lowpass")
        w = np.linspace(0.0, np.pi, 512)
        h = freq_response(b, a, w)
        assert np.all(np.diff(h) < 1e-9)  # maximally flat & monotone


class TestLfilter:
    def test_fast_path_matches_loop(self):
        rng = np.random.default_rng(42)
        x = rng.standard_normal(20_000)
        b, a = butter(4, 0.1, "lowpass")
        y_fast = lfilter(b, a, x)
        y_loop = _lfilter_loop(b, a, x)
        np.testing.assert_allclose(y_fast, y_loop, rtol=1e-9, atol=1e-12)

    def test_fir_path(self):
        rng = np.random.default_rng(0)
        x = rng.standard_normal(10_000)
        b = np.array([0.25, 0.5, 0.25])
        y = lfilter(b, [1.0], x)
        np.testing.assert_allclose(y, _lfilter_loop(b, np.array([1.0]), x), rtol=1e-10)

    def test_zi_step_response(self):
        # With zi = lfilter_zi * x0, a step input yields a flat output at
        # the DC gain from sample 0 (the standard lfilter_zi property).
        b, a = butter(2, 0.2, "lowpass")
        zi = lfilter_zi(b, a)
        y, zf = _lfilter_loop(b, a, np.ones(100), zi=zi.copy())
        np.testing.assert_allclose(y, np.ones(100), rtol=1e-9)

    def test_zi_long_input_fast_path(self):
        rng = np.random.default_rng(7)
        x = rng.standard_normal(30_000)
        b, a = butter(2, 0.15, "lowpass")
        zi = lfilter_zi(b, a) * x[0]
        y_fast, zf_fast = lfilter(b, a, x, zi=zi.copy())
        y_loop, zf_loop = _lfilter_loop(b, a, x, zi=zi.copy())
        np.testing.assert_allclose(y_fast, y_loop, rtol=1e-8, atol=1e-10)
        np.testing.assert_allclose(zf_fast, zf_loop, rtol=1e-7, atol=1e-9)


class TestFiltfilt:
    def test_zero_phase_passband_sine(self):
        fs = 1000.0
        t = np.arange(0, 2.0, 1 / fs)
        x = np.sin(2 * np.pi * 5.0 * t)
        b, a = butter(2, 50.0 / (fs / 2), "lowpass")
        y = filtfilt(b, a, x)
        # Deep in the passband: no amplitude loss, no phase shift.
        core = slice(100, -100)
        np.testing.assert_allclose(y[core], x[core], atol=2e-3)

    def test_cutoff_attenuation_is_squared(self):
        fs = 1000.0
        t = np.arange(0, 4.0, 1 / fs)
        f_c = 50.0
        x = np.sin(2 * np.pi * f_c * t)
        b, a = butter(4, f_c / (fs / 2), "lowpass")
        y = filtfilt(b, a, x)
        amp = np.sqrt(2.0) * np.sqrt(np.mean(y[500:-500] ** 2))
        assert amp == pytest.approx(0.5, rel=2e-2)  # (-3 dB)^2 = -6 dB


class TestCfc:
    def test_dc_gain_unity(self):
        b, a = cfc_coefficients(1000.0, 20_000.0)
        assert freq_response(b, a, [0.0])[0] == pytest.approx(1.0, rel=1e-9)

    def test_attenuates_high_freq(self):
        b, a = cfc_coefficients(60.0, 10_000.0)
        h = freq_response(b, a, [2 * np.pi * 1000.0 / 10_000.0])
        assert h[0] < 0.1


class TestAWeighting:
    @pytest.mark.parametrize(
        "freq,expected_db,tol_db",
        # 10 kHz sits near Nyquist/2.4: the bilinear transform (used by the
        # reference via scipy.signal.bilinear) warps the analog -2.5 dB down
        # to ~-3.7 dB; IEC 61672 class-1 tolerance there is +2.6/-3.6 dB.
        [(100.0, -19.1, 0.5), (1000.0, 0.0, 0.2), (10_000.0, -2.5, 1.5)],
    )
    def test_iec_curve(self, freq, expected_db, tol_db):
        fs = 48_000.0
        b, a = a_weighting(fs)
        h = freq_response(b, a, [2 * np.pi * freq / fs])[0]
        assert 20 * np.log10(h) == pytest.approx(expected_db, abs=tol_db)

    def test_bilinear_tf_same_design(self):
        # Building the same analog prototype through bilinear_tf matches.
        f1, f2, f3, f4, a1000 = 20.598997, 107.65265, 737.86223, 12194.217, 1.9997
        pi = np.pi
        nums = [(2 * pi * f4) ** 2 * 10 ** (a1000 / 20), 0, 0, 0, 0]
        dens = np.polymul(
            [1, 4 * pi * f4, (2 * pi * f4) ** 2], [1, 4 * pi * f1, (2 * pi * f1) ** 2]
        )
        dens = np.polymul(np.polymul(dens, [1, 2 * pi * f3]), [1, 2 * pi * f2])
        b1, a1 = bilinear_tf(nums, dens, 48_000.0)
        b2, a2 = a_weighting(48_000.0)
        w = np.linspace(0.001, np.pi, 64)
        np.testing.assert_allclose(
            freq_response(b1, a1, w), freq_response(b2, a2, w), rtol=1e-6
        )


class TestSpectral:
    def test_parseval_periodogram(self):
        rng = np.random.default_rng(42)
        fs = 1000.0
        x = rng.standard_normal(4096)
        f, pxx = periodogram(x, fs, "boxcar", detrend=False)
        df = f[1] - f[0]
        assert np.sum(pxx) * df == pytest.approx(np.mean(x ** 2), rel=1e-9)

    def test_sine_peak_location_and_power(self):
        fs = 2048.0
        t = np.arange(0, 4.0, 1 / fs)
        x = np.sin(2 * np.pi * 128.0 * t)
        f, pxx = periodogram(x, fs, "boxcar", detrend="constant")
        assert f[np.argmax(pxx)] == pytest.approx(128.0)
        df = f[1] - f[0]
        assert np.sum(pxx) * df == pytest.approx(0.5, rel=1e-6)

    def test_welch_parseval_noise(self):
        rng = np.random.default_rng(42)
        fs = 4096.0
        x = rng.standard_normal(int(fs) * 8)
        f, pxx = welch_psd(x, fs, window_length=1.0, overlap=0.5, window_type="hann")
        rms = np.sqrt(np.trapz(pxx, f))
        assert rms == pytest.approx(1.0, rel=0.02)

    def test_summarize_modes_order(self):
        rng = np.random.default_rng(1)
        fs = 1024.0
        x = rng.standard_normal(int(fs) * 8) * np.linspace(0.5, 2.0, int(fs) * 8)
        out = {
            mode: welch_psd(x, fs, 1.0, summarize=mode)[1]
            for mode in ("min", "median", "mean", "max")
        }
        assert np.all(out["min"] <= out["median"] + 1e-12)
        assert np.all(out["min"] <= out["mean"] + 1e-12)
        assert np.all(out["mean"] <= out["max"] + 1e-12)
        f, allp = welch_psd(x, fs, 1.0, summarize="all")
        assert allp.ndim == 2

    def test_max_rms_and_damage_scaling(self):
        rng = np.random.default_rng(2)
        fs = 1024.0
        x = rng.standard_normal(int(fs) * 8) * np.linspace(0.5, 2.0, int(fs) * 8)
        f, mean_p = welch_psd(x, fs, 1.0, summarize="mean")
        _, maxrms_p = welch_psd(x, fs, 1.0, summarize="max rms")
        _, dmg_p = welch_psd(x, fs, 1.0, summarize="damage")
        # Both are scalar multiples of the mean PSD, and >= it for this
        # non-stationary input.
        ratio = maxrms_p / mean_p
        assert np.allclose(ratio, ratio[0])
        assert ratio[0] > 1.0
        ratio_d = dmg_p / mean_p
        assert np.allclose(ratio_d, ratio_d[0])
        assert ratio_d[0] > 1.0

    def test_windows(self):
        for wt in ("boxcar", "hann", "hamming", "blackman", "bartlett", "flattop"):
            w = get_window(wt, 64)
            assert len(w) == 64 and np.all(np.isfinite(w))
        # Periodic hann: w[0] == 0, symmetric about n/2.
        w = get_window("hann", 8)
        assert w[0] == 0.0
        np.testing.assert_allclose(w[1:], w[1:][::-1], atol=1e-15)

    @pytest.mark.parametrize("detrend", ["linear", "constant", False])
    def test_stacked_welch_segments_bit_equal_solo(self, detrend):
        # A bucketed PSD stacks the Welch segments of every channel in its
        # bucket into one periodogram call; no channel's bits may depend
        # on how many neighbours share the stack.
        fs, wl = 1000.0, 0.256
        rng = np.random.default_rng(23)
        t = np.arange(1000) / fs
        chans = [rng.standard_normal(len(t)) + 3.0 * t * i for i in range(23)]
        n = int(fs * wl)
        segs = np.stack([c[s : s + n] for c in chans for s in range(0, 1000 - n + 1, n // 2)])
        freq, stacked = periodogram(segs, fs, "hann", detrend, axis=1)
        per = len(stacked) // len(chans)
        for i, c in enumerate(chans):
            f, solo = welch_psd(c, fs, wl, summarize="all", detrend=detrend)
            assert (stacked[i * per : (i + 1) * per][:, freq > 0] == solo).all()


class TestSrs:
    def test_freq_array_octave_spacing(self):
        f = build_freq_array()
        assert f[0] == 10.0
        np.testing.assert_allclose(f[1:] / f[:-1], 2 ** (1 / 12), rtol=1e-12)
        assert f[-1] > 1000.0 and f[-2] <= 1000.0

    def test_high_freq_asymptote_half_sine(self):
        # For oscillators much stiffer than the pulse, the peak response
        # approaches the peak input acceleration.
        fs = 20_000.0
        t = np.arange(0, 0.5, 1 / fs)
        pulse_dur = 0.011
        accel = np.where(t < pulse_dur, np.sin(np.pi * t / pulse_dur), 0.0)
        fn = np.array([2000.0, 3000.0, 4000.0])
        pos, neg = srs(t, accel, fn, quality_factor=50.0)
        env = np.maximum(pos, neg)
        np.testing.assert_allclose(env, 1.0, rtol=0.05)

    def test_batch_matches_per_freq_lfilter(self):
        # the reference's form: one causal lfilter per frequency
        rng = np.random.default_rng(3)
        fs = 5000.0
        t = np.arange(0, 1.0, 1 / fs)
        accel = rng.standard_normal(len(t))
        fn = build_freq_array(10, 100)
        pos_b, neg_b = srs(t, accel, fn)
        b, a = smallwood_coefficients(fn, float(np.mean(np.diff(t))), 50.0)
        ys = [lfilter(b[i], a[i], accel) for i in range(len(fn))]
        np.testing.assert_allclose(pos_b, [y.max() for y in ys], rtol=1e-9)
        np.testing.assert_allclose(neg_b, [abs(y.min()) for y in ys], rtol=1e-9)


def _sdof_responses_loop(accel, b, a):
    """One channel's peak +/- responses, the recursion written out per
    sample (direct form II transposed, vectorized over frequencies only)
    — the reference of the flat batched recursion in ``srs_multi``."""
    nf = b.shape[0]
    z1 = np.zeros(nf)
    z2 = np.zeros(nf)
    pos = np.full(nf, -np.inf)
    neg = np.full(nf, np.inf)
    b0, b1, b2 = b[:, 0], b[:, 1], b[:, 2]
    a1, a2 = a[:, 1], a[:, 2]
    for x in accel:
        y = b0 * x + z1
        z1 = b1 * x + z2 - a1 * y
        z2 = b2 * x - a2 * y
        np.maximum(pos, y, out=pos)
        np.minimum(neg, y, out=neg)
    return pos, np.abs(neg)


class TestSrsMulti:
    """``srs_multi`` gives every (channel, frequency) pair the bits of
    the per-sample loop, whatever the batch shape and block cut."""

    @staticmethod
    def _check(X, fn, dt=1 / 20000.0, q=50.0):
        pos, neg = srs_multi(X, dt, fn, q)
        assert pos.shape == neg.shape == (len(X), len(fn))
        b, a = smallwood_coefficients(fn, dt, q)
        for row, p, n in zip(X, pos, neg):
            want_p, want_n = _sdof_responses_loop(row, b, a)
            np.testing.assert_array_equal(p, want_p)
            np.testing.assert_array_equal(n, want_n)
            np.testing.assert_array_equal(np.signbit(p), np.signbit(want_p))

    def test_one_row_one_frequency(self):
        rng = np.random.default_rng(11)
        self._check(rng.standard_normal((1, 700)), np.array([250.0]))

    def test_fleet_bucket_default_grid(self):
        rng = np.random.default_rng(12)
        self._check(rng.standard_normal((80, 501)), build_freq_array())

    @pytest.mark.parametrize("offset", [-1, 0, 1, None])
    def test_lengths_around_the_block(self, offset):
        rng = np.random.default_rng(13)
        fn = build_freq_array()
        block = _BLOCK_BYTES // (8 * 80 * len(fn))
        n = 2 * block + 3 if offset is None else block + offset
        self._check(rng.standard_normal((80, n)), fn)

    @pytest.mark.filterwarnings("ignore:invalid value:RuntimeWarning")
    def test_nonfinite_and_signed_zero_inputs(self):
        rng = np.random.default_rng(14)
        X = rng.standard_normal((6, 300))
        X[0, 10] = np.nan
        X[1, 0] = np.inf
        X[2, 150] = -np.inf
        X[3] = -0.0
        X[4, ::7] = -0.0
        X[5, -1] = np.nan
        self._check(X, build_freq_array(10, 100), dt=1e-3, q=10.0)


class TestRainflow:
    # ASTM E1049-85 worked example, same fixture as FIXTURES.md rainflow_std.
    SERIES = np.array([-2, 1, -3, 5, -1, 3, -4, 4, -2], dtype=float)

    def test_astm_worked_example(self):
        assert count_cycles(self.SERIES) == [
            (3.0, 0.5),
            (4.0, 1.5),
            (6.0, 0.5),
            (8.0, 1.0),
            (9.0, 0.5),
        ]

    def test_count_conservation(self):
        rng = np.random.default_rng(5)
        x = rng.standard_normal(1001)
        total = sum(c for _, c in count_cycles(x))
        from pandas_sigproc_spark.kernels.rainflow import reversals

        n_rev = len(reversals(x))
        assert total == pytest.approx((n_rev - 1) / 2.0)

    def test_binning(self):
        out = count_cycles(self.SERIES, nbins=3)
        assert len(out) <= 3
        assert sum(c for _, c in out) == pytest.approx(4.0)
        out2 = count_cycles(self.SERIES, binsize=3.0)
        assert sum(c for _, c in out2) == pytest.approx(4.0)
        out3 = count_cycles(self.SERIES, ndigits=1)
        assert sum(c for _, c in out3) == pytest.approx(4.0)

    def test_mean_values(self):
        cycles = extract_cycles(self.SERIES)
        # First counted cycle in the ASTM example is the (1, -3) pair.
        rng0, mean0, cnt0, _, _ = cycles[0]
        assert (rng0, mean0, cnt0) == (3.0, -0.5, 0.5)


class TestInterp:
    X = np.array([0.0, 1.0, 2.0, 3.0, 4.0, 5.0])

    def test_linear(self):
        y = 2.0 * self.X + 1.0
        np.testing.assert_allclose(
            interp1d(self.X, y, [0.5, 2.25, 4.9]), [2.0, 5.5, 10.8]
        )

    def test_cubic_exact_on_cubic_poly(self):
        # Not-a-knot splines reproduce cubic polynomials exactly.
        y = self.X ** 3 - 2 * self.X ** 2 + 3
        x2 = np.linspace(0, 5, 41)
        np.testing.assert_allclose(
            interp1d(self.X, y, x2, "cubic"), x2 ** 3 - 2 * x2 ** 2 + 3, atol=1e-9
        )

    def test_nearest_half_points(self):
        y = np.array([0.0, 10.0, 20.0, 30.0, 40.0, 50.0])
        assert interp1d(self.X, y, [0.5], "nearest")[0] == 0.0
        assert interp1d(self.X, y, [0.5], "nearest-up")[0] == 10.0
        assert interp1d(self.X, y, [1.2], "nearest")[0] == 10.0
        assert interp1d(self.X, y, [1.8], "nearest")[0] == 20.0

    def test_previous_next_zero(self):
        y = np.array([0.0, 10.0, 20.0, 30.0, 40.0, 50.0])
        assert interp1d(self.X, y, [1.7], "previous")[0] == 10.0
        assert interp1d(self.X, y, [1.2], "next")[0] == 20.0
        assert interp1d(self.X, y, [1.7], "zero")[0] == 10.0
        assert interp1d(self.X, y, [2.0], "zero")[0] == 20.0

    def test_out_of_range_raises(self):
        with pytest.raises(ValueError):
            interp1d(self.X, self.X, [5.1])
        with pytest.raises(ValueError):
            interp1d(self.X, self.X, [-0.1])

    def test_cubic_banded_matches_dense_solve(self):
        # The O(n) substituted/banded not-a-knot solve must agree with the
        # direct dense formulation of the same equations — on uniform grids
        # too (the naive boundary-row fold has a zero pivot there).
        from pandas_sigproc_spark.kernels.interp import _cubic_spline_coeffs

        rng = np.random.default_rng(11)
        for n in (4, 5, 9, 64, 257):
            for x in (
                np.linspace(0.0, 10.0, n),
                np.sort(rng.uniform(0, 10, n)) + np.arange(n) * 1e-3,
            ):
                y = rng.normal(size=n)
                h = np.diff(x)
                A = np.zeros((n, n))
                r = np.zeros(n)
                for i in range(1, n - 1):
                    A[i, i - 1] = h[i - 1]
                    A[i, i] = 2 * (h[i - 1] + h[i])
                    A[i, i + 1] = h[i]
                    r[i] = 6 * (
                        (y[i + 1] - y[i]) / h[i] - (y[i] - y[i - 1]) / h[i - 1]
                    )
                A[0, 0] = h[1]
                A[0, 1] = -(h[0] + h[1])
                A[0, 2] = h[0]
                A[n - 1, n - 3] = h[n - 2]
                A[n - 1, n - 2] = -(h[n - 3] + h[n - 2])
                A[n - 1, n - 1] = h[n - 3]
                np.testing.assert_allclose(
                    _cubic_spline_coeffs(x, y),
                    np.linalg.solve(A, r),
                    rtol=1e-7,
                    atol=1e-8,
                )

    def test_quadratic_exact_on_quadratic_poly(self):
        # A degree-2 spline interpolant reproduces degree-<=2 polynomials
        # exactly, whatever the knot choice.
        rng = np.random.default_rng(3)
        x = np.sort(rng.uniform(0, 10, 40)) + np.arange(40) * 1e-3
        y = 3 * x ** 2 - 2 * x + 0.5
        x2 = np.linspace(x[0], x[-1], 333)
        np.testing.assert_allclose(
            interp1d(x, y, x2, "quadratic"), 3 * x2 ** 2 - 2 * x2 + 0.5, atol=1e-7
        )
        # and passes through the data sites
        np.testing.assert_allclose(interp1d(x, y, x, "quadratic"), y, atol=1e-8)

    def test_quadratic_c1_continuity(self):
        # Quadratic splines are C1: one-sided slopes agree at the knots.
        rng = np.random.default_rng(5)
        x = np.linspace(0.0, 9.0, 37)
        y = rng.normal(size=37)
        eps = 1e-7
        for xo in (0.5 * (x[3] + x[4]), 0.5 * (x[20] + x[21])):
            v = interp1d(x, y, [xo - eps, xo, xo + eps], "quadratic")
            left = (v[1] - v[0]) / eps
            right = (v[2] - v[1]) / eps
            assert abs(left - right) < 1e-3

    def test_loglog(self):
        # Power law y = x^-1.5 is linear in log-log: interp is exact.
        x = np.array([10.0, 100.0, 1000.0])
        y = x ** -1.5
        x2 = np.array([20.0, 300.0])
        np.testing.assert_allclose(interp1d_loglog(x, y, x2), x2 ** -1.5, rtol=1e-12)


class TestDegenerateDesigns:
    """Numerically degenerate tf-form designs (|A(e^jw)| beyond float64's
    dynamic range) must take the exact-recursion path everywhere — the
    truncated-IR convolution is catastrophically ill-conditioned for them
    — regardless of signal length or cache temperature."""

    def _design(self):
        from pandas_sigproc_spark.kernels.design import butter

        return butter(6, 0.5 / 24000.0, "highpass")

    def test_short_signal_cold_cache_matches_exact_loop(self):
        from pandas_sigproc_spark.kernels import iir as I

        b, a = self._design()
        rng = np.random.default_rng(2)
        x = rng.standard_normal(3000)  # > _LOOP_CUTOVER, <= 4096 fast path
        I._IR_CACHE.clear()
        got = I.lfilter(b, a, x)
        want = I._lfilter_loop(b, a, x)
        np.testing.assert_array_equal(got, want)

    def test_batch_short_cold_cache_matches_exact_loop(self):
        from pandas_sigproc_spark.kernels import iir as I
        from pandas_sigproc_spark.kernels import iir_batch as IB

        b, a = self._design()
        rng = np.random.default_rng(3)
        X = rng.standard_normal((4, 3000))
        I._IR_CACHE.clear()
        got = IB.lfilter_batch_ragged(b, a, list(X))
        for row in range(4):
            np.testing.assert_array_equal(got[row], I._lfilter_loop(b, a, X[row]))

    def test_settling_length_refuses(self):
        from pandas_sigproc_spark.operators.filters import settling_length

        b, a = self._design()
        with pytest.raises(ValueError, match="degenerate"):
            settling_length(b, a)

    def test_partial_cache_never_serves_full_decay_request(self):
        # A short-signal call caches a 4096-tap PREFIX of A-weighting's
        # 256k-sample impulse response; a later long-signal call must not
        # be served that truncation.
        from pandas_sigproc_spark.kernels import iir as I
        from pandas_sigproc_spark.kernels.design import a_weighting

        ba, aa = a_weighting(48000.0)
        rng = np.random.default_rng(4)
        I._IR_CACHE.clear()
        I.lfilter(ba, aa, rng.standard_normal(2500))  # seeds partial cache
        x = rng.standard_normal(60_000)
        got = I.lfilter(ba, aa, x)
        want = I._lfilter_loop(ba, aa, x)
        rel = np.abs(got - want).max() / np.abs(want).max()
        assert rel < 1e-7


class TestCacheTemperatureDeterminism:
    """lfilter output must be a pure function of (b, a, x) — never of
    which other signals the worker filtered first.  The IR cache once
    served an FFT-grown impulse response to a short-signal request that a
    cold worker answers with the exact recursion (~1e-12 relative apart):
    invisible to tolerance tests, but fatal to the engine's bit-equality
    guarantees (bucketed==per-channel, fused==chained), where it surfaced
    as scheduling-dependent test flakes."""

    def _designs(self):
        from pandas_sigproc_spark.kernels.design import butter

        return [butter(4, 400.0 / 2000.0, "lowpass"), butter(2, 0.2, "highpass")]

    def test_short_request_unaffected_by_prior_long(self):
        from pandas_sigproc_spark.kernels import iir as I

        rng = np.random.default_rng(11)
        x_short = rng.standard_normal(3000)   # <= _EXACT_IR_CUTOVER path
        x_long = rng.standard_normal(50_000)  # FFT-growth path
        for b, a in self._designs():
            I._IR_CACHE.clear()
            I._H_FFT_CACHE.clear()
            cold = I.lfilter(b, a, x_short)
            I._IR_CACHE.clear()
            I._H_FFT_CACHE.clear()
            I.lfilter(b, a, x_long)  # warm the FFT-path entries
            warm = I.lfilter(b, a, x_short)
            np.testing.assert_array_equal(cold, warm)

    def test_long_request_unaffected_by_prior_short(self):
        from pandas_sigproc_spark.kernels import iir as I

        rng = np.random.default_rng(12)
        x_short = rng.standard_normal(3000)
        x_long = rng.standard_normal(50_000)
        for b, a in self._designs():
            I._IR_CACHE.clear()
            I._H_FFT_CACHE.clear()
            cold = I.lfilter(b, a, x_long)
            I._IR_CACHE.clear()
            I._H_FFT_CACHE.clear()
            I.lfilter(b, a, x_short)  # warm the exact-path entries
            warm = I.lfilter(b, a, x_long)
            np.testing.assert_array_equal(cold, warm)

    def test_settling_probe_does_not_perturb_later_filtering(self):
        # settling_length() computes the full-decay IR; a later filter of
        # any length must produce the same bytes as without the probe.
        from pandas_sigproc_spark.kernels import iir as I
        from pandas_sigproc_spark.operators.filters import settling_length

        rng = np.random.default_rng(13)
        for n in (3000, 50_000):
            x = rng.standard_normal(n)
            for b, a in self._designs():
                I._IR_CACHE.clear()
                I._H_FFT_CACHE.clear()
                cold = I.lfilter(b, a, x)
                I._IR_CACHE.clear()
                I._H_FFT_CACHE.clear()
                settling_length(b, a)
                warm = I.lfilter(b, a, x)
                np.testing.assert_array_equal(cold, warm)
