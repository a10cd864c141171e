"""Overlap-save chunked filtering == whole-channel filtering
(SURVEY.md §7.3.1 hard part 1: channels too big for one task)."""

import numpy as np
import pytest

from pandas_sigproc_spark.kernels.design import a_weighting, butter
from pandas_sigproc_spark.kernels.iir import filtfilt, lfilter
from pandas_sigproc_spark.operators.filters import filt_chunked, settling_length
from tests.conftest import make_signals


@pytest.fixture(scope="module")
def noisy(spark):
    rng = np.random.default_rng(11)
    chans = {}
    for cid, n in [("a", 30_000), ("b", 17_501)]:  # b: ragged last chunk
        t = np.arange(n) / 1000.0
        chans[cid] = (t, rng.standard_normal(n))
    return make_signals(spark, chans), chans


def _col(df, cid):
    pdf = df.filter(df.channel_id == cid).toPandas().sort_values("t")
    return pdf["value"].to_numpy()


def test_chunked_zero_phase_equals_whole(spark, noisy):
    df, chans = noisy
    b, a = butter(2, 0.1, "lowpass")
    out = filt_chunked(df, b, a, zero_phase=True, chunk_rows=4096)
    for cid, (_t, v) in chans.items():
        got = _col(out, cid)
        exp = filtfilt(b, a, v)
        assert len(got) == len(v)
        np.testing.assert_allclose(got, exp, atol=1e-9, rtol=0)


def test_chunked_causal_equals_whole(spark, noisy):
    # A-weighting's 20.6 Hz pole settles in ~66k samples at 48 kHz — the
    # auto overlap correctly refuses an 8k chunk (see
    # test_overlap_must_fit_in_chunk); an explicit 8k overlap decays the
    # state error by (1 - 2*pi*20.6/48e3)^8000 ~ 4e-10, fine at 1e-7.
    df, chans = noisy
    b, a = a_weighting(48000.0)
    out = filt_chunked(
        df, b, a, zero_phase=False, chunk_rows=10_000, overlap_rows=8_000
    )
    for cid, (_t, v) in chans.items():
        got = _col(out, cid)
        exp = lfilter(b, a, v)
        np.testing.assert_allclose(got, exp, atol=1e-7, rtol=0)


def test_chunked_handles_channel_shorter_than_chunk(spark, noisy):
    df, chans = noisy
    b, a = butter(2, 0.2, "highpass")
    out = filt_chunked(df, b, a, zero_phase=True, chunk_rows=1_000_000)
    got = _col(out, "a")
    np.testing.assert_allclose(got, filtfilt(b, a, chans["a"][1]), atol=1e-9)


def test_overlap_must_fit_in_chunk(spark, noisy):
    df, _ = noisy
    b, a = butter(2, 0.001, "lowpass")  # very long settling
    with pytest.raises(ValueError, match="must exceed the overlap"):
        filt_chunked(df, b, a, zero_phase=True, chunk_rows=64)


def test_settling_length_bounds_state_reach():
    b, a = butter(2, 0.1, "lowpass")
    n = settling_length(b, a)
    # impulse response is numerically dead past the settling length
    x = np.zeros(2 * n)
    x[0] = 1.0
    h = lfilter(b, a, x)
    assert np.max(np.abs(h[n:])) < 1e-12


def test_named_ops_chunked_mode(spark, noisy):
    from pandas_sigproc_spark.operators import filt_butter

    df, chans = noisy
    out = filt_butter(
        df, 100.0, 4, "lowpass", chunk_rows=4096, samplerate=1000.0
    )
    got = _col(out, "a")
    b, a = butter(2, 100.0 / 500.0, "lowpass")  # order halved for filtfilt
    np.testing.assert_allclose(got, filtfilt(b, a, chans["a"][1]), atol=1e-9)


def test_named_ops_chunked_requires_samplerate(spark, noisy):
    from pandas_sigproc_spark.operators import filt_a

    df, _ = noisy
    with pytest.raises(ValueError, match="samplerate"):
        filt_a(df, chunk_rows=4096)


def test_chunked_rejects_rate_mismatch(spark):
    # A channel whose true rate disagrees with the declared samplerate
    # produces duplicate/gapped arithmetic indices; the kernel must fail
    # loudly (wrong cutoffs otherwise), per the auto-mode contract
    # (operators/filters.py _resolve_filter_mode).
    from pandas_sigproc_spark.kernels.design import butter as _butter

    rng = np.random.default_rng(3)
    t_ok = np.arange(6000) / 1000.0
    t_slow = np.arange(6000) / 400.0  # true rate 400 Hz, declared 1000
    df = make_signals(
        spark,
        {"ok": (t_ok, rng.standard_normal(6000)),
         "slow": (t_slow, rng.standard_normal(6000))},
    )
    b, a = _butter(2, 0.1, "lowpass")
    out = filt_chunked(df, b, a, zero_phase=True, chunk_rows=2048,
                       samplerate=1000.0)
    with pytest.raises(Exception, match="non-consecutive sample index"):
        out.collect()


def test_chunked_inferred_rate_rejects_dropped_sample(spark):
    # Without a samplerate the index uses the channel's inferred rate;
    # one dropped sample moves the later samples off it, and the grid
    # guard refuses the channel as the whole-channel filter does.
    from pandas_sigproc_spark.kernels.design import butter as _butter

    t = np.delete(np.arange(6000) / 1000.0, 1000)
    df = make_signals(spark, {"gap": (t, np.sin(t * 7.0))})
    b, a = _butter(2, 0.1, "lowpass")
    out = filt_chunked(df, b, a, zero_phase=True, chunk_rows=2048)
    with pytest.raises(Exception, match="non-consecutive sample index"):
        out.collect()


def test_phantom_tail_group_does_not_crash(spark):
    # Channel length chosen so the forward-overlap duplication puts
    # <= padlen rows into the phantom (last_seg + 1) group: the kernel
    # must skip it (emit nothing) instead of crashing in filtfilt with
    # 'input length must exceed padlen' (r12 review finding, reproduced
    # before the fix).
    import pandas as pd

    from pandas_sigproc_spark.kernels.design import butter
    from pandas_sigproc_spark.kernels.iir import filtfilt
    from pandas_sigproc_spark.operators.filters import filt_chunked

    sr = 100.0
    b, a = butter(2, 0.1, "lowpass")
    L = 4096
    # N % L == L - 1 puts exactly ONE row in the phantom group
    N = 2 * L + (L - 1)
    t = np.arange(N) / sr
    v = np.sin(2 * np.pi * 1.5 * t)
    df = spark.createDataFrame(
        pd.DataFrame({"channel_id": "c", "t": t, "value": v})
    )
    out = (
        filt_chunked(df, b, a, True, L, samplerate=sr)
        .orderBy("t")
        .toPandas()
    )
    assert len(out) == N  # every sample exactly once
    np.testing.assert_allclose(
        out["value"].to_numpy(), filtfilt(b, a, v), atol=1e-9
    )


def test_conflicting_bucket_and_chunk_kwargs_raise(spark):
    import pandas as pd
    import pytest

    from pandas_sigproc_spark.operators.filters import filt_butter

    df = spark.createDataFrame(
        pd.DataFrame(
            {"channel_id": "c", "t": [0.0, 0.01], "value": [0.0, 1.0]}
        )
    )
    with pytest.raises(ValueError, match="not both"):
        filt_butter(
            df, 10.0, 4, "lowpass",
            n_buckets=8, chunk_rows=4096, samplerate=100.0,
        )
