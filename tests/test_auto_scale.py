"""Auto scale-path selection (planner.py): the 100 TB plan is the default.

VERDICT r3 item 3: the scale paths (bucketed batch kernels, overlap-save
chunking, relational PSD segmentation) were opt-in kwargs — a naive user
got one-task-per-channel at any scale.  These tests pin the new default:
with NO kwargs, a fleet of small channels picks the bucketed plan, a huge
channel picks the chunked/segmented plan, and explicit kwargs still win.

Channel geometry is injected via planner.register_stats so the "huge"
cases don't need huge fixtures — the chooser consumes stats, not rows.
"""

import numpy as np
import pandas as pd
import pytest

from pandas_sigproc_spark import planner
from pandas_sigproc_spark.operators import filt_a, filt_butter, get_psd, get_srs


@pytest.fixture(autouse=True)
def _clear_stats_cache():
    planner._STATS_CACHE.clear()
    yield
    planner._STATS_CACHE.clear()


def _sig(spark, n_channels=8, n=64):
    rows = []
    for c in range(n_channels):
        for i in range(n):
            rows.append((f"c{c}", i / 16.0, float(np.sin(i + c))))
    return spark.createDataFrame(
        pd.DataFrame(rows, columns=["channel_id", "t", "value"])
    )


def _plan(df) -> str:
    return df._jdf.queryExecution().analyzed().toString()


def _fake_huge(df):
    planner.register_stats(
        df, planner.ChannelStats(n_channels=2, max_rows=1 << 25, total_rows=1 << 26)
    )


def test_small_fleet_buckets_by_default(spark):
    df = _sig(spark)
    out = filt_butter(df, 0.2, 4, "lowpass", samplerate=16.0)
    assert "_b" in _plan(out), "small-channel corpus should pick the bucketed plan"


def test_huge_channel_chunks_by_default(spark):
    df = _sig(spark)
    _fake_huge(df)
    out = filt_butter(df, 0.2, 4, "lowpass", samplerate=16.0)
    assert "_seg" in _plan(out), "huge channel should pick overlap-save chunking"


def test_huge_channel_without_samplerate_stays_per_channel(spark):
    # Chunk membership is decided relationally before any group sees the
    # time base, so chunking needs an explicit samplerate; without one
    # the per-channel plan (kernel-internal FFT path) stands.
    df = _sig(spark)
    _fake_huge(df)
    out = filt_a(df)
    p = _plan(out)
    assert "_seg" not in p and "_b" not in p


def test_explicit_kwargs_beat_auto(spark):
    df = _sig(spark)
    out = filt_butter(df, 0.2, 4, "lowpass", n_buckets=None)
    p = _plan(out)
    assert "_b" not in p and "_seg" not in p


def test_psd_segments_huge_channel_by_default(spark):
    df = _sig(spark)
    _fake_huge(df)
    out = get_psd(df, window_length=2.0, samplerate=16.0)
    assert "_seg" in _plan(out)


def test_psd_buckets_small_fleet_by_default(spark):
    df = _sig(spark)
    out = get_psd(df, window_length=2.0, samplerate=16.0)
    assert "_b" in _plan(out)


def test_srs_buckets_small_fleet_and_keys_huge_per_channel(spark):
    df = _sig(spark)
    out = get_srs(df, freq=[0.5, 1.0], quality_factor=10.0)
    assert "_b" in _plan(out)
    planner._STATS_CACHE.clear()
    _fake_huge(df)
    out2 = get_srs(df, freq=[0.5, 1.0], quality_factor=10.0)
    p2 = _plan(out2)
    assert "_b" not in p2 and "slice_id" not in p2


def test_auto_matches_per_channel_bits(spark):
    # The bucketed batch kernels are bit-identical to per-channel
    # execution for short channels (kernels/iir_batch loop-cutover rule),
    # so auto-selection can never change results.
    df = _sig(spark)
    auto = filt_butter(df, 0.2, 4, "lowpass", samplerate=16.0).toPandas()
    per = filt_butter(df, 0.2, 4, "lowpass", n_buckets=None).toPandas()
    key = ["channel_id", "t"]
    a = auto.sort_values(key).reset_index(drop=True)
    b = per.sort_values(key).reset_index(drop=True)
    assert (a["value"].to_numpy() == b["value"].to_numpy()).all()


def test_rainflow_auto_chunks_huge_and_buckets_small(spark):
    from pandas_sigproc_spark.operators.rainflow import rainflow

    df = _sig(spark)
    out = rainflow(df, ndigits=2)
    assert "_b" in _plan(out)
    planner._STATS_CACHE.clear()
    _fake_huge(df)
    out2 = rainflow(df, ndigits=2)
    p2 = _plan(out2)
    assert "_b" not in p2 and "_seg" in p2


def test_auto_with_tiebreak_warns_on_huge_channel(spark):
    # chunk_rows="auto" + tiebreak_col deliberately degrades to the
    # single-task whole-channel window plan (the arithmetic sample index
    # cannot disambiguate duplicate timestamps) — but above the
    # huge-channel threshold that degradation must be LOUD, because it
    # is exactly the single-task risk auto mode exists to remove.
    import warnings

    from pandas_sigproc_spark.operators.windows import mov_rms

    df = _sig(spark)
    _fake_huge(df)
    with warnings.catch_warnings(record=True) as rec:
        warnings.simplefilter("always")
        out = mov_rms(df, 0.5, 16.0, tiebreak_col="value")
    msgs = [str(w.message) for w in rec]
    assert any("single-task whole-channel window" in m for m in msgs), msgs
    assert "_seg" not in _plan(out)  # window plan, as documented

    # small fleet: same call stays quiet (nothing at risk).  A different
    # channel count changes the plan's semanticHash, so df2 does NOT
    # reuse the fake-huge stats registered for df above.
    df2 = _sig(spark, n_channels=4)
    with warnings.catch_warnings(record=True) as rec2:
        warnings.simplefilter("always")
        mov_rms(df2, 0.5, 16.0, tiebreak_col="value")
    assert not [w for w in rec2 if "single-task" in str(w.message)]


@pytest.mark.parametrize(
    ("n_channels", "max_rows"),
    [(320, 1024), (2, 1024), (100_000, planner.SMALL_CHANNEL_ROWS)],
)
def test_fleet_buckets_one_group_per_task_slot(spark, n_channels, max_rows):
    # One group per task slot (320 x 1,024 at P=4 gives 4), capped at one
    # channel per group (2 channels give 2 buckets); a fleet whose rows
    # pass P x HUGE_CHANNEL_ROWS gets a multiple of P, at most
    # HUGE_CHANNEL_ROWS rows per group on average.
    p = spark.sparkContext.defaultParallelism
    df = _sig(spark)
    total = n_channels * max_rows
    planner.register_stats(df, planner.ChannelStats(n_channels, max_rows, total))
    k, chunk = planner.auto_filter_mode(df, 16.0)
    assert chunk is None
    if total <= p * planner.HUGE_CHANNEL_ROWS:
        assert k == min(p, n_channels)
    else:
        assert k % p == 0 and k > p
        assert total / k <= planner.HUGE_CHANNEL_ROWS
    assert planner.auto_psd_mode(df, 16.0, 2.0) == (k, False)
    assert planner.auto_srs_mode(df) == (k, 1)
    assert planner.auto_rainflow_mode(df) == (k, None)
